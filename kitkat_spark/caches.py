"""Query-local cache lifetimes.

Operators ``persist()`` true optimizer boundaries — near-dedup's signature
table (operators/dedup.py), the embedding index (operators/similarity.py),
the KPL blob fixture (operators/payloads.py) — because without the boundary
Catalyst re-inlines the expensive hash subtree into every consumer (the
projection-collapse pathology, see functions/text.py make_minhash_udf).
Within one query run those caches pay for themselves; across a long-lived
driver session running MANY queries the blocks would otherwise accumulate
executor memory.

Hosts that run many queries per session (tools/stress.py, a driver loop)
call :func:`release_caches` between queries. It drops the materialized
blocks — ``localCheckpoint`` ones included, which ``clearCache()`` leaves
behind — but leaves Catalyst's cache INTENT registered, so a plan that is
built again later (e.g. payloads.build_kpl_blobs) transparently
re-materializes on its next action instead of silently losing its
optimizer boundary.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def release_caches(spark: SparkSession) -> None:
    """Unpersist every cached/localCheckpoint'ed block in the session."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
