"""Cache lifetime hygiene (VERDICT r5 item 5).

Several operators persist() optimizer boundaries that outlive the builder
call (the result DataFrame is collected by the caller). Two guarantees keep
a long-lived session from accumulating blocks:

1. ``caches.release_caches`` drops every persisted block (hosts call it
   between queries — tools/stress.py).
2. Every registry entry is wrapped by ``queries._cache_scoped``: invoking
   query N+1 sweeps query N's blocks, so a driver loop that never calls
   release_caches still holds at most one query's working set.
"""

from __future__ import annotations

import os

import pytest

from kitkat_spark.caches import release_caches
from kitkat_spark.queries import QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")

# Three queries whose implementations persist() intermediates
# (dedup.py, similarity.py, textops.py — the sites VERDICT r5 flagged).
CACHING_QUERIES = ["q_near_dedup", "q_embedding_near_dup", "q_winnow_fingerprint"]


def _n_cached(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


@pytest.mark.parametrize("name", CACHING_QUERIES)
def test_release_caches_empties_session(spark, name):
    QUERIES[name](spark, SF_DIR).collect()
    release_caches(spark)
    assert _n_cached(spark) == 0, f"{name} left persisted blocks after release"


def test_back_to_back_queries_do_not_accumulate(spark):
    release_caches(spark)
    high_water = []
    for name in CACHING_QUERIES:
        # entering the next query sweeps the previous one's blocks
        QUERIES[name](spark, SF_DIR).collect()
        high_water.append(_n_cached(spark))
    # The footprint stays at one query's working set instead of accumulating
    # (without the _cache_scoped wrapper this reads [1, 2, 3]). A query whose
    # plan was already cached+released earlier in the session recomputes with
    # storage level NONE and registers 0 new blocks, so the bound is
    # max(first, 1), not strictly high_water[0].
    bound = max(high_water[0], 1)
    assert all(n <= bound for n in high_water), (
        f"cache footprint grew across queries: {high_water}"
    )
    release_caches(spark)
    assert _n_cached(spark) == 0


# ---- Spark's CacheManager is the only cache ----


def test_signature_tables_of_two_sf_dirs_differ(spark):
    """Two fixture dirs served from one session must each get their OWN
    signature table: the two tables disagree on content (different
    corpora), so a plan-cache collision between paths would show."""
    from kitkat_spark.operators.dedup import lsh_signatures_and_candidates

    release_caches(spark)
    sig_a, _ = lsh_signatures_and_candidates(spark, "/root/testdata/sf0.001")
    sig_b, _ = lsh_signatures_and_candidates(spark, "/root/testdata/sf0.01")
    rows_a = {r.doc_id: r.sig for r in sig_a.select("doc_id", "sig").collect()}
    rows_b = {r.doc_id: r.sig for r in sig_b.select("doc_id", "sig").collect()}
    common = set(rows_a) & set(rows_b)
    assert common, "fixtures share doc_ids; path isolation untestable"
    assert any(rows_a[d] != rows_b[d] for d in common), (
        "sf0.001 and sf0.01 signature tables are identical — a plan-cache "
        "collision between paths would be invisible"
    )
    release_caches(spark)


def test_repeated_lsh_calls_share_one_signature_block(spark):
    """The traced near-dup pattern — lsh_signatures_and_candidates, then
    q_near_dedup, repeated on one unchanged path — must hold ONE persisted
    signature block, not one per call: each call plans an equal signature
    table, and the CacheManager serves it from the first block."""
    from kitkat_spark.operators.dedup import lsh_signatures_and_candidates, q_near_dedup

    # drop earlier tests' cache entries too: a released-but-registered plan
    # recomputes at storage level NONE and would register no block at all
    spark.catalog.clearCache()
    release_caches(spark)
    counts = []
    for _ in range(3):
        sig, cand = lsh_signatures_and_candidates(spark, SF_DIR)
        cand.count()
        q_near_dedup(spark, SF_DIR).collect()
        counts.append(_n_cached(spark))
    assert counts == [1, 1, 1], f"persisted blocks per repetition: {counts}"
    release_caches(spark)


def test_rewrite_in_place_returns_the_new_answer(spark, tmp_path):
    """A corpus rewritten in place (outside Spark) at the same path must get
    the same answers as a fresh path holding the new files — never the
    answers persisted from the old files."""
    from perfbench.gen import write_corpus

    from kitkat_spark.operators.corpus import q_canonical_docs, q_dedup_clusters
    from kitkat_spark.operators.dedup import q_near_dedup

    def answers(d):
        return [
            sorted(tuple(r) for r in q(spark, d).collect())
            for q in (q_near_dedup, q_dedup_clusters, q_canonical_docs)
        ]

    path, fresh = str(tmp_path / "corpus"), str(tmp_path / "fresh")
    write_corpus(path, seed=11, n_docs=300)
    old = answers(path)
    write_corpus(path, seed=12, n_docs=300)
    write_corpus(fresh, seed=12, n_docs=300)
    new = answers(path)
    assert new != old, "seeds 11 and 12 give the same answers; test is blind"
    assert new == answers(fresh)
    release_caches(spark)
