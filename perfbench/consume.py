"""consume_backlog: a closed-loop catch-up drain of a pre-written backlog
through the dead-letter consumer, plus the consume-side layer probes of its
traced run."""

from __future__ import annotations

import os
import time
from collections import Counter

import pyarrow.parquet as pq

from perfbench import gen
from perfbench.harness import (
    Run,
    batch_stats,
    data_batches,
    median,
    mismatches,
    progress_dicts,
    stream_layers,
)
from perfbench.produce import producer_costs

# consume_backlog: one drain of an odd number of micro-batches, each one
# file per shard of RECORDS_PER_FILE outer records (~85% KPL blobs of 50
# lines, ~17k lines a batch). An odd count makes batch_p50_ms one batch's
# time. Five batches at --seconds 10, not three: the batch-to-batch spread
# within a run is about as wide as the run-to-run spread, so the median and
# the throughput settle with more batches. The warm-up drains a slice of
# WARM_BATCHES batches once. Its first batch pays the first-run costs (Python
# workers, code generation); the others let the JIT settle: after a one-batch
# warm-up the timed batches still got ~30% faster from the first to the last.
RECORDS_PER_FILE = {"full": 100, "tiny": 4}
BATCH_S = 2.0  # sizes the drain to --seconds (a batch takes about 3 s)
WARM_BATCHES = 3


def backlog_batches(seconds: float) -> int:
    """Batches in the measured drain: a fixed function of --seconds, so
    the work per run does not depend on how fast the run goes."""
    return max(3, int(seconds / BATCH_S)) | 1


# Stateful pass of the traced run: DEDUP_FILES files of DEDUP_RECORDS
# plain records, one file per micro-batch.
DEDUP_FILES = 6
DEDUP_RECORDS = 200
DEDUP_WATERMARK = "10 seconds"


def _read_rows(path: str, columns: list[str]) -> list[tuple]:
    if not os.path.isdir(path):
        return []
    t = pq.read_table(path, columns=columns)
    return list(zip(*(t.column(c).to_pylist() for c in columns)))


def _part_files(path: str) -> list[str]:
    if not os.path.isdir(path):
        return []
    return [
        os.path.join(path, f) for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]


# ---------------------------------------------------------------------------
# consume_backlog
# ---------------------------------------------------------------------------

class Backlog:
    def __init__(self, run: Run) -> None:
        self.run = run
        per_file = RECORDS_PER_FILE[run.size]
        self.src = os.path.join(run.work, "backlog")
        self.truth = gen.write_backlog(self.src, run.seed, backlog_batches(run.seconds), per_file)
        self.warm_src = os.path.join(run.work, "warm-backlog")
        self.warm_truth = gen.write_backlog(self.warm_src, run.seed + 1, WARM_BATCHES, per_file)

    def _drain(self, src: str) -> dict:
        from kitkat_spark.streaming.records import replay_stream
        from kitkat_spark.streaming.sinks import consume_with_dlq

        run = self.run
        good, dlq, ckpt = run.fresh("good"), run.fresh("dlq"), run.fresh("ckpt")
        t0 = time.time()
        q = consume_with_dlq(
            replay_stream(run.spark, src, max_files_per_trigger=gen.N_SHARDS),
            good, dlq, ckpt, compression="zlib", verbose=True,
        )
        q.awaitTermination()
        t1 = time.time()
        return {"t0": t0, "t1": t1, "progress": progress_dicts(q), "good": good, "dlq": dlq}

    def _check(self, d: dict, truth: gen.Backlog) -> tuple[int, int]:
        """(attempted, failed): each planted good line must be in the good
        sink exactly once and each planted bad record in the dead-letter
        sink with its reason."""
        good = Counter(m for (m,) in _read_rows(d["good"], ["message"]))
        dead = Counter(_read_rows(d["dlq"], ["shardId", "sequenceNumber", "reason"]))
        want_dead = {(s, q, r) for (s, q), r in truth.dlq.items()}
        failed = mismatches(good, set(truth.good_lines)) + mismatches(dead, want_dead)
        return len(truth.good_lines) + len(want_dead), failed

    def warm(self) -> None:
        self.run.tally(*self._check(self._drain(self.warm_src), self.warm_truth))

    def measure(self) -> dict:
        d = self._drain(self.src)
        self.run.tally(*self._check(d, self.truth))
        batches = [p["durationMs"]["triggerExecution"] for p in data_batches(d["progress"])]
        return {
            "throughput_per_s": len(self.truth.good_lines) / (d["t1"] - d["t0"]),
            **batch_stats(self.run, batches),
        }

    def trace(self) -> dict:
        """Four drains: the first settles the JIT (the first drain after the
        warm-up runs ~10% slower than later ones) and gives the stream
        layers, as the measured drain would. Then untraced, traced,
        untraced: the traced drain sits in the middle, so drift over the
        run cancels out of the tracing overhead."""
        run = self.run
        drains, walls = [], []
        for traced in (False, False, True, False):
            if traced:
                with run.tracer.span("streaming.sinks.consume_with_dlq"):
                    d = self._drain(self.src)
            else:
                d = self._drain(self.src)
            run.tally(*self._check(d, self.truth))
            drains.append(d)
            walls.append(d["t1"] - d["t0"])
        layers = stream_layers(drains[0]["progress"])
        layers.update(stage_costs(run, self.src, "zlib"))
        layers["streaming.sinks.dlq_rows"] = len(_read_rows(drains[0]["dlq"], ["reason"]))
        layers.update(state_costs(run))
        layers.update(producer_costs(run, self.truth.good_lines))
        layers["bench.trace_overhead_frac"] = walls[2] / median([walls[1], walls[3]]) - 1.0
        return layers


def stage_costs(run: Run, src: str, compression: str | None) -> dict:
    """Materialise each consume stage of the same records to a ``noop``
    sink and take differences (median of three rounds, after one warm
    round so no stage pays first-run costs)."""
    from pyspark.sql import functions as F

    from kitkat_spark.functions.kpl import is_aggregated_col
    from kitkat_spark.streaming.pipeline import decompress, deaggregate, render
    from kitkat_spark.streaming.records import batch_records
    from kitkat_spark.streaming.sinks import classify_records

    df = batch_records(run.spark, src)
    stages = {
        "scan": lambda: df,
        "deagg": lambda: deaggregate(df),
        "inflate": lambda: decompress(deaggregate(df), compression),
        "render": lambda: render(decompress(deaggregate(df), compression), verbose=True),
        "classify": lambda: classify_records(df, compression),
    }
    spans = {
        "scan": "streaming.records.batch_records",
        "deagg": "functions.kpl.deaggregate",
        "inflate": "functions.compression.decompress",
        "render": "streaming.pipeline.render",
        "classify": "streaming.sinks.classify_records",
    }
    times: dict[str, list[float]] = {k: [] for k in stages}
    for rnd in range(4):
        for k, build in stages.items():
            t0 = time.perf_counter()
            with run.tracer.span(spans[k]):
                build().write.format("noop").mode("overwrite").save()
            if rnd:
                times[k].append(time.perf_counter() - t0)
    m = {k: median(v) for k, v in times.items()}
    blobs = df.filter(is_aggregated_col(F.col("data")))
    return {
        "functions.kpl.deagg_s": m["deagg"] - m["scan"],
        "functions.compression.inflate_s": m["inflate"] - m["deagg"],
        "streaming.pipeline.render_s": m["render"] - m["inflate"],
        "streaming.sinks.classify_s": m["classify"] - m["scan"],
        "functions.kpl.blobs_in": blobs.count(),
        "functions.kpl.records_out": deaggregate(blobs).count(),
    }


def state_costs(run: Run) -> dict[str, float]:
    """Stateful layers: consume_transform, then stream_dedup within a
    watermark, then a foreachBatch parquet sink, drained one file per
    micro-batch over plain records with planted re-deliveries. A small
    drain first compiles the stateful plan; the second is measured and
    checked (every record once, re-deliveries removed)."""
    from pyspark.sql import functions as F

    from kitkat_spark.streaming.analytics import stream_dedup
    from kitkat_spark.streaming.pipeline import consume_transform
    from kitkat_spark.streaming.records import replay_stream

    def drain(seed: int, n_files: int) -> tuple[gen.Redelivered, list[dict], str]:
        src, out, ckpt = run.fresh("dedup-src"), run.fresh("dedup-out"), run.fresh("dedup-ckpt")
        truth = gen.write_redelivered(src, seed, n_files, DEDUP_RECORDS)
        rendered = consume_transform(replay_stream(run.spark, src, max_files_per_trigger=1), verbose=True)
        keyed = rendered.withColumn("ts", F.to_timestamp("timestamp"))
        deduped = stream_dedup(
            keyed, keys=["shard_id", "sequence_number"], watermark=DEDUP_WATERMARK, ts_col="ts"
        )

        def sink(batch_df, batch_id: int) -> None:
            batch_df.write.mode("append").parquet(out)

        q = (
            deduped.writeStream.foreachBatch(sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        with run.tracer.span("streaming.analytics.stream_dedup"):
            q.awaitTermination()
        return truth, progress_dicts(q), out

    drain(run.seed + 2, 2)
    truth, progress, out = drain(run.seed + 3, DEDUP_FILES)
    seen = Counter(_read_rows(out, ["shard_id", "sequence_number"]))
    run.tally(len(truth.keys) + len(truth.redelivered), mismatches(seen, truth.keys))
    layers = stream_layers(progress)
    return {k: v for k, v in layers.items() if k.startswith("streaming.analytics.")}
