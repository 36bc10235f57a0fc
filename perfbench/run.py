"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Generates the workload's inputs from the seed, starts a Spark session and
warms it up (``setup_s``), runs an amount of work that is a fixed function
of S (about S seconds of draining on consume_backlog, at least three passes
over the corpus on corpus_dedup), checks every output against the ground
truth the generator planted, and prints one JSON object as the last line of
stdout: the end-to-end metrics listed in BENCHMARK.json with ``--trace 0``;
with ``--trace 1`` the per-layer metrics, from traced work interleaved with
untraced work of the same kind, whose difference is the tracing overhead.
A line before it carries run details (environment, phase times, tail sample
counts, failed share, per-span self times). Exit code 1 means the program's
output was wrong, 2 that the benchmark could not run at all.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

WORKLOAD_NAMES = ("consume_backlog", "corpus_dedup")


def workloads():
    from perfbench.consume import Backlog
    from perfbench.corpus import CorpusDedup

    return {"consume_backlog": Backlog, "corpus_dedup": CorpusDedup}


def listed_units(kind: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json lists them under ``kind``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # "tiny" inputs are for the harness's own smoke test
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    return args


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    run = harness.Run(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        traced=bool(args.trace), size=args.size, tracer=Tracer(),
    )
    run.work = os.path.join(harness.WORK_ROOT, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    os.makedirs(run.work, exist_ok=True)
    run.info["pinned_env"] = harness.pin_environment(run.work)
    try:
        import kitkat_spark

        if not os.path.abspath(kitkat_spark.__file__).startswith(ROOT + os.sep):
            raise RuntimeError(f"kitkat_spark imported from outside {ROOT}")
        units = listed_units("per_layer" if run.traced else "end_to_end")

        t_gen = time.perf_counter()
        w = workloads()[args.workload](run)
        run.info["generate_s"] = time.perf_counter() - t_gen
        t0 = time.perf_counter()
        spark = harness.start_session(run)
        w.warm()
        run.info["setup_s"] = time.perf_counter() - t0
        run.info["session_start_s"] = run.tracer.total("session.start_s")
        if run.traced:
            # 0 marks a layer this workload's path does not touch
            metrics = {k: 0.0 for k in units}
            metrics.update(w.trace())
            metrics["session.start_s"] = run.tracer.total("session.start_s")
        else:
            metrics = w.measure()
            metrics["setup_s"] = run.info["setup_s"]
            metrics.setdefault("lexical_recall", 1.0)  # nothing planted: vacuous recall
            metrics.setdefault("semantic_recall", 1.0)
        run.info["measure_s"] = time.perf_counter() - t0 - run.info["setup_s"]
        rss = harness.jvm_peak_rss_mb(spark)
        run.info["jvm_peak_rss_mb"] = rss
        run.info["loadavg_end"] = os.getloadavg()
        if run.traced:
            metrics["session.jvm_peak_rss_mb"] = rss
            run.info["self_s"] = run.tracer.self_times()
            run.tracer.dump(
                os.path.join(harness.WORK_ROOT, f"trace-{args.workload}-s{args.seed}.json"),
                metrics,
            )
        correct = run.failed == 0
        run.info["failed_frac"] = run.failed / run.attempted
        harness.emit(correct, run.attempted, run.failed, metrics, units, run.info)
        return 0 if correct else 1
    except Exception:
        traceback.print_exc()
        return 2
    finally:
        if run.spark is not None:
            harness.stop_session(run.spark)
        harness.cleanup(run.work)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
