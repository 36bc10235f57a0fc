"""Run context, environment pinning, statistics and the result line.

Nothing here imports pyspark at module load: ``pin_environment`` must run
first, because the JVM and its Python workers inherit the environment that
exists when the session starts.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import statistics
import sys
from collections import Counter
from dataclasses import dataclass, field

from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench")
JVM_HEAP = "2g"


def cpu_count() -> int:
    """CPUs this process may run on (what ``nproc`` reports without an
    OMP_NUM_THREADS override)."""
    return len(os.sched_getaffinity(0))


def pin_environment(work: str) -> dict[str, str]:
    """Environment the program runs under. The session factory otherwise
    assumes 32 CPUs and an 8 GiB JVM heap, Python workers cannot import
    the package without PYTHONPATH, and Spark and ``tempfile`` would write
    outside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_GRAFT_DRIVER_MEM": JVM_HEAP,
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # every JVM, the launcher's included: no /tmp/hsperfdata_*, and
        # native-library extraction goes to the work directory
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    os.environ.update(env)
    return env


@dataclass
class Run:
    workload: str
    seed: int
    seconds: float
    traced: bool
    size: str = "full"
    work: str = ""
    spark: object = None
    tracer: Tracer = field(default_factory=Tracer)
    info: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    _handed_out: set = field(default_factory=set)

    def tally(self, attempted: int, failed: int) -> None:
        """Count items checked against the planted ground truth."""
        self.attempted += attempted
        self.failed += failed

    def fresh(self, name: str) -> str:
        """A directory path no earlier repetition of this run has used, so no
        module cache keyed by path can serve a timed call."""
        path = os.path.join(self.work, f"{name}-{len(self._handed_out):04d}")
        if os.path.exists(path):
            raise RuntimeError(f"directory {path} reused")
        self._handed_out.add(path)
        return path


def start_session(run: Run):
    from kitkat_spark.session import get_spark

    with run.tracer.span("session.start_s"):
        spark = get_spark(
            app_name=f"perfbench-{run.workload}",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(run.work, "warehouse"),
                "spark.sql.streaming.numRecentProgressUpdates": "10000",
                "spark.ui.showConsoleProgress": "false",
                # the heap starts at its full size: G1 growing it during the
                # timed work made runs of the same inputs differ by ~15%
                "spark.driver.extraJavaOptions": f"-Xms{JVM_HEAP}",
            },
        )
    run.spark = spark
    conf = spark.sparkContext.getConf()
    run.info["env"] = {
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": conf.get("spark.driver.memory"),
        "nproc": cpu_count(),
        "seed": run.seed,
        "loadavg_start": os.getloadavg(),
        "spark_version": spark.version,
    }
    return spark


def stop_session(spark) -> None:
    """Stop Spark and end the JVM it launched, waiting until it has exited
    (its Python workers end with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM (peak resident set) of the Spark JVM, in MiB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def mismatches(seen: Counter, expected: set) -> int:
    """Items of ``expected`` missing from ``seen``, extra copies, and items
    that should not be there at all."""
    missing = sum(1 for x in expected if x not in seen)
    extra = sum(c - 1 for c in seen.values() if c > 1)
    unexpected = sum(c for x, c in seen.items() if x not in expected)
    return missing + extra + unexpected


TAIL_PCT = 90


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile, q in (0, 100]."""
    v = sorted(values)
    return v[_rank(len(v), q) - 1]


def _rank(n: int, q: float) -> int:
    return max(1, math.ceil(q / 100.0 * n))


def median(values: list[float]) -> float:
    return statistics.median(values)


def batch_stats(run: "Run", batch_ms: list[float]) -> dict[str, float]:
    """Median of per-batch times. The tail goes to the info line only: a run
    holds too few batches for a percentile with ten samples beyond it, so a
    tail here is one batch's time and too noisy to carry a bound; the info
    line states the percentile and how many samples lie beyond it."""
    n = len(batch_ms)
    run.info["batch_tail"] = {
        "percentile": TAIL_PCT, "value_ms": pct(batch_ms, TAIL_PCT), "samples": n,
        "beyond": n - _rank(n, TAIL_PCT), "batch_ms": batch_ms,
    }
    return {"batch_p50_ms": median(batch_ms)}


# ---------------------------------------------------------------------------
# streaming progress
# ---------------------------------------------------------------------------

def progress_dicts(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        out.append(json.loads(p.json) if hasattr(p, "json") else dict(p))
    return out


def data_batches(progress: list[dict]) -> list[dict]:
    return [p for p in progress if p.get("numInputRows", 0) > 0]


def stream_layers(progress: list[dict]) -> dict[str, float]:
    """Per-batch layer costs the query reports about itself."""
    batches = data_batches(progress)
    if not batches:
        raise RuntimeError("stream processed no input")
    d = [p["durationMs"] for p in batches]
    state = [op for p in progress for op in p.get("stateOperators", [])]
    return {
        "streaming.records.latest_offset_ms": median([x.get("latestOffset", 0) for x in d]),
        "streaming.trigger.add_batch_ms": median([x.get("addBatch", 0) for x in d]),
        "streaming.trigger.overhead_ms": median(
            [x["triggerExecution"] - x.get("addBatch", 0) for x in d]
        ),
        "streaming.input_rows_per_batch": median([p["numInputRows"] for p in batches]),
        "streaming.analytics.state_rows": max((s["numRowsTotal"] for s in state), default=0),
        "streaming.analytics.state_memory_bytes": max(
            (s["memoryUsedBytes"] for s in state), default=0
        ),
        "streaming.analytics.state_commit_ms": median([s["commitTimeMs"] for s in state])
        if state
        else 0.0,
    }


# ---------------------------------------------------------------------------
# result line
# ---------------------------------------------------------------------------

def emit(correct: bool, attempted: int, failed: int, metrics: dict, units: dict, info: dict) -> None:
    """Info line, then the result as the last line of stdout. The metrics
    must be exactly the listed ones."""
    if set(metrics) != set(units):
        raise RuntimeError(
            f"not measured: {sorted(set(units) - set(metrics))}, "
            f"not listed: {sorted(set(metrics) - set(units))}"
        )
    print(json.dumps({"info": info}, default=str))
    result = {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    sys.stdout.write(json.dumps(result) + "\n")
    sys.stdout.flush()


def cleanup(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
