"""Producer layers: produce_batch into a put callable owned by the
benchmark (no network), measured in consume_backlog's traced run on the
backlog's own lines."""

from __future__ import annotations

import os
import struct
import time
import uuid
from collections import Counter

from perfbench import gen
from perfbench.harness import Run, median, mismatches

PRODUCE_ROUNDS = 3
_LEN = struct.Struct("<I")  # record count of a put call, then each payload's length


def _acks(n: int) -> list[tuple[str, str]]:
    return [(f"shardId-{i % gen.N_SHARDS:012d}", str(i)) for i in range(n)]


def ack_only(batch: list[tuple[str, bytes]]) -> list[tuple[str, str]]:
    """The put callable of the timed rounds: acks every record and does
    nothing else."""
    return _acks(len(batch))


class PutLog:
    """The put callable of the untimed check round: acks every record and
    writes what it was given to a file of its own; the payloads are decoded
    and checked afterwards."""

    def __init__(self, log_dir: str) -> None:
        self.log_dir = log_dir

    def __call__(self, batch: list[tuple[str, bytes]]) -> list[tuple[str, str]]:
        parts = [_LEN.pack(len(batch))]
        for _, data in batch:
            parts += [_LEN.pack(len(data)), data]
        name = os.path.join(self.log_dir, f"{os.getpid()}-{uuid.uuid4().hex}.bin")
        with open(name, "wb") as fh:
            fh.write(b"".join(parts))
        return _acks(len(batch))


def read_put_log(log_dir: str) -> list[list[bytes]]:
    """The payloads of every put call, in no particular order."""
    calls = []
    for name in os.listdir(log_dir):
        with open(os.path.join(log_dir, name), "rb") as fh:
            buf = fh.read()
        (n,) = _LEN.unpack_from(buf, 0)
        pos, payloads = _LEN.size, []
        for _ in range(n):
            (ln,) = _LEN.unpack_from(buf, pos)
            pos += _LEN.size
            payloads.append(buf[pos : pos + ln])
            pos += ln
        calls.append(payloads)
    return calls


def _produce(run: Run, src: str, aggregated: bool, put) -> tuple[float, int]:
    from kitkat_spark.streaming.producer import produce_batch

    lines = run.spark.read.text(src)
    t0 = time.perf_counter()
    acks, _ = produce_batch(lines, put, aggregated=aggregated)
    return time.perf_counter() - t0, acks


def _check(log: str, acks: int, aggregated: bool, expected: list[str]) -> tuple[int, dict]:
    """(failed, put-side counts): each line must arrive exactly once, inside
    a well-formed blob when aggregated, and the acks must match the records
    put."""
    seen: Counter = Counter()
    calls = read_put_log(log)
    n_records = sum(len(p) for p in calls)
    n_bytes = sum(len(x) for p in calls for x in p)
    malformed = 0
    for payloads in calls:
        for data in payloads:
            if not aggregated:
                seen[data.decode()] += 1
                continue
            try:
                seen.update(x.decode() for x in gen.kpl_inner_data(data))
            except ValueError:
                malformed += 1
    failed = mismatches(seen, set(expected)) + malformed + abs(acks - n_records)
    return failed, {"put_calls": len(calls), "records": n_records, "bytes": n_bytes}


def producer_costs(run: Run, lines: list[str]) -> dict[str, float]:
    """``sink_s`` is produce_batch(aggregated=False); ``encode_s`` is the
    extra time aggregated=True takes. An untimed round first puts into a
    PutLog, whose payloads are checked and give the put-side counts (the
    packing is a fixed function of the input, so every round puts the
    same). Then the median of PRODUCE_ROUNDS alternating rounds into
    ``ack_only``, each checked by its ack count."""
    src = os.path.join(run.work, "produce-lines.txt")
    with open(src, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    want_acks, counts = {}, {}
    for aggregated in (False, True):
        log = run.fresh("puts")
        os.makedirs(log)
        _, acks = _produce(run, src, aggregated, PutLog(log))
        failed, counts[aggregated] = _check(log, acks, aggregated, lines)
        run.tally(len(lines), failed)
        want_acks[aggregated] = counts[aggregated]["records"]
    times: dict[bool, list[float]] = {False: [], True: []}
    for rnd in range(PRODUCE_ROUNDS):
        for aggregated in (False, True)[:: 1 if rnd % 2 else -1]:
            name = "streaming.producer.produce_batch" + ("[aggregated]" if aggregated else "")
            with run.tracer.span(name):
                t, acks = _produce(run, src, aggregated, ack_only)
            run.tally(1, int(acks != want_acks[aggregated]))
            times[aggregated].append(t)
    sink = median(times[False])
    c = counts[True]
    return {
        "streaming.producer.sink_s": sink,
        "functions.kpl.encode_s": median(times[True]) - sink,
        "streaming.producer.put_calls": c["put_calls"],
        "streaming.producer.records_per_put": c["records"] / c["put_calls"],
        "streaming.producer.bytes_put": c["bytes"],
    }
