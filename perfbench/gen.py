"""Seeded input generators. Each writes its inputs and returns the ground
truth it planted, so every run can be checked against it.

The KPL codec here is written from the wire-format spec (magic ||
protobuf(AggregatedRecord) || md5(protobuf)), independently of
``kitkat_spark.functions.kpl``, so a change to the program's codec cannot
also change what the benchmark expects.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import random
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KPL_MAGIC = b"\xf3\x89\x9a\xc2"
N_SHARDS = 4
STREAM = "bench-stream"
BASE_TS_US = 1_700_000_000_000_000  # fixed epoch for arrival stamps
TRUTH_FILE = "_truth.json"

RECORD_ARROW_SCHEMA = pa.schema(
    [
        ("data", pa.binary()),
        ("partitionKey", pa.string()),
        ("sequenceNumber", pa.string()),
        ("approximateArrivalTimestamp", pa.timestamp("us", tz="UTC")),
        ("shardId", pa.string()),
        ("streamName", pa.string()),
        ("encryptionType", pa.string()),
    ]
)


# ---------------------------------------------------------------------------
# KPL wire format
# ---------------------------------------------------------------------------

def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _len_field(num: int, payload: bytes) -> bytes:
    return _varint((num << 3) | 2) + _varint(len(payload)) + payload


def kpl_blob(pk_table: list[str], records: list[tuple[int, bytes]]) -> bytes:
    """(partition-key index, data) records -> one aggregated blob."""
    body = b"".join(_len_field(1, pk.encode()) for pk in pk_table)
    for idx, data in records:
        inner = _varint(1 << 3) + _varint(idx) + _len_field(3, data)
        body += _len_field(3, inner)
    return KPL_MAGIC + body + hashlib.md5(body).digest()


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = result = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _len_fields(buf: bytes):
    pos = 0
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        if key & 7 == 0:
            val, pos = _read_varint(buf, pos)
            yield key >> 3, val
        elif key & 7 == 2:
            ln, pos = _read_varint(buf, pos)
            yield key >> 3, buf[pos : pos + ln]
            pos += ln
        else:
            raise ValueError(f"unexpected wire type {key & 7}")


def kpl_inner_data(blob: bytes) -> list[bytes]:
    """Inner record payloads of a blob; raises ValueError if it is malformed."""
    if not blob.startswith(KPL_MAGIC) or len(blob) < len(KPL_MAGIC) + 16:
        raise ValueError("not a KPL blob")
    body = blob[len(KPL_MAGIC) : -16]
    if hashlib.md5(body).digest() != blob[-16:]:
        raise ValueError("KPL md5 mismatch")
    out = []
    for num, val in _len_fields(body):
        if num == 3:
            out.extend(v for n, v in _len_fields(val) if n == 3)
    return out


# ---------------------------------------------------------------------------
# shared text helpers
# ---------------------------------------------------------------------------

def zipf_vocab(rng: random.Random, n_words: int) -> tuple[list[str], list[float]]:
    """Pseudo-words and their cumulative Zipf(1) weights: a few words are
    very common, as in text, so shingle frequencies are skewed the way real
    corpora are."""
    alphabet = "abcdefghijklmnopqrstuvwxyz"
    words, seen = [], set()
    while len(words) < n_words:
        w = "".join(rng.choice(alphabet) for _ in range(rng.randint(2, 9)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words, list(itertools.accumulate(1.0 / (r + 1) for r in range(n_words)))


def _text(rng: random.Random, vocab, n: int) -> str:
    words, cum = vocab
    return " ".join(rng.choices(words, cum_weights=cum, k=n))


def _write_records(path: str, rows: list[tuple]) -> None:
    cols = list(zip(*rows)) if rows else [[] for _ in RECORD_ARROW_SCHEMA]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, RECORD_ARROW_SCHEMA)],
        schema=RECORD_ARROW_SCHEMA,
    )
    pq.write_table(table, path)


def _shard_id(i: int) -> str:
    return f"shardId-{i:012d}"


def _write_truth(out_dir: str, truth: dict) -> None:
    """Planted ground truth beside the inputs. The leading underscore keeps
    Spark's file sources from listing it as input."""
    with open(os.path.join(out_dir, TRUTH_FILE), "w") as fh:
        json.dump(truth, fh)


# ---------------------------------------------------------------------------
# consume_backlog: KPL blobs of zlib lines, plain zlib, planted corrupt rows
# ---------------------------------------------------------------------------

@dataclass
class Backlog:
    good_lines: list[str]
    # (shardId, sequenceNumber) -> expected dead-letter reason
    dlq: dict[tuple[str, str], str]
    blobs: int  # well-formed KPL blobs
    inner_records: int  # inner records inside those blobs


def write_backlog(
    out_dir: str,
    seed: int,
    files_per_shard: int,
    records_per_file: int,
    blob_records: int = 50,
) -> Backlog:
    """Outer-record mix per file: 85% KPL blobs of ``blob_records`` zlib
    lines, 9% plain zlib lines, 3% corrupt blobs (md5 trailer or truncated
    body), 3% payloads with a zlib header that do not inflate."""
    rng = random.Random(seed)
    vocab = zipf_vocab(rng, 2000)
    os.makedirs(out_dir, exist_ok=True)
    truth = Backlog([], {}, 0, 0)
    n_line = 0

    def line() -> str:
        nonlocal n_line
        n_line += 1
        return f"L{seed}-{n_line} " + _text(rng, vocab, rng.randint(6, 14))

    for f in range(files_per_shard):
        for s in range(N_SHARDS):
            rows = []
            for r in range(records_per_file):
                seq = f"{s:02d}{f:06d}{r:06d}"
                ts = BASE_TS_US + ((f * records_per_file + r) * 1000)
                pk = f"pk-{rng.randrange(64)}"
                kind = rng.random()
                if kind < 0.85 or kind >= 0.97:
                    pks = [f"pk-{rng.randrange(64)}" for _ in range(4)]
                    lines = [line() for _ in range(blob_records)]
                    data = kpl_blob(
                        pks,
                        [(rng.randrange(4), zlib.compress(x.encode())) for x in lines],
                    )
                    if kind < 0.85:
                        truth.good_lines.extend(lines)
                        truth.blobs += 1
                        truth.inner_records += blob_records
                    elif kind < 0.985:  # wrong md5 trailer
                        data = data[:-1] + bytes([data[-1] ^ 0xFF])
                        truth.dlq[(_shard_id(s), seq)] = "kpl_decode_failed"
                    else:  # truncated body
                        data = data[: len(data) // 2]
                        truth.dlq[(_shard_id(s), seq)] = "kpl_decode_failed"
                elif kind < 0.94:
                    x = line()
                    data = zlib.compress(x.encode())
                    truth.good_lines.append(x)
                else:  # a zlib header on bytes that do not inflate
                    data = b"\x78\x9c" + rng.randbytes(rng.randint(8, 40))
                    truth.dlq[(_shard_id(s), seq)] = "zlib_decode_failed"
                rows.append((data, pk, seq, ts, _shard_id(s), STREAM, "NONE"))
            _write_records(os.path.join(out_dir, f"part-f{f:04d}-s{s}.parquet"), rows)
    _write_truth(out_dir, {
        "good_lines": len(truth.good_lines),
        "blobs": truth.blobs,
        "inner_records": truth.inner_records,
        "dead_letter": [[s, q, r] for (s, q), r in sorted(truth.dlq.items())],
    })
    return truth


# ---------------------------------------------------------------------------
# stateful dedup: plain records, a planted share delivered twice
# ---------------------------------------------------------------------------

@dataclass
class Redelivered:
    keys: set[tuple[str, str]]  # every distinct (shardId, sequenceNumber)
    redelivered: set[tuple[str, str]]


def write_redelivered(
    out_dir: str, seed: int, n_files: int, records_per_file: int,
    redeliver_share: float = 0.05,
) -> Redelivered:
    """Plain records; a planted share is delivered again, same shard and
    sequence number, one to three files later. Arrival stamps span well
    under the dedup watermark, so every re-delivery must be removed."""
    rng = random.Random(seed)
    vocab = zipf_vocab(rng, 2000)
    rows_by_file: list[list[tuple]] = [[] for _ in range(n_files)]
    truth = Redelivered(set(), set())
    for f in range(n_files):
        for r in range(records_per_file):
            s = rng.randrange(N_SHARDS)
            seq = f"{f:07d}{r:05d}"
            ts = BASE_TS_US + (f * records_per_file + r) * 1000
            msg = f"T{seed}-{f}-{r} " + _text(rng, vocab, rng.randint(6, 14))
            row = (msg.encode(), f"pk-{r % 16}", seq, ts, _shard_id(s), STREAM, "NONE")
            rows_by_file[f].append(row)
            truth.keys.add((_shard_id(s), seq))
            later = f + rng.randint(1, 3)
            if rng.random() < redeliver_share and later < n_files:
                rows_by_file[later].append(row)
                truth.redelivered.add((_shard_id(s), seq))
    os.makedirs(out_dir, exist_ok=True)
    for f, rows in enumerate(rows_by_file):
        _write_records(os.path.join(out_dir, f"part-f{f:04d}.parquet"), rows)
    _write_truth(out_dir, {
        "records": len(truth.keys),
        "redelivered": sorted(list(k) for k in truth.redelivered),
    })
    return truth


# ---------------------------------------------------------------------------
# corpus_dedup: Zipf text with planted near-duplicates, embeddings with
# planted semantic duplicates
# ---------------------------------------------------------------------------

SHINGLE_N = 3  # word 3-shingles, the near-dup detectors' definition
EMBED_DIM = 128
# Vectors with no planted relation are redrawn until their cosine is below
# this, a margin under the program's SEMDEDUP_COS = 0.4, so the only pairs
# at or above the threshold are the planted ones. At 0.39 (4.4 sigma for
# 128-dim directions) one redraw makes ~0.1 new clashes at 20k vectors, so
# the redraw loop converges.
UNPLANTED_MAX_COS = 0.39
_GRAM_ROWS = 1024  # rows per block of the similarity check


def shingles(text: str) -> set[str]:
    t = text.split(" ")
    return {" ".join(t[i : i + SHINGLE_N]) for i in range(len(t) - SHINGLE_N + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


@dataclass
class Corpus:
    n_docs: int
    # (base, variant) -> exact 3-shingle Jaccard; every one is >= 0.85
    lexical_pairs: dict[tuple[int, int], float]
    # variant vec_id -> base vec_id, cosine to the base >= 0.996
    semantic_members: dict[int, int]
    unique_docs: set[int]  # no planted lexical relation
    unique_vecs: set[int]  # no planted semantic relation


def _edit(rng: random.Random, vocab, text: str, n_edits: int) -> str:
    toks = text.split(" ")
    words, cum = vocab
    for _ in range(n_edits):
        i = rng.randrange(len(toks))
        toks[i] = rng.choices(words, cum_weights=cum)[0]
    return " ".join(toks)


def _documents(rng: random.Random, n_docs: int, truth: Corpus) -> list[str]:
    """About 15% of documents are planted near-duplicates of a base: token
    substitutions kept only if the exact Jaccard to the base is in
    [0.85, 0.97], and some exact copies."""
    vocab = zipf_vocab(rng, 5000)
    texts: list[str] = [""] * n_docs
    ids = list(range(n_docs))
    rng.shuffle(ids)
    n_bases = n_docs // 20
    bases, pool = ids[:n_bases], ids[n_bases:]
    for b in bases:
        texts[b] = _text(rng, vocab, rng.randint(60, 140))
    pos = 0
    for b in bases:
        for k in range(rng.randint(1, 4)):
            if pos >= int(n_docs * 0.15):
                break
            v = pool[pos]
            pos += 1
            if k == 0 and rng.random() < 0.25:
                texts[v] = texts[b]
                truth.lexical_pairs[(min(b, v), max(b, v))] = 1.0
                continue
            n_tok = len(texts[b].split(" "))
            while True:
                cand = _edit(rng, vocab, texts[b], max(1, n_tok // rng.randint(60, 150)))
                j = jaccard(texts[b], cand)
                if 0.85 <= j <= 0.97:
                    break
            texts[v] = cand
            truth.lexical_pairs[(min(b, v), max(b, v))] = round(j, 4)
    for d in pool[pos:]:
        texts[d] = _text(rng, vocab, rng.randint(40, 140))
    truth.unique_docs = set(pool[pos:])
    return texts


def _embeddings(nrng: np.random.Generator, n: int, truth: Corpus) -> np.ndarray:
    """A third of the vectors are planted semantic duplicates: a base plus
    noise of norm 0.02-0.08 (cosine >= 0.996), about two per base. Any two
    vectors of different groups (a base with its members, or one unrelated
    vector) stay below UNPLANTED_MAX_COS: a clashing group is redrawn whole
    until none is left."""
    ids = nrng.permutation(n)
    n_members = n // 3
    members, others = ids[:n_members], ids[n_members:]
    bases = others[: max(1, n_members // 2)]
    group = np.arange(n)
    base_of = bases[nrng.integers(len(bases), size=n_members)]
    group[members] = base_of
    members_of: dict[int, list[int]] = {}
    for v, b in zip(members.tolist(), base_of.tolist()):
        members_of.setdefault(b, []).append(v)
    vecs = np.zeros((n, EMBED_DIM), dtype=np.float32)

    def unit(v: np.ndarray) -> np.ndarray:
        return v / np.linalg.norm(v, axis=-1, keepdims=True)

    def draw(heads: np.ndarray) -> None:
        vecs[heads] = unit(nrng.standard_normal((len(heads), EMBED_DIM)))
        for h in heads.tolist():
            for v in members_of.get(h, ()):
                noise = nrng.standard_normal(EMBED_DIM)
                noise *= nrng.uniform(0.02, 0.08) / np.linalg.norm(noise)
                vecs[v] = unit(vecs[h] + noise)

    draw(others)
    rows = np.arange(n)  # vectors whose similarities are not yet checked
    while len(rows):
        clash = set()
        for lo in range(0, len(rows), _GRAM_ROWS):
            blk = rows[lo : lo + _GRAM_ROWS]
            i, j = np.nonzero(vecs[blk] @ vecs.T >= UNPLANTED_MAX_COS)
            bad = group[blk[i]] != group[j]
            clash.update(group[blk[i[bad]]].tolist())
        redraw = np.array(sorted(clash), dtype=np.int64)
        draw(redraw)
        rows = np.flatnonzero(np.isin(group, redraw))
    for v, b in zip(members.tolist(), base_of.tolist()):
        truth.semantic_members[v] = b
    truth.unique_vecs = {int(v) for v in others} - {int(b) for b in bases}
    return vecs


def write_corpus(out_dir: str, seed: int, n_docs: int) -> Corpus:
    """documents.parquet and embeddings.parquet, one row per document."""
    truth = Corpus(n_docs, {}, {}, set(), set())
    texts = _documents(random.Random(seed), n_docs, truth)
    vecs = _embeddings(np.random.default_rng(seed), n_docs, truth)
    os.makedirs(out_dir, exist_ok=True)
    docs = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n_docs, pa.string()),
            "source": pa.array([f"src{i % 5}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    emb = pa.table(
        {
            "vec_id": pa.array(range(n_docs), pa.int64()),
            "embedding": pa.array(vecs.tolist(), pa.list_(pa.float32())),
            "label": pa.array([0] * n_docs, pa.int32()),
        }
    )
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    _write_truth(out_dir, {
        "lexical_pairs": [[a, b, j] for (a, b), j in sorted(truth.lexical_pairs.items())],
        "semantic_members": sorted([v, b] for v, b in truth.semantic_members.items()),
    })
    return truth
