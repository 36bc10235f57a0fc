"""corpus_dedup: near-dup pairs, dedup clusters and SemDeDup over generated
corpus directories, one per timed pass, each pass on a fresh copy of its
directory."""

from __future__ import annotations

import os
import time

from perfbench import gen
from perfbench.harness import Run, batch_stats, median

# Sized from measured warm pass times (local[4] on 4 vCPUs, one JVM):
# 8.9 s at 600 documents, 17.7 s at 2500, 23 s at 5000, 52 s at 10k and
# 104 s at 20k, where q_semdedup alone takes 85 s. Between 600 and 2500 a
# pass costs about 6 s that do not grow with the corpus (per-job and
# per-iteration cost of the three calls) plus 4.7 ms per document, so at
# 1000 documents about 45% of a pass is per-document operator work. Three
# passes of a larger corpus would push a run well past a minute, and the
# ten-seed spread checks of both workloads would no longer fit in an hour.
DOCS = {"full": 1000, "tiny": 120}
WARM_DOCS = {"full": 600, "tiny": 120}
PASS_S = 12.0  # rough seconds per pass at the full size
# Passes are the samples of batch_p50_ms: at least three,
# so the median is one pass among several. Each pass gets a corpus of its own
# (same size and make-up, another seed), so a run averages over how the
# planted structure of one corpus happens to fall (cell sizes, cluster
# shapes) instead of timing one draw three times.
MIN_PASSES = 3
# One pass over a seed+1 slice before timing pays the first-run costs
# (Python workers, code generation: 29 s against 11 s warm at 600 docs).
WARM_PASSES = 1
# Traced run: untraced and traced passes alternate (U T, then T U), each
# pair on one corpus, so JIT drift over the run does not show up as tracing
# overhead.
TRACE_PAIRS = 2


def corpus_passes(seconds: float) -> int:
    """Timed passes: a fixed function of --seconds."""
    return max(MIN_PASSES, round(seconds / PASS_S))


class CorpusDedup:
    def __init__(self, run: Run) -> None:
        self.run = run
        self.corpora: list[tuple[str, gen.Corpus]] = []
        for k in range(corpus_passes(run.seconds)):
            src = os.path.join(run.work, f"corpus-{k}")
            self.corpora.append((src, gen.write_corpus(src, 1000 * run.seed + k, DOCS[run.size])))
        self.warm_src = os.path.join(run.work, "warm-corpus")
        self.warm_truth = gen.write_corpus(self.warm_src, run.seed + 1, WARM_DOCS[run.size])

    def _copy(self, src: str) -> str:
        """Hard-linked copy under a path never used before: the operators
        cache work per corpus path, and a timed pass must not hit it."""
        d = self.run.fresh("corpus-pass")
        os.makedirs(d)
        for name in os.listdir(src):
            os.link(os.path.join(src, name), os.path.join(d, name))
        return d

    def _pass(self, src: str) -> dict:
        from kitkat_spark.operators.corpus import q_dedup_clusters
        from kitkat_spark.operators.dedup import q_near_dedup
        from kitkat_spark.operators.similarity import q_semdedup

        spark = self.run.spark
        d = self._copy(src)
        t = [time.perf_counter()]
        near = q_near_dedup(spark, d).collect()
        t.append(time.perf_counter())
        clusters = q_dedup_clusters(spark, d).collect()
        t.append(time.perf_counter())
        sem = q_semdedup(spark, d).collect()
        t.append(time.perf_counter())
        spark.catalog.clearCache()
        return {
            "dir": d,
            "stage_s": [t[i + 1] - t[i] for i in range(3)],
            "near": near, "clusters": clusters, "sem": sem,
        }

    @staticmethod
    def _check(p: dict, truth: gen.Corpus) -> tuple[int, dict]:
        """(failed, recalls). Wrong: a planted-unique document or vector
        marked as a duplicate, or a planted pair reported with a Jaccard
        other than its exact value."""
        near = {(r.doc_a, r.doc_b): r.jaccard for r in p["near"]}
        cluster = {r.doc_id: r.cluster_id for r in p["clusters"]}
        sem = {r.vec_id: (r.cluster_id, r.is_kept) for r in p["sem"]}
        failed = 0
        found_lex = 0
        for pair, j in truth.lexical_pairs.items():
            if pair in near:
                failed += abs(near[pair] - j) > 1e-4
                a, b = pair
                found_lex += a in cluster and cluster.get(a) == cluster.get(b)
        near_docs = {d for pair in near for d in pair}
        failed += len(truth.unique_docs & (near_docs | set(cluster)))
        found_sem = sum(
            1 for v, b in truth.semantic_members.items()
            if v in sem and b in sem and sem[v][0] == sem[b][0]
        )
        failed += sum(1 for v in truth.unique_vecs if v in sem and sem[v] != (v, True))
        # vectors missing from the output, and repeated output rows
        failed += truth.n_docs - len(sem) + len(p["sem"]) - len(sem)
        return failed, {
            "lexical_recall": found_lex / max(1, len(truth.lexical_pairs)),
            "semantic_recall": found_sem / max(1, len(truth.semantic_members)),
        }

    def warm(self) -> None:
        self.run.info["warm_dirs"] = []
        for _ in range(WARM_PASSES):
            p = self._pass(self.warm_src)
            self.run.info["warm_dirs"].append(p["dir"])
            failed, _ = self._check(p, self.warm_truth)
            self.run.tally(self.warm_truth.n_docs, failed)

    def measure(self) -> dict:
        """Every pass runs the three calls over the whole corpus. A pass is
        the unit of batch_p50_ms here."""
        passes = [self._pass(src) for src, _ in self.corpora]
        recalls: dict[str, list[float]] = {"lexical_recall": [], "semantic_recall": []}
        for p, (_, truth) in zip(passes, self.corpora):
            failed, r = self._check(p, truth)
            self.run.tally(truth.n_docs, failed)
            for k, v in r.items():
                recalls[k].append(v)
        pass_ms = [sum(p["stage_s"]) * 1000.0 for p in passes]
        self.run.info["pass_dirs"] = [p["dir"] for p in passes]
        self.run.info["stage_ms"] = [[s * 1000.0 for s in p["stage_s"]] for p in passes]
        return {
            "throughput_per_s": sum(t.n_docs for _, t in self.corpora) * 1000.0 / sum(pass_ms),
            **batch_stats(self.run, pass_ms),
            "lexical_recall": median(recalls["lexical_recall"]),
            "semantic_recall": median(recalls["semantic_recall"]),
        }

    def _traced_pass(self, src: str, truth: gen.Corpus) -> tuple[float, int, int]:
        """(wall, candidates, verified pairs) of one pass with a span around
        each call; the signature table is built inside the near-dup span."""
        from kitkat_spark.operators.corpus import q_dedup_clusters
        from kitkat_spark.operators.dedup import lsh_signatures_and_candidates, q_near_dedup
        from kitkat_spark.operators.similarity import q_semdedup

        spark, tr = self.run.spark, self.run.tracer
        d = self._copy(src)
        t0 = time.perf_counter()
        with tr.span("operators.dedup.near_dedup_s"):
            with tr.span("operators.dedup.signature_s"):
                sig, cand = lsh_signatures_and_candidates(spark, d)
                sig.count()
            near = q_near_dedup(spark, d).collect()
        with tr.span("operators.corpus.clusters_s"):
            clusters = q_dedup_clusters(spark, d).collect()
        with tr.span("operators.similarity.semdedup_s"):
            sem = q_semdedup(spark, d).collect()
        wall = time.perf_counter() - t0
        n_cand = cand.count()
        spark.catalog.clearCache()
        failed, _ = self._check({"near": near, "clusters": clusters, "sem": sem}, truth)
        self.run.tally(truth.n_docs, failed)
        return wall, n_cand, len(near)

    def _checked_pass(self, src: str, truth: gen.Corpus) -> float:
        p = self._pass(src)
        self.run.tally(truth.n_docs, self._check(p, truth)[0])
        return sum(p["stage_s"])

    def trace(self) -> dict:
        """An untraced pass first settles the JIT (the first pass after the
        warm-up runs ~15% slower than later ones), then traced and untraced
        passes alternate."""
        self._checked_pass(*self.corpora[-1])
        untraced, traced, candidates, verified = [], [], [], []
        for i in range(TRACE_PAIRS):
            src, truth = self.corpora[i % len(self.corpora)]
            for is_traced in (False, True)[:: -1 if i % 2 else 1]:
                if is_traced:
                    wall, n_cand, n_pairs = self._traced_pass(src, truth)
                    traced.append(wall)
                    candidates.append(n_cand)
                    verified.append(n_pairs)
                else:
                    untraced.append(self._checked_pass(src, truth))
        out = {
            k: v / len(traced) for k, v in self.run.tracer.self_times().items()
            if k.startswith("operators.")
        }
        out["operators.dedup.candidates"] = median(candidates)
        out["operators.dedup.verified_pairs"] = median(verified)
        out["bench.trace_overhead_frac"] = median(traced) / median(untraced) - 1.0
        return out
