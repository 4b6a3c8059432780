"""``corpus_clean``: the batch workload over the ``ops`` layer.

``CorpusPipeline(docs).quality_gates().classifier_gate().near_dedup()
.decontaminate(bench).verdict()`` over a seeded Zipf corpus
(``fixtures.generate_zipf_docs``, planted near-duplicates), repeated for the
measured seconds and at least ``MIN_PASSES`` times.  Every document's
``is_canonical`` flag must equal ``oracle.near_dedup_reference``; the share
of planted pairs the default LSH banding catches is a figure, not a check.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

from dagger_spark.ops.dedup import jaccard, minhash_candidate_pairs, shingled_docs
from dagger_spark.pipeline import CorpusPipeline

from oracle import near_dedup_reference

SPEC = dict(kind="corpus", n_docs=500, n_neardup=20, vocab_size=20000,
            doc_len=60, n_bench=10)
WARM_DOCS = 100
#: ``setup_s`` is the first, cold round; ``setup_warm_s`` the median of the rest
SETUP_ROUNDS = 2
#: the medians need at least this many passes, however long they take
MIN_PASSES = 5
#: candidate pairs at or above this shingle Jaccard count as useful
USEFUL_JACCARD = 0.7


def planted_pairs(docs: list, n_neardup: int) -> list:
    """``(source, duplicate)`` doc ids: a planted copy shares all but two of
    its tokens with its source, so the base doc sharing most tokens is it."""
    n_base = len(docs) - n_neardup
    toks = [set(d["text"].split()) for d in docs]
    index: dict = {}
    for i in range(n_base):
        for t in toks[i]:
            index.setdefault(t, []).append(i)
    pairs = []
    for j in range(n_base, len(docs)):
        counts: dict = {}
        for t in toks[j]:
            for i in index.get(t, ()):
                counts[i] = counts.get(i, 0) + 1
        pairs.append((max(counts, key=counts.get), j))
    return pairs


class CorpusRun:
    def __init__(self, ctx):
        self.ctx = ctx
        self.tr = ctx.tracer
        self.work = os.path.join(ctx.work, "corpus_clean")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.result: dict = {}
        self.info: dict = {}
        self.attempted = 0
        self.mismatches = 0

    def pipeline(self, docs, bench):
        return (
            CorpusPipeline(docs)
            .quality_gates()
            .classifier_gate()
            .near_dedup()
            .decontaminate(bench)
            .verdict()
        )

    def verdict_pass(self, docs, bench) -> tuple:
        """One full pipeline run; returns (wall s, {doc_id: is_canonical})."""
        spark = self.ctx.spark
        t0 = time.perf_counter()
        rows = self.pipeline(docs, bench).select("doc_id", "is_canonical", "keep").collect()
        wall = time.perf_counter() - t0
        spark.catalog.clearCache()  # the dedup stage persists its signatures
        return wall, {r["doc_id"]: r["is_canonical"] for r in rows}


def run_corpus(ctx, seed: int, seconds: float) -> CorpusRun:
    import pyarrow.parquet as pq

    run = CorpusRun(ctx)
    tr = run.tr
    gen = ctx.start_generator(dict(SPEC, seed=seed, work=run.work))
    spark = ctx.start_session()  # overlaps the generator
    with tr.span("loadgen.generate"):
        if gen.wait(timeout=170) != 0:
            raise RuntimeError("load generator failed")
    corpus_path = os.path.join(run.work, "corpus.parquet")
    bench_path = os.path.join(run.work, "bench.parquet")
    docs = spark.read.parquet(corpus_path)
    bench = spark.read.parquet(bench_path)
    warm = docs.filter(F.col("doc_id") < WARM_DOCS)
    rounds = []
    for _ in range(SETUP_ROUNDS):
        with tr.span("ops.warmup_pass"):
            rounds.append(run.verdict_pass(warm, bench)[0])
    run.info["setup_warm_s"] = statistics.median(rounds[1:])
    run.result["setup_s"] = ctx.session_start_s + rounds[0]

    raw = pq.read_table(corpus_path).to_pylist()
    pairs = planted_pairs(raw, SPEC["n_neardup"])
    want = near_dedup_reference(raw)
    n_docs = len(raw)
    walls = []
    deadline = time.perf_counter() + seconds
    while len(walls) < MIN_PASSES or time.perf_counter() < deadline:
        with tr.span("ops.verdict"):
            wall, canonical = run.verdict_pass(docs, bench)
        walls.append(wall)
        run.attempted += n_docs
        run.mismatches += sum(1 for i, c in want.items() if canonical.get(i) != c)
        run.mismatches += len(set(canonical) - set(want))
    caught = sum(1 for a, b in pairs if not (canonical.get(a) and canonical.get(b)))
    run.info.update(passes=len(walls), docs=n_docs, planted_pairs=len(pairs),
                    planted_dup_recall=caught / max(1, len(pairs)),
                    latency_samples=len(walls))
    run.result["throughput_per_s"] = statistics.median(n_docs / w for w in walls)
    run.info["latency_p50_ms"] = statistics.median(walls) * 1000.0
    run.info["latency_p95_ms"] = max(walls) * 1000.0
    run.info["docs_per_s"] = run.result["throughput_per_s"]
    if tr.enabled:
        trace_legs(run, docs, bench)
    return run


def trace_legs(run: CorpusRun, docs, bench) -> None:
    """Each gate alone, plus the dedup layer's candidate counts."""
    tr = run.tr
    spark = run.ctx.spark
    legs = {
        "ops.quality": lambda: CorpusPipeline(docs).quality_gates().classifier_gate(),
        "ops.near_dedup": lambda: CorpusPipeline(docs).near_dedup(),
        "ops.decontam": lambda: CorpusPipeline(docs).decontaminate(bench),
    }
    for name, build in legs.items():
        with tr.span(name):
            build().verdict().select(F.sum(F.hash("*"))).collect()
        spark.catalog.clearCache()
        tr.set(f"{name}_s", tr.total(name))
    tr.set("ops.verdict_s", statistics.median(
        e - s for n, s, e, _p in tr.spans if n == "ops.verdict"))
    cands = minhash_candidate_pairs(docs)
    n_cands = cands.count()
    sh = shingled_docs(docs)
    useful = (
        cands.join(sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sa")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sb")), "id_b")
        .filter(jaccard(F.col("sa"), F.col("sb")) >= USEFUL_JACCARD)
        .count()
    )
    tr.set("ops.lsh_candidates", n_cands)
    tr.set("ops.lsh_useful_ratio", useful / max(1, n_cands))
    spark.catalog.clearCache()
    tr.set("ops.planted_dup_recall", run.info["planted_dup_recall"])
