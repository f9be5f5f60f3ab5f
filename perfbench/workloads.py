"""The benchmark's workloads, driving the engine only through the public
functions of its modules.

Each workload has a program-side set-up (timed into ``setup_s``), a closed
loop of ops (one client) and output checks that run between ops, outside
the timed region.  With tracing on, each input is run twice, untraced
then traced, and the traced ops' median latency minus the untraced ops' is
the tracing overhead.  ``ingest_increments`` makes one cold op per run,
so there the op is traced and the overhead is the wall of the trace's own
counting spans.  Only traced ops feed the per-layer
numbers.  A traced op runs inside an ``op`` span whose children are the
layer spans.
"""

from __future__ import annotations

import inspect
import os
import shutil
import time
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from mediachain_indexer_spark.operators.search import bm25_topk
from mediachain_indexer_spark.plans import ingest as ingest_plan
from mediachain_indexer_spark.plans.checkpoint import StageRunner
from mediachain_indexer_spark.plans.eval import pairwise_f1
from mediachain_indexer_spark.plans.ingest import EntityStore, ingest_increment, read_store_entities
from mediachain_indexer_spark.plans.pipeline import PipelineConfig, run_pipeline
from mediachain_indexer_spark.sources.io import read_documents
from mediachain_indexer_spark.sources.merge import read_entities

from perfbench import loadgen
from perfbench.reference import bm25_reference
from perfbench.stats import LoopResult, closed_loop
from perfbench.tracing import MB, CachePeak, Tracer, cached_rdd_bytes

# Workload shapes.  Changing any of these makes a different workload.
WARMUP_DOCS = 100  # the small full pipeline run before timing (as bench.py)
BATCH_DOCS = 10_000
INGEST_DOCS = BATCH_DOCS  # the same corpus file as batch_dedupe for a seed
INGEST_SLICE = 500  # docs per increment (a consecutive doc_id range)
INGEST_SLICES = 4  # distinct slices; the seed picks a run's slice
SEARCH_K = 10  # top-k of the query batch each ingest op answers
F1_GATE = 0.99  # tests/test_pipeline_f1.py

CFG = PipelineConfig()


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: Tracer
    per_slot: int = 1  # ops per input: 2 (untraced, traced) in paired traced runs

    @property
    def trace(self) -> bool:
        return self.tracer.enabled


@dataclass
class Outcome:
    loop: LoopResult
    program_setup_s: float  # workload set-up inside setup_s (warm-up included)
    cache_peak_mb: float
    f1: float | None
    counters: dict = field(default_factory=lambda: defaultdict(float))
    op_spans: list = field(default_factory=list)  # span index of each traced op
    notes: list = field(default_factory=list)


def corpora(work: str, workload: str, seed: int) -> dict:
    """Generate (or find cached) every corpus the workload reads."""
    sizes = {
        "batch_dedupe": (WARMUP_DOCS, BATCH_DOCS),
        "ingest_increments": (INGEST_DOCS,),
    }[workload]
    return {n: loadgen.corpus_paths(work, n, seed) for n in sizes}


def traced_op(ctx: Ctx, i: int) -> bool:
    return ctx.trace and i % ctx.per_slot == ctx.per_slot - 1


def _loop(ctx: Ctx, op, check, prepare=None, paired: bool = True, max_ops=None) -> LoopResult:
    """Closed loop over the time budget, times two when a traced run pairs
    each traced op with an untraced one."""
    ctx.per_slot = 2 if ctx.trace and paired else 1
    return closed_loop(
        op, check, ctx.seconds * ctx.per_slot, min_ops=ctx.per_slot, max_ops=max_ops,
        prepare=prepare, group=ctx.per_slot,
    )


def _check_clusters(clusters, n_docs: int) -> str | None:
    row = clusters.agg(
        F.count("*").alias("n"),
        F.count("entity_id").alias("n_assigned"),
        F.countDistinct("doc_id").alias("n_distinct"),
    ).first()
    if not (row["n"] == row["n_assigned"] == row["n_distinct"] == n_docs):
        return f"clusters: {row.asDict()} for {n_docs} docs"
    return None


def _fingerprint(clusters) -> int:
    return clusters.agg(F.bit_xor(F.xxhash64("doc_id", "entity_id"))).first()[0]


# ---------------------------------------------------------------------------
# batch_dedupe: run_pipeline over the whole corpus, clusters materialized
# ---------------------------------------------------------------------------


def warm_up(spark, paths: dict) -> None:
    """A small full pipeline: compiles code paths and starts Python workers."""
    res = run_pipeline(read_documents(spark, paths["spans_documents"]))
    res.clusters.count()
    res.features.unpersist()
    res.scored.unpersist()


class _LayerRunner(StageRunner):
    """``run_pipeline``'s stage hook for a traced op: each stage runs inside
    its layer's span and is persisted and counted there, so each span covers
    one layer's work.  Nothing is checkpointed to disk."""

    LAYERS = {"normalize": "normalize", "block": "blocking", "pairs": "pairs",
              "score": "scoring", "cluster": "cluster"}

    def __init__(self, ctx: Ctx, i: int, counters: dict):
        self.ctx, self.i, self.c = ctx, i, counters
        self.held = []

    def run(self, stage, fn, key_col=None, rows_in=None):
        layer, tr, sc = self.LAYERS[stage], self.ctx.tracer, self.ctx.spark.sparkContext
        with tr.span(layer, self.i):
            before = cached_rdd_bytes(sc)
            df = fn().persist()
            n = df.count()
            after = cached_rdd_bytes(sc)
        self.held.append(df)
        if layer == "scoring":
            with tr.span("trace", self.i):
                n_matches = df.where(F.col("is_match")).count()
            self.c["scoring.pairs_scored"] += n
            self.c["scoring.matches"] += n_matches
            self.c["cluster.edges_in"] += n_matches
        elif layer != "cluster":
            self.c[f"{layer}.rows_out"] += n
        if layer == "pairs":
            self.c["pairs.cache_mb"] += sum(v for k, v in after.items() if k not in before) / MB
        return df


def batch_dedupe(ctx: Ctx, paths: dict) -> Outcome:
    spark, tr = ctx.spark, ctx.tracer
    t0 = time.perf_counter()
    warm_up(spark, paths[WARMUP_DOCS])
    setup_s = time.perf_counter() - t0

    docs = read_documents(spark, paths[BATCH_DOCS]["spans_documents"])
    labels = spark.read.parquet(paths[BATCH_DOCS]["labeled_pairs"])
    out = Outcome(LoopResult(), setup_s, 0.0, None)
    first: dict = {}

    def op(i):
        if not traced_op(ctx, i):
            res = run_pipeline(docs, CFG)
            clusters = res.clusters.persist()
            clusters.count()
            return res.blocks, clusters, [res.features, res.scored, clusters]
        out.op_spans.append(len(tr.spans))
        runner = _LayerRunner(ctx, i, out.counters)
        with tr.span("op", i):
            res = run_pipeline(docs, CFG, runner=runner)
        return res.blocks, res.clusters, runner.held

    def check(i, result):
        blocks, clusters, held = result
        try:
            err = _check_clusters(clusters, BATCH_DOCS)
            if err:
                raise AssertionError(err)
            fp = _fingerprint(clusters)
            if not first:
                f1 = pairwise_f1(labels, blocks, clusters)["f1"]
                first.update(fp=fp, f1=f1)
                if f1 < F1_GATE:
                    raise AssertionError(f"f1 {f1:.4f} < {F1_GATE}")
            elif fp != first["fp"]:
                raise AssertionError(f"op {i}: clusters differ from op 0")
            if traced_op(ctx, i):  # non-singleton components, as the CC output holds
                out.counters["cluster.components"] += (
                    clusters.where(F.col("doc_id") != F.col("entity_id"))
                    .select("entity_id").distinct().count()
                )
            return BATCH_DOCS
        finally:
            for df in held:
                df.unpersist()

    with CachePeak(spark.sparkContext) as peak:
        out.loop = _loop(ctx, op, check)
    out.cache_peak_mb = peak.peak_mb
    out.f1 = first.get("f1")
    return out


# ---------------------------------------------------------------------------
# ingest_increments: fold one doc_id-range slice into an empty store, then
# answer a query batch over it
# ---------------------------------------------------------------------------


def _slice(docs, lo: int, hi: int):
    a, b = loadgen.id_range(lo, hi, INGEST_DOCS)
    return docs.where(F.col("doc_id").between(a, b))


class _IngestWrappers:
    """Pass-through spans on the eager calls ``plans.ingest`` makes.

    The wrapped names are the ones ``plans.ingest`` imported; arguments and
    results pass through untouched.  Counting happens in ``trace`` spans
    after each call, on inputs the call has already materialized or that the
    store mutation has not touched yet."""

    def __init__(self, ctx: Ctx, i: int, c: dict):
        self.ctx, self.i, self.c = ctx, i, c
        self.orig = (ingest_plan.upsert_entities, ingest_plan.connected_components)

    def upsert(self, *args, **kwargs):
        tr = self.ctx.tracer
        with tr.span("merge", self.i):
            res = self.orig[0](*args, **kwargs)
        call = inspect.signature(self.orig[0]).bind(*args, **kwargs)
        call.apply_defaults()
        a = call.arguments
        self.c["merge.rows_rewritten"] += res["n_upserted"]
        table = os.path.basename(a["target_path"].rstrip("/"))
        if table != "entities":  # entity updates are counted by ingest's stats
            with tr.span("trace", self.i):
                n = a["updates"].select(a["key_col"]).distinct().count()
            self.c["merge.rows_upserted"] += n
            self.c[{"features": "normalize", "blocks": "blocking"}[table] + ".rows_out"] += n
        return res

    def cc(self, edges, *args, **kwargs):
        tr = self.ctx.tracer
        with tr.span("cluster", self.i):
            comps = self.orig[1](edges, *args, **kwargs)
        with tr.span("trace", self.i):
            self.c["cluster.edges_in"] += edges.count()
            self.c["cluster.components"] += comps.select("entity_id").distinct().count()
        return comps

    def __enter__(self):
        ingest_plan.upsert_entities, ingest_plan.connected_components = self.upsert, self.cc
        return self

    def __exit__(self, *exc):
        ingest_plan.upsert_entities, ingest_plan.connected_components = self.orig


def _count_files(root: str) -> int:
    return sum(
        name.endswith(".parquet") for _, _, names in os.walk(root) for name in names
    )


def ingest_increments(ctx: Ctx, paths: dict) -> Outcome:
    """One op folds a slice into an empty store, cold (the run's first
    engine work, as in a short-lived ingest job), then searches the new
    store for the slice's own text: the ingested records must be findable.
    A run makes exactly one op, so every op starts from the same state; a
    traced op is traced whole."""
    spark, tr = ctx.spark, ctx.tracer
    p = paths[INGEST_DOCS]
    docs = read_documents(spark, p["spans_documents"])
    store = EntityStore(os.path.join(ctx.work, "store"))
    lo = ctx.seed % INGEST_SLICES * INGEST_SLICE
    hi = lo + INGEST_SLICE
    batch = loadgen.query_batches(p, INGEST_DOCS, ctx.seed, [(lo, hi)])[0]
    out = Outcome(LoopResult(), 0.0, 0.0, None)
    c = out.counters

    def search(batch):
        feats = read_entities(spark, store.features).select("doc_id", "norm_text")
        return bm25_topk(feats, batch, k=SEARCH_K, text_col="norm_text").collect()

    def prepare(i):
        shutil.rmtree(store.root, ignore_errors=True)

    def op(i):
        inc = _slice(docs, lo, hi)
        if not ctx.trace:
            return ingest_increment(inc, store, CFG), search(batch)
        out.op_spans.append(len(tr.spans))
        with tr.span("op", i):
            with _IngestWrappers(ctx, i, c), tr.span("ingest", i):
                stats = ingest_increment(inc, store, CFG)
            with tr.span("search", i):
                return stats, search(batch)

    def check(i, result):
        stats, rows = result
        if stats["n_docs_in"] != INGEST_SLICE:
            raise AssertionError(f"op {i}: ingested {stats['n_docs_in']} docs")
        err = _check_clusters(read_store_entities(spark, store), INGEST_SLICE)
        if err:
            raise AssertionError(f"op {i}: {err}")
        ref = bm25_reference(
            os.path.join(os.path.dirname(p["spans_documents"]), f"bm25-ref-{lo}-{hi}.json"),
            lambda: read_entities(spark, store.features)
            .select("doc_id", F.col("norm_text").alias("text")).toPandas(),
            batch,
            SEARCH_K,
        )
        _check_rankings(i, batch, rows, ref)
        if traced_op(ctx, i):
            c["merge.rows_upserted"] += stats["n_docs_reassigned"]
            c["ingest.reassigned"] += stats["n_docs_reassigned"]
            c["ingest.docs_in"] += stats["n_docs_in"]
            c["pairs.rows_out"] += stats["n_pairs_scored"]
            c["scoring.pairs_scored"] += stats["n_pairs_scored"]
            c["scoring.matches"] += stats["n_matches"]
        return INGEST_SLICE

    with CachePeak(spark.sparkContext) as peak:
        out.loop = _loop(ctx, op, check, prepare=prepare, paired=False, max_ops=1)
    out.cache_peak_mb = peak.peak_mb

    # the op's store must cluster at the F1 gate
    entities = read_store_entities(spark, store)
    blocks = read_entities(spark, store.blocks).select("block_key", "doc_id")
    out.f1 = pairwise_f1(spark.read.parquet(p["labeled_pairs"]), blocks, entities)["f1"]
    if out.f1 < F1_GATE:
        out.notes.append(f"final store check failed: f1 {out.f1:.4f} < {F1_GATE}")
        out.loop.failed, out.loop.items = out.loop.attempted, 0
    c["merge.store_files"] = _count_files(store.root)
    return out


def _check_rankings(i: int, batch, rows, ref: dict) -> None:
    got = defaultdict(list)
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        got[r["query_id"]].append([r["doc_id"], r["rank"]])
    for qid, _ in batch:
        if got.get(qid, []) != ref[qid]:
            raise AssertionError(f"op {i}: ranking of {qid} differs from the DuckDB reference")


WORKLOADS = {
    "batch_dedupe": batch_dedupe,
    "ingest_increments": ingest_increments,
}
