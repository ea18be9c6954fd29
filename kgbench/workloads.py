"""The two workloads. Each is one client in one process, closed loop: it
starts the next operation only when the previous one has finished.

A workload gets a ``Ctx`` with the session, its seeded inputs and, on a
traced run, a ``Tracer``; it returns the samples ``run.py`` turns into
metrics. Outputs are checked on every run, traced or not.
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import re
import shutil
import time
from collections import Counter
from contextlib import nullcontext
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import functions as F

from cpg_spark import catalog as catalog_mod
from cpg_spark import lineage
from cpg_spark.operators import canonicalize, extract, iterutil, link, materialize
from cpg_spark.plans import curation
from cpg_spark.schema import PAGES
from cpg_spark.streaming import pipeline as sp

from . import inputs
from .trace import Tracer

# The first micro-batch of a drain pays for the JVM's cold start and is
# not measured. The run budget leaves no room for a longer warm-up.
WARMUP_BATCHES = 1
# Time of one measured unit on a loaded 4-core host; a run measures
# --seconds / UNIT_S units.
STREAM_BATCH_S = 5.0
CURATION_ITER_S = 20.0


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: Tracer | None
    attempted: int = 0
    failed: int = 0
    checks: dict[str, bool] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)

    def op(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def check(self, name: str, ok: bool) -> None:
        self.checks[name] = bool(ok)
        self.op(bool(ok))

    def span(self, name: str, layer: str):
        return self.tracer.span(name, layer) if self.tracer else nullcontext()


@dataclass
class Result:
    unit_s: list[float]  # wall of each measured unit
    items: list[int]  # items each measured unit processed
    warmup_s: list[float]
    resume_s: float
    heap_mb: float
    window: tuple[float, float]  # measured loop, monotonic seconds
    layer: dict = field(default_factory=dict)  # per-layer counters and samples


def live_heap_mb(spark) -> float:
    """JVM heap in use after explicit full collections, repeated until two
    readings agree within 1%. Python's collection runs first, so JVM
    objects that only a dead py4j proxy held become unreachable; the
    repeats let the context cleaner release what each collection freed."""
    jvm = spark._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    prev = None
    for _ in range(4):
        gc.collect()
        jvm.java.lang.System.gc()
        used = mem.getHeapMemoryUsage().getUsed() / (1024 * 1024)
        if prev is not None and abs(used - prev) <= 0.01 * prev:
            break
        prev = used
        time.sleep(0.2)
    return used


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


# -- kg_stream -------------------------------------------------------------------


def stream_files(seconds: float) -> int:
    """Page files the first drain reads: warm-up plus measured batches."""
    return WARMUP_BATCHES + max(3, round(seconds / STREAM_BATCH_S))


def setup_kg_stream(spark, work: str, seed: int, seconds: float):
    from cpg_spark import synth_spark

    files = inputs.write_page_files(seed, stream_files(seconds) + 1, work)
    return files, synth_spark.alias_dict_df(spark)


def _land(files: list[str], src: str) -> None:
    """Copy page files into the stream's source directory with increasing
    modification times; the file source reads the oldest first."""
    os.makedirs(src, exist_ok=True)
    base = time.time() - 3600
    for f in files:
        dest = os.path.join(src, os.path.basename(f))
        shutil.copyfile(f, dest)
        n = int(re.search(r"(\d+)\.parquet$", f).group(1))
        os.utime(dest, (base + n, base + n))


def _drain(ctx: Ctx, src: str, alias, graph: str, ck: str, name: str):
    with ctx.span("ingest_graph_stream", "streaming") as idx:
        if ctx.tracer is not None:
            ctx.tracer.root = idx
        q = sp.ingest_graph_stream(
            ctx.spark, src, alias, graph, ck, query_name=name, max_files_per_trigger=1
        )
        q.awaitTermination()
    if ctx.tracer is not None:
        ctx.tracer.root = None
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    ok = q.exception() is None
    for _ in batches:
        ctx.op(ok)
    if not ok:
        ctx.op(False)
        ctx.notes.append(f"{name}: {q.exception()}")
    return batches


def _trace_stream(tracer: Tracer) -> None:
    def make_commit(orig):
        def commit(sink, df, batch_id):
            with tracer.span("SnapshotMergeSink.commit", "streaming"):
                orig(sink, df, batch_id)
            tracer.count("streaming.bytes_written", dir_bytes(os.path.join(sink.out_dir, f"v{batch_id:06d}")))

        return commit

    def make_guard(orig):
        def guard(sink, batch_id):
            with tracer.span("SnapshotMergeSink.guard", "streaming"):
                cur = orig(sink, batch_id)
            if isinstance(cur, dict):
                tracer.count("streaming.merge_read", dir_bytes(cur["path"]))
            return cur

        return guard

    tracer.patch(sp.SnapshotMergeSink, "commit", make_commit)
    tracer.patch(sp.SnapshotMergeSink, "guard", make_guard)
    tracer.wrap(materialize, "merge_triples_agg", "streaming")
    tracer.wrap(canonicalize, "canonical_map", "canonicalize")
    # each micro-batch builds its plan through these before the commit runs it
    for fn in ("sentences", "mentions"):
        tracer.wrap(extract, fn, "extract")
    tracer.wrap(link, "link_mentions", "link")
    for fn in ("canonical_links", "triples_from_links", "triples_agg"):
        tracer.wrap(materialize, fn, "materialize")


def _batch_time(p: dict) -> tuple[float, float]:
    """(start epoch ms, seconds) of one micro-batch from its progress."""
    ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() * 1e3
    return ts, p["durationMs"]["triggerExecution"] / 1e3


def _engine_s(p: dict) -> float:
    """Seconds of a micro-batch the stream engine spends outside the
    foreachBatch call: offset and commit logs, source listing, planning."""
    d = p["durationMs"]
    return (d["triggerExecution"] - d.get("addBatch", 0)) / 1e3


def run_kg_stream(ctx: Ctx, files: list[str], alias) -> Result:
    spark, work = ctx.spark, ctx.work
    src, graph, ck = (os.path.join(work, d) for d in ("stream-src", "graph", "stream-ck"))
    layer: dict[str, float] = {}
    if ctx.tracer is not None:
        _trace_stream(ctx.tracer)

    _land(files[:-1], src)
    batches = _drain(ctx, src, alias, graph, ck, "kg_stream")
    t1, e1 = time.monotonic(), time.time()
    times = [_batch_time(p)[1] for p in batches]
    warm = WARMUP_BATCHES
    measured = batches[warm:]
    # the measured window opens when the first measured batch starts
    t0 = t1 - (e1 - _batch_time(measured[0])[0] / 1e3)
    heap = live_heap_mb(spark)

    # resume: one more page file lands; restart the query on the same
    # checkpoint and graph, which must read only the new file
    _land(files[-1:], src)
    r0 = time.monotonic()
    resumed = _drain(ctx, src, alias, graph, ck, "kg_stream_resume")
    resume_s = time.monotonic() - r0
    ctx.check("resume_reads_only_new_file", len(resumed) == 1)
    with open(os.path.join(graph, "CURRENT")) as f:
        ctx.check("every_batch_committed", json.load(f)["batch_id"] == len(files) - 1)

    _check_merge_property(ctx, src, alias, graph, layer)
    layer["streaming.batch_times"] = [_batch_time(p) for p in measured]
    layer["streaming.engine_s"] = sum(_engine_s(p) for p in measured)
    return Result(
        unit_s=[_batch_time(p)[1] for p in measured],
        items=[inputs.PAGES_PER_FILE] * len(measured),
        warmup_s=times[:warm],
        resume_s=resume_s,
        heap_mb=heap,
        window=(t0, t1),
        layer=layer,
    )


def _check_merge_property(ctx: Ctx, src: str, alias, graph: str, layer: dict) -> None:
    """The streamed graph equals the batch triples_agg over the same pages.
    A traced run materializes each layer's output in that layer's span,
    which is where it measures extract, link and materialize."""
    spark = ctx.spark
    cached = []

    def step(name: str, lay: str, df):
        if ctx.tracer is None:
            return df
        with ctx.span(name, lay):
            df = df.cache()
            layer[f"{lay}.rows"] = df.count()
        cached.append(df)
        return df

    pages = spark.read.schema(PAGES).parquet(src)
    ment = step("sentences+mentions", "extract", extract.mentions(extract.sentences(pages)))
    links = step("link_mentions", "link", link.link_mentions(ment, alias))
    with ctx.span("canonical_map", "canonicalize"):
        comps = canonicalize.canonical_map(alias)
    clinks = materialize.canonical_links(links, comps)
    ref = materialize.triples_agg(materialize.triples_from_links(clinks, comps))
    ref = step("triples_agg", "materialize", ref) if ctx.tracer else ref.cache()
    cached.append(ref)
    got = sp.read_current_graph(spark, graph)
    # the graph is small: compare the two row multisets on the driver
    want, have = (Counter(map(tuple, df.select(*ref.columns).collect())) for df in (ref, got))
    ctx.check("stream_graph_equals_batch_graph", want == have and len(have) > 0)
    if ctx.tracer is not None:
        n_ment = layer["extract.rows"]
        layer["extract.mentions_out"] = n_ment
        layer["link.dict_hit_ratio"] = links.filter(~F.col("is_inferred")).count() / n_ment
        layer["canonicalize.edges_in"] = canonicalize.dict_duplicate_edges(alias).count()
        with open(os.path.join(graph, "CURRENT")) as f:
            layer["streaming.final_graph_bytes"] = dir_bytes(json.load(f)["path"])
    for df in cached:
        df.unpersist()


# -- curation --------------------------------------------------------------------

# stage -> the layer whose operators the stage runs
CURATION_LAYER = {
    "gate": "textstats",
    "candidates": "dedup",
    "verified_edges": "dedup",
    "dup_map": "canonicalize",
    "kept": "plans",
}


def setup_curation(spark, work: str, seed: int, seconds: float):
    path = os.path.join(work, "docs")
    inputs.write_near_dup_docs(seed, spark.sparkContext.defaultParallelism, path)
    return (spark.read.parquet(path),)


def _trace_curation(tracer: Tracer) -> None:
    cp = curation.CurationPipeline
    tracer.wrap(cp, "run", "plans", "CurationPipeline.run")
    tracer.wrap(cp, "_stage", lambda self, name, *a, **k: (CURATION_LAYER[name], name))
    cat = catalog_mod.SnapshotCatalog
    tracer.wrap(cat, "write", "catalog", "SnapshotCatalog.write", count="catalog.commits")
    tracer.wrap(cat, "read", "catalog", "SnapshotCatalog.read")
    tracer.wrap(cat, "has_snapshot", "catalog", "SnapshotCatalog.has_snapshot")
    tracer.wrap(lineage, "append_lineage", "lineage", "append_lineage")
    tracer.wrap(canonicalize, "connected_components", "canonicalize", count="canonicalize.cc_calls")
    tracer.wrap(canonicalize, "_checksum", None, count="canonicalize.checksums")
    # canonicalize binds iterutil.ckpt at import; dedup imports it per call
    tracer.wrap(canonicalize, "_ckpt", None, count="iterutil.checkpoints")
    tracer.wrap(iterutil, "ckpt", None, count="iterutil.checkpoints")


def _kept_digest(kept) -> str:
    ids = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    return hashlib.sha1(",".join(map(str, ids)).encode()).hexdigest()


def run_curation(ctx: Ctx, docs) -> Result:
    spark, work = ctx.spark, ctx.work
    token = f"near-dup-{ctx.seed}"
    if ctx.tracer is not None:
        _trace_curation(ctx.tracer)
    digests = []

    def one(i: int, src, tok: str):
        """One staged run of ``src`` into an empty warehouse; returns
        (start, wall, outputs, warehouse)."""
        wh = os.path.join(work, f"curation-wh{i}")
        p = curation.CurationPipeline(spark, wh, run_id=f"it{i}", min_quality=inputs.MIN_QUALITY)
        t = time.monotonic()
        out = p.run(src, tok)
        wall = time.monotonic() - t
        ctx.op(p.ran == list(curation.CURATION_STAGES))
        return t, wall, out, wh

    # warm-up: the first staged run in a JVM pays about 20 s for class
    # loading, JIT, codegen and Python worker start, whatever its input
    # size, and is not measured. Its input is a quarter of the corpus with
    # edges still above driver_threshold, so every stage, the star loop
    # included, runs.
    doc_id = F.col("doc_id")
    sub = docs.filter(
        (doc_id < inputs.WARMUP_CLUSTERS * inputs.CLUSTER_SIZE)
        | (doc_id >= inputs.N_CLUSTERS * inputs.CLUSTER_SIZE)
    )
    warmup = [one(0, sub, token + "-warmup")[1]]
    n_iter = max(1, round(ctx.seconds / CURATION_ITER_S))
    walls = []
    for i in range(1, n_iter + 1):
        t, wall, out, wh = one(i, docs, token)
        walls.append(wall)
        digests.append(_kept_digest(out["kept"]))
        if i == 1:
            t0 = t
    t1 = t + wall
    heap = live_heap_mb(spark)
    persisted = len(spark.sparkContext._jsc.getPersistentRDDs())

    # resume: drop the last two snapshots, as a kill before they committed
    cat = catalog_mod.SnapshotCatalog(wh)
    for stage in ("dup_map", "kept"):
        cat.drop(stage)
    p = curation.CurationPipeline(spark, wh, run_id="resume", min_quality=inputs.MIN_QUALITY)
    r0 = time.monotonic()
    out = p.run(docs, token)
    resume_s = time.monotonic() - r0
    ctx.check("resume_reran_only_dropped", p.ran == ["dup_map", "kept"] and p.skipped == ["gate", "candidates", "verified_edges"])
    digests.append(_kept_digest(out["kept"]))
    ctx.check("kept_digest_stable", len(set(digests)) == 1)

    layer = _check_curation(ctx, docs, out)
    layer["iterutil.persisted_rdds_after"] = persisted
    layer["plans.stages_ran"] = len(p.ran)
    layer["plans.stages_skipped"] = len(p.skipped)
    return Result(
        unit_s=walls,
        items=[inputs.n_docs()] * len(walls),
        warmup_s=warmup,
        resume_s=resume_s,
        heap_mb=heap,
        window=(t0, t1),
        layer=layer,
    )


def _norm(text: str) -> str:
    """dedup.normalized_text: lower, trim, collapse whitespace."""
    return re.sub(r"\s+", " ", text.strip().lower())


def _check_curation(ctx: Ctx, docs, out) -> dict[str, float]:
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    gated = {r["doc_id"] for r in out["gate"].filter(F.col("gated")).select("doc_id").collect()}
    merged = [
        (r["doc_id"], r["canonical_id"])
        for r in out["dup_map"].filter(F.col("doc_id") != F.col("canonical_id")).collect()
    ]
    kept_rows = out["kept"].select("doc_id", "text").collect()
    kept = {r["doc_id"] for r in kept_rows}
    dropped = gated | {d for d, _ in merged}
    ctx.check("kept_and_dropped_partition_input", not (kept & dropped) and kept | dropped == all_ids)
    ctx.check("kept_texts_distinct", len({_norm(r["text"]) for r in kept_rows}) == len(kept_rows))
    # LSH may miss a member (kept on its own), but a merge across planted
    # clusters, or of a singleton, is wrong
    ctx.check(
        "merges_stay_in_planted_clusters",
        all(inputs.cluster_of(d) is not None and inputs.cluster_of(d) == inputs.cluster_of(c) for d, c in merged),
    )
    n_edges = out["verified_edges"].count()
    ctx.check("star_loop_ran", n_edges > inputs.CC_DRIVER_THRESHOLD)
    n_cand = out["candidates"].count()
    # verified_edges is the Jaccard-verified candidates plus one edge per
    # exact duplicate among the gate survivors
    seen: set[str] = set()
    n_exact = 0
    for r in docs.filter(~F.col("doc_id").isin(list(gated))).select("text").collect():
        n_exact += _norm(r["text"]) in seen
        seen.add(_norm(r["text"]))
    return {
        "textstats.gate_pass_ratio": 1 - len(gated) / len(all_ids),
        "dedup.candidate_pairs": n_cand,
        "dedup.verify_yield": (n_edges - n_exact) / n_cand if n_cand else 0.0,
        "canonicalize.edges_in": n_edges,
    }


def lazy_curate_attempt(ctx: Ctx, docs) -> str | None:
    """One lazy ``curate()`` over the same corpus. Returns the error class
    when it raises. ``curate`` caches its annotated and candidate frames
    and leaks them when it raises, so the cache is cleared either way."""
    try:
        res = curation.curate(docs, min_quality=inputs.MIN_QUALITY)
        res["kept"].count()
        res["unpersist"]()
        return None
    except Exception as e:  # noqa: BLE001 - the class is the measurement
        return type(e).__name__
    finally:
        ctx.spark.catalog.clearCache()
