"""Benchmark entry point.

    python3 kgbench/run.py --workload kg_stream --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
run installs span wrappers, writes a Spark event log and prints the
per-layer ones instead. Scratch files live in ``.kgbench/`` under the
repository root. See DESIGN.md for the workloads and their sizing.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".kgbench")
WORK = os.path.join(STATE, "work")
SETUP_REPEATS = 3

END_TO_END = {
    "items_per_s": "1/s",
    "resume_s": "s",
    "jvm_live_heap_mb": "MB",
    "ops_ok_ratio": "ratio",
    "setup_s": "s",
}

# per-layer metric -> unit; every traced run prints all of them, and a
# layer a workload does not run reads 0
PER_LAYER = {
    "session.start_s": "s",
    "sources.gen_s": "s",
    "engine.jobs": "count",
    "engine.tasks": "count",
    "engine.task_retries": "count",
    "engine.cpu_s": "s",
    "engine.gc_s": "s",
    "engine.host_steal_s": "s",
    "engine.trace_overhead_s": "s",
    "engine.attributed_pct": "%",
    "plans.driver_s": "s",
    "plans.stages_ran": "count",
    "plans.stages_skipped": "count",
    "plans.lazy_curate_failed": "count",
    "extract.self_pct": "%",
    "extract.cpu_pct": "%",
    "extract.mentions_out": "count",
    "link.self_pct": "%",
    "link.dict_hit_ratio": "ratio",
    "materialize.self_pct": "%",
    "materialize.shuffle_write_mb": "MB",
    "materialize.spill_mb": "MB",
    "materialize.task_skew": "ratio",
    "streaming.self_pct": "%",
    "streaming.commit_pct": "%",
    "streaming.driver_share": "ratio",
    "streaming.merge_read_mb": "MB",
    "streaming.write_amplification": "ratio",
    "canonicalize.self_pct": "%",
    "canonicalize.cc_rounds": "count",
    "canonicalize.edges_in": "count",
    "textstats.self_pct": "%",
    "textstats.gate_pass_ratio": "ratio",
    "dedup.self_pct": "%",
    "dedup.cpu_pct": "%",
    "dedup.shuffle_write_mb": "MB",
    "dedup.candidate_pairs": "count",
    "dedup.verify_yield": "ratio",
    "catalog.self_pct": "%",
    "catalog.commits": "count",
    "catalog.bytes_written_mb": "MB",
    "lineage.self_pct": "%",
    "lineage.jobs": "count",
    "iterutil.checkpoints": "count",
    "iterutil.persisted_rdds_after": "count",
}

MIN_ATTRIBUTED_PCT = 90.0


def log(msg: str) -> None:
    print(f"[kgbench] {msg}", file=sys.stderr, flush=True)


def driver_memory() -> str:
    """A quarter of host RAM, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(4096, max(1024, kb // 1024 // 4))}m"


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def start_session(trace: bool):
    from cpg_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": driver_memory(),
        "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(WORK, "events")
        os.makedirs(events, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("kgbench", master=f"local[{cpus}]", shuffle_partitions=cpus, extra_conf=conf)


def gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def _state_path(workload: str) -> str:
    return os.path.join(STATE, f"untraced-{workload}.json")


def end_to_end(res, ctx, setup_s: float) -> dict[str, float]:
    rates = [n / s for n, s in zip(res.items, res.unit_s)]
    return {
        "items_per_s": statistics.median(rates),
        "resume_s": res.resume_s,
        "jvm_live_heap_mb": res.heap_mb,
        "ops_ok_ratio": (ctx.attempted - ctx.failed) / ctx.attempted,
        "setup_s": setup_s,
    }


def per_layer(res, tracer, stats, workload, extra) -> dict[str, float]:
    from kgbench import trace

    w0, w1 = extra["window"]
    wall = w1 - w0
    selfs = trace.layer_self_times(tracer.spans, (w0, w1))
    layers = trace.by_layer(stats)
    total_cpu = sum(st.cpu_s for st in stats.values())

    def pct(x: float, of: float) -> float:
        return 100.0 * x / of if of > 0 else 0.0

    def get(name: str) -> trace.LabelStats:
        return layers.get(name, trace.LabelStats())

    lay = res.layer
    out = {k: 0.0 for k in PER_LAYER}
    for name in ("extract", "link", "materialize", "streaming", "canonicalize", "textstats", "dedup", "catalog", "lineage"):
        out[f"{name}.self_pct"] = pct(selfs.get(name, 0.0), wall)
    for name in ("extract", "dedup"):
        out[f"{name}.cpu_pct"] = pct(get(name).cpu_s, total_cpu)

    m0, m1 = res.window
    all_jobs = [(a / 1e3, b / 1e3) for st in stats.values() for a, b in st.job_spans_ms]

    def job_time(a: float, b: float) -> float:
        """Seconds of the epoch interval [a, b] some Spark job covers."""
        return trace.union([(max(x, a), min(y, b)) for x, y in all_jobs if y > a and x < b])

    out.update(
        {
            "session.start_s": extra["session_s"],
            "sources.gen_s": statistics.median(extra["gen_s"]),
            "engine.jobs": sum(st.jobs for st in stats.values()),
            "engine.tasks": sum(st.tasks for st in stats.values()),
            "engine.task_retries": sum(st.retries for st in stats.values()),
            "engine.cpu_s": total_cpu,
            "engine.gc_s": extra["gc_s"],
            "engine.host_steal_s": extra["steal_s"],
            "engine.trace_overhead_s": extra["trace_overhead_s"],
            # named layers below the workload's root span, plus the stream
            # engine's own share of each micro-batch
            "engine.attributed_pct": pct(
                trace.attributed(tracer.spans, (m0, m1)) + lay.get("streaming.engine_s", 0.0), m1 - m0
            ),
            # wall of the measured loop that no Spark job covers
            "plans.driver_s": (m1 - m0) - job_time(extra["epoch_m0"], extra["epoch_m1"]),
            "plans.lazy_curate_failed": extra.get("lazy_curate_failed", 0),
            "materialize.shuffle_write_mb": get("materialize").shuffle_write_mb,
            "materialize.spill_mb": get("materialize").spill_mb,
            "materialize.task_skew": get("materialize").task_skew(),
            "dedup.shuffle_write_mb": get("dedup").shuffle_write_mb,
            "catalog.commits": tracer.counts.get("catalog.commits", 0),
            "catalog.bytes_written_mb": get("catalog").output_mb,
            "lineage.jobs": get("lineage").jobs,
            "iterutil.checkpoints": tracer.counts.get("iterutil.checkpoints", 0),
        }
    )
    for key in ("extract.mentions_out", "link.dict_hit_ratio", "canonicalize.edges_in", "textstats.gate_pass_ratio", "dedup.candidate_pairs", "dedup.verify_yield", "iterutil.persisted_rdds_after", "plans.stages_ran", "plans.stages_skipped"):
        if key in lay:
            out[key] = lay[key]
    cc_calls = tracer.counts.get("canonicalize.cc_calls", 0)
    if cc_calls:
        out["canonicalize.cc_rounds"] = tracer.counts.get("canonicalize.checksums", 0) / cc_calls - 1
    if workload == "kg_stream":
        out["streaming.commit_pct"] = pct(
            sum(sp.end - sp.start for sp in tracer.spans if sp.name == "SnapshotMergeSink.commit" and sp.start >= w0),
            wall,
        )
        out["streaming.merge_read_mb"] = tracer.counts.get("streaming.merge_read", 0) / trace.MB
        final = lay["streaming.final_graph_bytes"]
        out["streaming.write_amplification"] = tracer.counts.get("streaming.bytes_written", 0) / final if final else 0.0
        out["streaming.driver_share"] = statistics.median(
            (secs - job_time(start_ms / 1e3, start_ms / 1e3 + secs)) / secs
            for start_ms, secs in lay["streaming.batch_times"]
        )
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("kg_stream", "curation"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")

    t = time.monotonic()
    spark = start_session(bool(args.trace))
    session_s = time.monotonic() - t
    try:
        return _run(args, spark, session_s)
    finally:
        spark.stop()
        stop_jvm()
        shutil.rmtree(WORK, ignore_errors=True)


def stop_jvm() -> None:
    """End the JVM that PySpark launched and wait for it to exit. It exits
    when its standard input closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _run(args, spark, session_s: float) -> int:
    from kgbench import trace, workloads

    setup = {"kg_stream": workloads.setup_kg_stream, "curation": workloads.setup_curation}[args.workload]
    run = {"kg_stream": workloads.run_kg_stream, "curation": workloads.run_curation}[args.workload]

    # input generation repeats into the same directory; setup_s takes the median
    gen_s = []
    for i in range(SETUP_REPEATS):
        shutil.rmtree(os.path.join(WORK, "inputs"), ignore_errors=True)
        t = time.monotonic()
        inputs = setup(spark, os.path.join(WORK, "inputs"), args.seed, args.seconds)
        gen_s.append(time.monotonic() - t)
        log(f"setup {i}: {gen_s[-1]:.2f}s")
    setup_s = session_s + statistics.median(gen_s)

    tracer = trace.Tracer(sc=spark.sparkContext) if args.trace else None
    ctx = workloads.Ctx(spark, WORK, args.seed, args.seconds, tracer)
    gc0, steal0 = gc_seconds(spark), steal_ticks()
    w0, e0 = time.monotonic(), time.time()
    res = run(ctx, *inputs)
    w1 = time.monotonic()
    extra = {
        "window": (w0, w1),
        "session_s": session_s,
        "gen_s": gen_s,
        "gc_s": gc_seconds(spark) - gc0,
        "steal_s": (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK"),
        # monotonic -> epoch seconds, for matching event-log timestamps
        "epoch_m0": e0 + (res.window[0] - w0),
        "epoch_m1": e0 + (res.window[1] - w0),
    }
    log(
        f"session {session_s:.2f}s, workload {w1 - w0:.2f}s, warm-up {res.warmup_s}, "
        f"measured {res.unit_s}, resume {res.resume_s:.2f}s, host steal {extra['steal_s']:.2f}s"
    )
    unit_median = statistics.median(res.unit_s)

    if not args.trace:
        with open(_state_path(args.workload), "w") as f:
            json.dump({"unit_s": unit_median}, f)
        metrics = {k: (v, END_TO_END[k]) for k, v in end_to_end(res, ctx, setup_s).items()}
    else:
        tracer.unpatch()
        end_ms = time.time() * 1e3
        if args.workload == "curation":
            err = workloads.lazy_curate_attempt(ctx, inputs[0])
            print(f"lazy curate(): {'ok' if err is None else 'raised ' + err}")
            extra["lazy_curate_failed"] = 0 if err is None else 1
        try:
            with open(_state_path(args.workload)) as f:
                base = json.load(f)["unit_s"]
            extra["trace_overhead_s"] = unit_median - base
        except FileNotFoundError:
            extra["trace_overhead_s"] = 0.0
            print("note no untraced run of this workload in this checkout; trace_overhead_s reads 0")
        spark.stop()
        (event_log,) = glob.glob(os.path.join(WORK, "events", "*"))
        with open(event_log) as f:
            stats = trace.reduce_event_log(f, until_ms=end_ms)
        for layer, st in sorted(trace.by_layer(stats).items()):
            log(f"layer {layer or '(unlabelled)'}: {st.jobs} jobs, {st.tasks} tasks, {st.run_s:.2f}s task time")
        vals = per_layer(res, tracer, stats, args.workload, extra)
        ctx.check("attributed_to_named_layers", vals["engine.attributed_pct"] >= MIN_ATTRIBUTED_PCT)
        metrics = {k: (v, PER_LAYER[k]) for k, v in vals.items()}

    for name, ok in ctx.checks.items():
        print(f"check {name}: {'ok' if ok else 'FAILED'}")
    for note in ctx.notes:
        print(f"note {note}")
    correct = all(ctx.checks.values()) and ctx.failed == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
