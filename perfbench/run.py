"""Seeded benchmark for the heatmap engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload skewed --seed 1 --seconds 22 --trace 0

Generates (or reuses cached) inputs for the seed, starts Spark with
``local[<cpus>]``, warms up every path of the workload, runs the paths'
closed loops one after the other for ``--seconds`` in all, checks every
output, and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs the
timed phase twice, each for half of ``--seconds`` with at least two
operations of a kind — untraced, then with a span around every layer
call — and prints the per-layer metrics, including the tracing
overhead.  All files go under ``.perfbench/`` in the working directory.
Exits non-zero when an output is wrong or the engine is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import CPUS, cpu_steal_s, steal_adjusted  # noqa: E402

STEAL_PROCESS = cpu_steal_s()

LAYERS = ("sources", "pyramid", "sink", "tile_store", "textops", "dedup", "similarity", "driver")
LAYER_FIELDS = (
    ("self_s", "s"),
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("executor_run_s", "s"),
    ("executor_cpu_s", "s"),
    ("gc_s", "s"),
    ("busy_frac", "ratio"),
    ("spill_bytes", "bytes"),
)
SPECIFIC = (
    ("session.start_s", "s"),
    ("sources.scan_s", "s"),
    ("sources.input_bytes", "bytes"),
    ("pyramid.ingest_s", "s"),
    ("pyramid.rollup_s", "s"),
    ("pyramid.resultsets_s", "s"),
    ("pyramid.rows_out", "count"),
    ("pyramid.shuffle_bytes", "bytes"),
    ("pyramid.shuffle_records_per_row_out", "ratio"),
    ("pyramid.exchanges", "count"),
    ("sink.write_s", "s"),
    ("sink.bytes_out", "bytes"),
    ("tile_store.merge_first_s", "s"),
    ("tile_store.merge_last_s", "s"),
    ("tile_store.buckets_rewritten", "count"),
    ("tile_store.write_amp", "ratio"),
    ("tile_store.jobs_per_merge", "count"),
    ("tile_store.store_bytes", "bytes"),
    ("tile_store.read_resolve_ms", "ms"),
    ("tile_store.read_exec_ms", "ms"),
    ("tile_store.files_per_read", "count"),
    ("tile_store.jobs_per_read", "count"),
    ("textops.quality_s", "s"),
    ("textops.repetition_s", "s"),
    ("textops.kept_frac", "ratio"),
    ("dedup.candidates_s", "s"),
    ("dedup.candidate_pairs", "count"),
    ("dedup.candidate_precision", "ratio"),
    ("dedup.shuffle_bytes", "bytes"),
    ("similarity.exact_s", "s"),
    ("similarity.pairs_scored", "count"),
    ("similarity.codebook_s", "s"),
    ("similarity.assign_s", "s"),
    ("similarity.ivf_query_s", "s"),
    ("similarity.candidates_per_query", "count"),
    ("driver.plan_s", "s"),
    ("bench.self_s", "s"),
    ("trace.wall_s", "s"),
    ("trace.self_sum_s", "s"),
    ("trace.overhead_s", "s"),
    ("trace.overhead_frac", "ratio"),
) + tuple(
    (f"thread.{t}.{f}", u)
    for t in ("writer", "reader")
    for f, u in (("jobs", "count"), ("executor_run_s", "s"), ("busy_frac", "ratio"))
)
PER_LAYER = SPECIFIC + tuple((f"{l}.{f}", u) for l in LAYERS for f, u in LAYER_FIELDS)

# op kinds whose traced-vs-untraced times give the tracing overhead
OVERHEAD_OPS = ("pyramid", "curate")
DRIVER_MEMORY = "2g"


def vm_hwm_mb(pid) -> float:
    """Peak resident set size of a process, from /proc."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def spark_conf(work: str, cores: int) -> dict[str, str]:
    return {
        "spark.master": f"local[{cores}]",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
        "spark.ui.showConsoleProgress": "false",
    }


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def _span_mean(spans, layer, field=None) -> float:
    """Mean duration (``field`` None) or counter of one layer's spans."""
    sel = [s for s in spans if s["layer"] == layer]
    vals = [(s["end"] - s["start"]) if field is None else s["counters"][field] for s in sel]
    return sum(vals) / len(vals) if vals else 0.0


def layer_report(wl, ctx, spans, ops_t, ops_u, cores, start_s) -> dict[str, float]:
    from spans import self_counters, self_times

    st, sc = self_times(spans), self_counters(spans)
    out = dict.fromkeys((n for n, _ in PER_LAYER), 0.0)
    for layer in LAYERS:
        ids = [s["id"] for s in spans if s["layer"] == layer]
        self_s = sum(st[i] for i in ids)
        c = {k: sum(sc[i][k] for i in ids) for k in sc[ids[0]]} if ids else None
        out[f"{layer}.self_s"] = self_s
        if c:
            run_s = c["executorRunTime"] / 1000.0
            out[f"{layer}.jobs"] = c["jobs"]
            out[f"{layer}.stages"] = c["stages"]
            out[f"{layer}.tasks"] = c["numTasks"]
            out[f"{layer}.executor_run_s"] = run_s
            out[f"{layer}.executor_cpu_s"] = c["executorCpuTime"] / 1e9
            out[f"{layer}.gc_s"] = c["jvmGcTime"] / 1000.0
            out[f"{layer}.busy_frac"] = run_s / (self_s * cores) if self_s > 0 else 0.0
            out[f"{layer}.spill_bytes"] = c["diskBytesSpilled"]
    roots = [s for s in spans if s["parent"] is None]
    out["driver.plan_s"] = out["driver.self_s"] / len(ops_t) if ops_t else 0.0
    out["sources.scan_s"] = _span_mean(spans, "sources")
    out["sources.input_bytes"] = _span_mean(spans, "sources", "inputBytes")
    out["sink.write_s"] = _span_mean(spans, "sink")
    out["sink.bytes_out"] = _span_mean(spans, "sink", "outputBytes")
    out["bench.self_s"] = sum(st[s["id"]] for s in spans if s["layer"] == "bench")
    out["trace.wall_s"] = sum(s["end"] - s["start"] for s in roots)
    out["trace.self_sum_s"] = sum(st.values())
    for s in spans:
        if s["name"] in ("thread.writer", "thread.reader"):
            t = s["name"].split(".")[1]
            wall = s["end"] - s["start"]
            run_s = s["counters"]["executorRunTime"] / 1000.0
            out[f"thread.{t}.jobs"] = s["counters"]["jobs"]
            out[f"thread.{t}.executor_run_s"] = run_s
            out[f"thread.{t}.busy_frac"] = run_s / (wall * cores) if wall > 0 else 0.0
    med_t = med_u = 0.0
    for kind in OVERHEAD_OPS:
        walls_t = [o["time"] for o in ops_t if o["kind"] == kind]
        walls_u = [o["time"] for o in ops_u if o["kind"] == kind]
        if walls_t and walls_u:
            med_t += statistics.median(walls_t)
            med_u += statistics.median(walls_u)
    if med_u:
        out["trace.overhead_s"] = med_t - med_u
        out["trace.overhead_frac"] = out["trace.overhead_s"] / med_u
    out["session.start_s"] = start_s
    out.update(wl.layer_metrics(ctx, spans, ops_t))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import heatmap_spark.session  # noqa: F401 — the engine under test
        from pyspark import SparkConf, SparkContext
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {root}: {e}", file=sys.stderr)
        return 2

    from spans import Tracer
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench")
    for d in ("cache", "tmp", "out", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # every JVM spark-submit starts, its launcher included, keeps its
    # temp and perf files inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tempfile.tempdir}"
    cores = CPUS

    wl = WORKLOADS[args.workload]()
    t0, steal0 = time.perf_counter(), cpu_steal_s()
    wl.prepare(os.path.join(work, "cache"), args.seed)
    gen_s, gen_steal = time.perf_counter() - t0, cpu_steal_s() - steal0

    def since_start() -> float:
        """Steal-adjusted time since process start, generation excluded."""
        return steal_adjusted(
            time.perf_counter() - T_PROCESS - gen_s, cpu_steal_s() - STEAL_PROCESS - gen_steal
        )

    # set-up: process start → session ready and workload warmed up
    # (input generation excluded)
    conf = spark_conf(work, cores)
    SparkContext._ensure_initialized(conf=SparkConf().setAll(list(conf.items())))
    from heatmap_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf)
    start_s = since_start()
    tracer = Tracer(bool(args.trace), run_id=f"{args.workload}-{args.seed}")
    ctx = Ctx(spark, Tracer(False, ""), work, args.seed)
    t1 = time.perf_counter()
    wl.warmup(ctx)
    warm_s = time.perf_counter() - t1
    setup_s = since_start()

    errors: list[str] = []
    ops_u = []
    # the traced run splits its time between an untraced and a traced
    # phase, which keeps it within the time limit of one run
    seconds = args.seconds / 2 if args.trace else args.seconds
    if args.trace:
        ctx.min_ops = 2
    t_run, steal0 = time.perf_counter(), cpu_steal_s()
    try:
        wl.run(ctx, seconds, traced=False)
        ops_u = list(ctx.ops)
        if args.trace:
            ctx.tracer = tracer
            tracer.attach(spark)
            tracer.set_group(spark, "main")
            with tracer.span("bench", "run"):
                wl.run(ctx, seconds, traced=True)
        t_check, steal_s = time.perf_counter(), cpu_steal_s() - steal0
        wl.check(ctx)
    except Exception as e:  # noqa: BLE001 — an operation that raised
        import traceback

        traceback.print_exc(file=sys.stderr)
        errors.append(f"raised: {e!r}")
        ctx.ops.append({"kind": "error", "wall": 0.0, "failed": True})
    errors += ctx.errors
    attempted = len(ctx.ops)
    failed = sum(1 for o in ctx.ops if o.get("failed"))
    correct = not errors

    metrics: dict[str, tuple[float, str]] = {}
    if correct:
        if args.trace:
            ops_t = ctx.ops[len(ops_u):]
            metrics = {
                n: (v, dict(PER_LAYER)[n])
                for n, v in layer_report(wl, ctx, tracer.spans, ops_t, ops_u, cores, start_s).items()
            }
            tracer.dump(os.path.join(work, f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "fail_ratio": ((failed + 1) / (attempted + 1000), "ratio"),
                **wl.metrics(ctx),
            }
    from pyspark import SparkContext as SC

    jvm_pid = SC._gateway.proc.pid if SC._gateway is not None else None
    peak = vm_hwm_mb("self") + (vm_hwm_mb(jvm_pid) if jvm_pid else 0.0)
    if correct and not args.trace:
        metrics["peak_rss_mb"] = (peak, "MB")
    stop_spark(spark)

    for e in errors[:20]:
        print(f"perfbench: WRONG: {e}", file=sys.stderr)
    kinds = sorted({o["kind"] for o in ctx.ops})
    for k in kinds:
        sel = [o for o in ctx.ops if o["kind"] == k]
        walls = [round(o["wall"], 2) for o in sel]
        steal = [round(o.get("steal", 0.0), 2) for o in sel]
        print(f"perfbench: {k} x{len(sel)} walls={walls[:40]} steal={steal[:40]}", file=sys.stderr)
    print(
        f"perfbench: {args.workload} seed={args.seed} gen={gen_s:.2f}s"
        f" session={start_s:.2f}s warmup={warm_s:.2f}s"
        + f" run={t_check - t_run:.2f}s steal={steal_s:.2f}s check={time.perf_counter() - t_check:.2f}s"
        + f" ops={attempted} failed={failed}",
        file=sys.stderr,
    )
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
