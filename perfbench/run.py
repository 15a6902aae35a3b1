"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload fresh_build --seed 1 --seconds 2 --trace 0

Run from the repository root. Everything the run writes (cached inputs,
warehouses, Spark scratch and event logs) stays under ``.perfbench/`` in the
root. With ``--trace 0`` the last line carries the end-to-end metrics; with
``--trace 1`` the per-layer metrics of a separate, instrumented run. Lines
before it carry context (calibration, sample counts, checks that failed).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
# local[3] on the 4-core host: the fourth core is left to the Python driver,
# the JVM's compiler and GC threads and the Python workers' start-up, so a
# run does not measure the scheduler
CORES = 3
# 2 x cores: the session default floors shuffles at 64 partitions, which
# makes every stage of these small batches pay 64 scheduling slots
SHUFFLE_PARTITIONS = 2 * CORES

END_TO_END = {
    "setup_s": "s",
    "ingest_s": "s",
    "ingest_docs_per_s": "docs/s",
    "scan_p50_ms": "ms",
    "queries_s": "s",
    "warehouse_bytes_per_doc": "bytes/doc",
    "jvm_peak_rss_mb": "MB",
}

# "query": the workload's query set (near-dup and text queries on
# fresh_build, graph analytics on incremental_zipf)
LAYERS = ["prep", "extract", "link", "build", "merge", "read", "ops", "query"]
# layers whose public functions return plans; the traced run also times them
# alone (isolated_layers)
LAZY_LAYERS = ["prep", "extract", "link", "build"]
# lazy layers whose in-place calls submit no Spark job, so they get no
# in-place task metrics (these would read 0 on every run)
PLAN_ONLY_LAYERS = ["prep", "build"]
# the traced run's layer spans plus the isolated timings of the lazy layers
# must account for run_pipeline wall time within this share (see accounting)
ACCOUNTING_TOLERANCE = 0.25
# tables merged on both workloads; the mapping merge runs on the full path
# only, so its time is in spans.json rather than a metric that reads 0 on
# incremental_zipf
MERGE_TABLES = ["surface_mentions", "vertices", "triples"]
PHASES = ["setup", "extract", "lineage_prep", "ledger_merge", "canonicalize",
          "counts_and_merges", "ops_tail", "metrics_tail"]


def _per_layer_units() -> dict[str, str]:
    u = {"host.calibration_s": "s", "session.start_s": "s", "session.warmup_s": "s",
         "trace.ingest_wall_s": "s", "trace.covered_s": "s",
         "trace.unclaimed_s": "s", "trace.accounted_ratio": "ratio"}
    for layer in LAYERS:
        u.update({f"{layer}.self_s": "s", f"{layer}.calls": "count"})
        if layer not in PLAN_ONLY_LAYERS:
            u.update({f"{layer}.tasks": "count", f"{layer}.executor_cpu_s": "s",
                      f"{layer}.task_skew": "ratio"})
    for layer in LAZY_LAYERS:
        u.update({f"{layer}.isolated_tasks": "count",
                  f"{layer}.isolated_executor_cpu_s": "s",
                  f"{layer}.isolated_task_skew": "ratio"})
    u.update({
        "prep.isolated_s": "s", "prep.kept_ratio": "ratio",
        "extract.isolated_s": "s", "extract.docs_per_s": "docs/s",
        "extract.mentions": "count", "extract.raw_triples": "count",
        "link.isolated_s": "s",
        "build.isolated_s": "s", "build.vertices_isolated_s": "s",
        "build.triples_isolated_s": "s",
    })
    u.update({f"merge.{t}_s": "s" for t in MERGE_TABLES})
    u.update({
        "merge.bytes_written": "bytes", "merge.files_written": "count",
        "merge.buckets_appended": "count", "merge.buckets_rewritten": "count",
        "merge.compactions": "count", "merge.write_amp": "ratio",
        "merge.attempts": "count",
        "read.files_opened": "count", "read.dirs_skipped_ratio": "ratio",
        "read.lookup_p50_ms": "ms",
        "ops.checkpoint_s": "s", "ops.lineage_s": "s", "ops.metrics_s": "s",
        "ops.files": "count",
    })
    u.update({f"phase.{p}_s": "s" for p in PHASES})
    return u


def layer_metrics(spans: list[dict], folded: dict, extra: dict) -> dict[str, float]:
    """Per-layer metrics from the spans, their folded task metrics and the
    values the run recorded directly."""
    from perfbench import trace

    selfs = trace.self_times(spans)
    out: dict[str, float] = {}

    def tasks(group):
        return trace.merge_aggs(
            [folded[f"{trace.GROUP_PREFIX}{s['id']}"] for s in group
             if f"{trace.GROUP_PREFIX}{s['id']}" in folded])

    for layer in LAYERS:
        mine = [s for s in spans if s["name"].split(".", 1)[0] == layer]
        in_place = [s for s in mine if "isolated" not in s["name"]]
        out[f"{layer}.self_s"] = sum(selfs[s["id"]] for s in in_place)
        out[f"{layer}.calls"] = len(in_place)
        # in-place and isolated spans time different runs of the layer, so
        # their task metrics are folded apart
        groups = [] if layer in PLAN_ONLY_LAYERS else [("", in_place)]
        if layer in LAZY_LAYERS:
            groups.append(("isolated_", [s for s in mine if "isolated" in s["name"]]))
        for prefix, group in groups:
            agg = tasks(group)
            out[f"{layer}.{prefix}tasks"] = agg["tasks"]
            out[f"{layer}.{prefix}executor_cpu_s"] = agg["executor_cpu_s"]
            out[f"{layer}.{prefix}task_skew"] = agg["task_skew"]

    merges = [s for s in spans
              if s["name"].startswith("merge.") and "table" in s["attrs"]]
    for t in MERGE_TABLES:
        out[f"merge.{t}_s"] = sum(s["end"] - s["start"] for s in merges
                                  if s["attrs"]["table"] == t)

    def total(key, group):
        return sum(s["attrs"].get(key, 0) for s in group)

    out["merge.bytes_written"] = total("bytes_written", merges)
    out["merge.files_written"] = total("files_written", merges)
    out["merge.buckets_appended"] = total("appended", merges)
    out["merge.buckets_rewritten"] = total("rewritten", merges)
    out["merge.compactions"] = total("compacted", merges)
    out["merge.write_amp"] = (out["merge.bytes_written"]
                              / max(total("live_growth_bytes", merges), 1))
    out["merge.attempts"] = sum(1 for s in spans if s["name"] == "merge.attempt")

    reads = [s for s in spans if s["name"].startswith("read.")]
    pruned = [s for s in reads if s["name"] == "read.read_graph_table_pruned"]
    out["read.files_opened"] = total("files_opened", reads)
    out["read.dirs_skipped_ratio"] = (
        1 - total("dirs_opened", pruned) / max(total("live_dirs", pruned), 1))

    def dur(*names):
        return sum(s["end"] - s["start"] for s in spans if s["name"] in names)

    out["ops.checkpoint_s"] = dur("ops.checkpoint_docs")
    out["ops.lineage_s"] = dur("ops.log_lineage", "ops.log_partition_lineage")
    out["ops.metrics_s"] = dur("ops.log_metrics")

    out.update(extra)
    return out


def accounting(spans: list[dict], isolated_s: float) -> dict[str, float]:
    """Split the ``run_pipeline`` wall time into the time some layer span is
    open on any thread (``covered``) and the rest, the root's own actions
    (``unclaimed``). Those actions run the plans the lazy layers returned, so
    the isolated timings of those layers (``isolated_s``) should explain the
    unclaimed time: ``accounted_ratio`` = (covered + isolated_s) / wall."""
    from perfbench import trace

    r = next(s for s in spans if s["name"] == "pipeline.run")
    below = {r["id"]}
    for s in sorted(spans, key=lambda s: s["start"]):
        if s["parent"] in below:
            below.add(s["id"])
    wall = r["end"] - r["start"]
    covered = trace.union_length(
        [(max(s["start"], r["start"]), min(s["end"], r["end"]))
         for s in spans if s["id"] in below and s["id"] != r["id"]])
    return {"trace.covered_s": covered, "trace.unclaimed_s": wall - covered,
            "trace.accounted_ratio": (covered + isolated_s) / wall}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", action="store_true",
                    help="only build every workload's cached inputs, then exit")
    return ap.parse_args(argv)


def _environment(scratch: str) -> dict[str, str]:
    """Keep every file the run writes, Spark's included, under WORK."""
    tmp = os.path.join(WORK, scratch)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
    }


def _stop_jvm(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
            proc.kill()
            proc.wait(timeout=30)


def _prepare_in_child() -> int:
    """Build the cached inputs in a process (and JVM) of its own; its output
    goes to stderr, so stdout keeps only this run's result."""
    import subprocess

    cmd = [sys.executable, os.path.abspath(__file__), "--workload", "fresh_build",
           "--seed", "0", "--seconds", "0", "--prepare"]
    return subprocess.run(cmd, stdout=sys.stderr, check=False).returncode


def _prepare(conf: dict, cache: str) -> int:
    from financial_knowledge_graphs_spark.session import get_spark
    from perfbench import workloads

    spark = get_spark("perfbench-prepare", master=f"local[{CORES}]",
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        workloads.prepare_inputs(spark, cache)
    finally:
        _stop_jvm(spark)
    return 0


def _settle(spark) -> None:
    """Collect the garbage the previous phase left, in the JVM and in
    Python, so the next timed phase does not pay for it at a random point."""
    import gc

    gc.collect()
    spark._jvm.java.lang.System.gc()


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def main(argv=None) -> int:
    t_main = time.perf_counter()
    args = _parse(argv)
    for need in ("financial_knowledge_graphs_spark/pipeline.py", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  f"checkout of the repository", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    from perfbench import instrument, stats, trace, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(have {sorted(workloads.WORKLOADS)})", file=sys.stderr)
        return 2
    cache = os.path.join(WORK, "cache")
    os.makedirs(cache, exist_ok=True)
    if args.prepare:
        return _prepare(_environment("prepare"), cache)
    if not workloads.inputs_ready(cache):
        rc = _prepare_in_child()
        if rc or not workloads.inputs_ready(cache):
            print(f"perfbench: preparing the inputs failed (exit {rc})", file=sys.stderr)
            return 1
    conf = _environment("tmp")
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    evdir = os.path.join(run_dir, "eventlog")
    if args.trace:
        os.makedirs(evdir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + evdir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})

    t0 = time.perf_counter()
    from financial_knowledge_graphs_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{CORES}]",
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    start_s = time.perf_counter() - t0
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        tracer = trace.Tracer(sc) if args.trace else None
        tally = stats.Tally()
        run = workloads.Run(spark, run_dir, cache, args.seed, args.seconds,
                            tracer, tally)
        from pyspark.sql import functions as F

        # session warm-up: start the Python workers every UDF stage reuses
        t0 = time.perf_counter()
        spark.range(0, 10_000, numPartitions=CORES).mapInPandas(
            lambda it: iter(it), "id long").write.format("noop").mode("overwrite").save()
        warmup_s = time.perf_counter() - t0
        # fixed CPU-bound query: shows clock drift on a shared host
        cal = []
        for _ in range(3):
            t0 = time.perf_counter()
            spark.range(0, 2_000_000, numPartitions=CORES).select(
                F.sum(F.xxhash64("id") % 1000)).collect()
            cal.append(time.perf_counter() - t0)

        ingest, queries = workloads.WORKLOADS[args.workload]
        undo = instrument.install(tracer) if tracer else None
        try:
            marks = [("start", time.perf_counter())]
            wh = ingest(run)
            marks.append(("ingest_phase", time.perf_counter()))
            _settle(spark)
            workloads.point_reads(run, wh)
            marks.append(("reads_phase", time.perf_counter()))
            _settle(spark)
            queries(run, wh)
            marks.append(("queries_phase", time.perf_counter()))
        finally:
            if undo:
                undo()
        # wall time of each phase including its untimed inputs and checks
        run.context["phase_wall_s"] = {
            name: t - marks[i][1] for i, (name, t) in enumerate(marks[1:])}
        if tracer:
            docs, alias, prior_wh, first_new = run.ingest_inputs
            workloads.isolated_layers(run, docs, alias, wh, prior_wh, first_new)
        ops_files = sum(len(fs) for _d, _s, fs in os.walk(os.path.join(wh, "ops")))
        rss_mb = _peak_rss_mb(int(spark._jvm.java.lang.ProcessHandle.current().pid()))
        app_id = sc.applicationId
    finally:
        _stop_jvm(spark)

    run.context.update({
        "workload": args.workload, "seed": args.seed, "master": f"local[{CORES}]",
        "shuffle_partitions": SHUFFLE_PARTITIONS, "clients": 1, "loop": "closed",
        "host.calibration_s": min(cal), "calibration_runs_s": cal,
    })
    if args.trace:
        folded = trace.read_event_log(os.path.join(evdir, app_id))
        extra = dict(run.layer, **{
            "host.calibration_s": min(cal), "session.start_s": start_s,
            "session.warmup_s": warmup_s, "ops.files": ops_files})
        values = layer_metrics(tracer.spans, folded, extra)
        lazy = workloads.ROOT_RUN_LAYERS[args.workload]
        if all(k in values for k in ["trace.ingest_wall_s"]
               + [f"{l}.isolated_s" for l in lazy]):
            values.update(accounting(
                tracer.spans, sum(values[f"{l}.isolated_s"] for l in lazy)))
            # checked where the lazy layers do most of the ingest's work;
            # incremental_zipf reports its ratio unchecked
            if args.workload == "fresh_build":
                off = abs(values["trace.accounted_ratio"] - 1)
                tally.op("accounting", off <= ACCOUNTING_TOLERANCE,
                         f"covered + isolated {lazy} is off run_pipeline wall "
                         f"time by {off:.0%} > {ACCOUNTING_TOLERANCE:.0%}")
        units = _per_layer_units()
        per_span = trace.span_task_metrics(tracer.spans, folded)
        selfs = trace.self_times(tracer.spans)
        for s in tracer.spans:
            s["self_s"] = selfs[s["id"]]
            s["task_metrics"] = per_span.get(s["id"])
        with open(os.path.join(run_dir, "spans.json"), "w", encoding="utf-8") as fh:
            json.dump(tracer.spans, fh, default=str)
    else:
        values = dict(run.values)
        values["setup_s"] = start_s + warmup_s + values.pop("_op_setup_s")
        values["jvm_peak_rss_mb"] = rss_mb
        units = END_TO_END
    missing = [k for k in units if k not in values]
    for k in missing:
        tally.op(f"metric {k}", False, "not measured")
    run.context.update({"fail_ratio": tally.fail_ratio, "failures": tally.failures,
                        "run_wall_s": time.perf_counter() - t_main})
    print(json.dumps({"context": run.context}, default=str))
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
