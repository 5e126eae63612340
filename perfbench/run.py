#!/usr/bin/env python3
"""Outside-in benchmark for geojson_vt_spark.

    python3 perfbench/run.py --workload pyramid_build --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. One fresh process acts as one closed-loop
client against Spark local[N], N = min(4, usable cores). The last line of
stdout is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics; with --trace 1 (a
separate invocation) they are the per-layer metrics. The line before it,
prefixed ``PERFBENCH_REPORT``, holds host facts, input parameters, every op
record, trend flags and the workload-specific figures. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("pyramid_build", "serve_and_analytics")

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "peak_rss_mb": "MB",
    "op_ms": "ms",
}

PER_LAYER = {
    "plans.pyramid.build_s": "s",
    "plans.pyramid.output_s": "s",
    "plans.pyramid.tiles": "count",
    "plans.pyramid.tile_features": "count",
    "plans.pyramid.calls": "count",
    "plans.pyramid.jobs": "count",
    "plans.pyramid.python_sent_mb": "MB",
    "plans.pyramid.python_returned_mb": "MB",
    "plans.pyramid.udf_s": "s",
    "functions.udf_s": "s",
    "python.arrow_ipc_s": "s",
    "cluster.kernel.udf_s": "s",
    "operators.spatial_join.udf_s": "s",
    "operators.engine.lookup_ms": "ms",
    "operators.engine.store_frames": "count",
    "operators.engine.update_s": "s",
    "operators.updates.apply_diff_s": "s",
    "operators.engine.invalidated_tiles": "count",
    "sources.tile_store.write_s": "s",
    "sources.tile_store.jobs_per_read": "count",
    "sources.tile_store.files_read": "count",
    "operators.spatial_join.box_s": "s",
    "operators.spatial_join.pip_s": "s",
    "operators.spatial_join.knn_s": "s",
    "operators.spatial_join.geo_knn_s": "s",
    "operators.spatial_join.knn_jobs": "count",
    "operators.spatial_join.geo_knn_jobs": "count",
    "operators.spatial_join.refine_ratio": "ratio",
    "cluster.grid.build_s": "s",
    "cluster.grid.jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.idle_slot_s": "s",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}

# UDF-profiler self time is grouped by the library file it was spent in
UDF_GROUPS = {
    "plans.pyramid.udf_s": "plans/pyramid.py",
    "functions.udf_s": "functions/",
    "cluster.kernel.udf_s": "cluster/",
    "operators.spatial_join.udf_s": "operators/spatial_join.py",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True,
                   help="recorded in the report; the op counts are fixed per size")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: small inputs for the smoke test")
    return p.parse_args(argv)


def _percentile(xs, q):
    """Nearest-rank percentile."""
    xs = sorted(xs)
    return xs[min(len(xs) - 1, max(0, int(round(q * len(xs) + 0.5)) - 1))] if xs else 0.0


def _trend(ops) -> dict:
    """Per op kind: first-half vs second-half median latency of the timed
    ops; flagged when they differ by more than 15%."""
    out = {}
    for kind in sorted({o["kind"] for o in ops}):
        ms = [o["ms"] for o in ops if o["kind"] == kind]
        if len(ms) < 2:
            continue
        h = len(ms) // 2
        first, second = statistics.median(ms[:h]), statistics.median(ms[len(ms) - h:])
        ratio = second / first if first else 0.0
        out[kind] = {"first_half_ms": round(first, 3), "second_half_ms": round(second, 3),
                     "ratio": round(ratio, 4), "drift": abs(ratio - 1.0) > 0.15}
    return out


def _spark_session(n_cores: int, run_dir: str, trace: bool):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{n_cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", "1g")
        .config("spark.sql.shuffle.partitions", str(n_cores))
        .config("spark.default.parallelism", str(n_cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.local.dir", os.path.join(run_dir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.driver.extraJavaOptions", "-Xms1g")
    )
    if trace:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + os.path.join(run_dir, "eventlog"))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.sql.pyspark.udf.profiler", "perf")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark):
    """Stop Spark, then the JVM it runs in, and wait until every process
    this run started (the JVM and its Python workers) has exited."""
    import host
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    started = [p for p in host.process_tree(os.getpid()) if p != os.getpid()]
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")
                 and _state(p) not in ("Z", "X")]
        if not alive:
            return
        time.sleep(0.2)
    for p in started:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
        return s[s.rindex(")") + 2]
    except (OSError, ValueError):
        return "X"


def _install_trace(tracer, probes: list):
    """Wrap the library names the workloads reach, where they are looked
    up; the engine imports build_pyramid by name, so it is wrapped there
    too."""
    from geojson_vt_spark.operators import engine, updates
    from geojson_vt_spark.plans import pyramid
    from geojson_vt_spark.sources import tile_store

    tracer.wrap(pyramid, "build_pyramid", "plans.pyramid.build_pyramid")
    tracer.wrap(engine, "build_pyramid", "plans.pyramid.build_pyramid")
    tracer.wrap(updates, "apply_source_diff", "operators.updates.apply_source_diff")
    tracer.wrap(tile_store, "write_tile_store", "sources.tile_store.write_tile_store")

    orig = engine.GeoJSONVTSpark._invalidate_tiles

    def invalidate(self, affected):
        # registry size before and after: two extra jobs, traced runs only,
        # inside "trace.probe" spans that the layer times leave out
        with tracer.span("trace.probe"):
            before = self.store.registry_df().count()
        orig(self, affected)
        with tracer.span("trace.probe"):
            probes.append(before - self.store.registry_df().count())

    tracer.replace(engine.GeoJSONVTSpark, "_invalidate_tiles", invalidate)


def _layer_metrics(sess, tracer, log, udf_by_file, probes, n_cores, wall_s, baseline):
    import tracing as tr

    spans = {s["id"]: s for s in tracer.spans}

    def chain(sid):
        while sid is not None:
            yield spans[sid]
            sid = spans[sid]["parent"]

    def root(sid):
        return list(chain(sid))[-1]

    def timed_root(sid):
        r = root(sid)
        return r["name"].startswith("op.") and not r["attrs"].get("warmup")

    job_span = tr.attribute_jobs(tracer, log)

    def jobs_under(pred):
        """Jobs of timed ops whose span chain has a span matching pred,
        leaving out the trace's own probe jobs."""
        return [j for j, sid in job_span.items()
                if timed_root(sid)
                and not any(s["name"] == "trace.probe" for s in chain(sid))
                and any(pred(s) for s in chain(sid))]

    def timed_spans(name):
        return [s for s in tracer.spans if s["name"] == name and s["end"] and timed_root(s["id"])]

    def total(name):
        return sum(tracer.dur(s) for s in timed_spans(name))

    m = {k: 0.0 for k in PER_LAYER}

    # plans.pyramid
    builds = timed_spans("plans.pyramid.build_pyramid")
    pyr_jobs = jobs_under(lambda s: s["name"] == "plans.pyramid.build_pyramid")
    pyr = tr.spark_totals(log, pyr_jobs)
    m["plans.pyramid.build_s"] = sum(tracer.self_time(s) for s in builds)
    m["plans.pyramid.output_s"] = total("plans.pyramid.output")
    build_ops = sess.timed("build")
    m["plans.pyramid.tiles"] = sum(o.get("tiles", 0) for o in build_ops)
    m["plans.pyramid.tile_features"] = sum(o.get("tile_features", 0) for o in build_ops)
    m["plans.pyramid.calls"] = len(builds)
    m["plans.pyramid.jobs"] = len(pyr_jobs) / len(builds) if builds else 0.0
    m["plans.pyramid.python_sent_mb"] = pyr["python_sent_mb"]
    m["plans.pyramid.python_returned_mb"] = pyr["python_returned_mb"]

    # UDF profiler, grouped by library file; pyarrow's ipc module is the
    # Python side of the Arrow transfer
    groups = tr.package_file_groups(os.path.join(ROOT, "geojson_vt_spark"), UDF_GROUPS)
    for base, secs in udf_by_file.items():
        if base in groups:
            m[groups[base]] += secs
    m["python.arrow_ipc_s"] = udf_by_file.get("ipc.py", 0.0)

    # operators.engine / operators.updates (the edit session)
    lookups = [s for name in ("op.drill", "op.reread") for s in timed_spans(name)]
    if lookups:
        m["operators.engine.lookup_ms"] = 1000.0 * statistics.mean(tracer.self_time(s) for s in lookups)
    frames = [o["store_frames"] for o in sess.timed() if "store_frames" in o]
    m["operators.engine.store_frames"] = frames[-1] if frames else 0
    for s in timed_spans("op.update"):
        probe_s = sum(tracer.dur(d) for d in tracer.descendants(s["id"]) if d["name"] == "trace.probe")
        m["operators.engine.update_s"] += tracer.dur(s) - probe_s
    m["operators.updates.apply_diff_s"] = total("operators.updates.apply_source_diff")
    m["operators.engine.invalidated_tiles"] = sum(probes)

    # sources.tile_store
    writes = [s for s in tracer.spans if s["name"] == "sources.tile_store.write_tile_store"]
    if writes:
        m["sources.tile_store.write_s"] = statistics.mean(tracer.dur(s) for s in writes)
    reads = timed_spans("op.read") + timed_spans("op.viewport")
    if reads:
        read_ids = {s["id"] for s in reads}
        m["sources.tile_store.jobs_per_read"] = len(
            jobs_under(lambda s: s["id"] in read_ids)) / len(reads)
        files = 0
        for t, n in log["sql_files"]:
            if any(s["start"] <= t <= s["end"] for s in reads):
                files += n
        m["sources.tile_store.files_read"] = files / len(reads)

    # operators.spatial_join and cluster.grid
    for metric, name in (("box_s", "point_in_box_join"), ("pip_s", "point_in_polygon_join"),
                         ("knn_s", "knn_join"), ("geo_knn_s", "geo_knn_join")):
        m["operators.spatial_join." + metric] = total("operators.spatial_join." + name)
    m["operators.spatial_join.knn_jobs"] = len(
        jobs_under(lambda s: s["name"] == "operators.spatial_join.knn_join"))
    m["operators.spatial_join.geo_knn_jobs"] = len(
        jobs_under(lambda s: s["name"] == "operators.spatial_join.geo_knn_join"))
    if sess.extra.get("pip_candidates"):
        m["operators.spatial_join.refine_ratio"] = sess.extra["pip_rows"] / sess.extra["pip_candidates"]
    m["cluster.grid.build_s"] = total("cluster.grid.build_grid_trees")
    m["cluster.grid.jobs"] = len(jobs_under(lambda s: s["name"] == "cluster.grid.build_grid_trees"))

    # Spark runtime over the timed ops
    everything = tr.spark_totals(log, jobs_under(lambda s: True))
    for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
              "shuffle_read_mb", "shuffle_write_mb"):
        m["spark." + k] = everything[k]
    m["spark.idle_slot_s"] = n_cores * wall_s - everything["task_run_s"]

    m["trace.wall_s"] = wall_s
    m["trace.overhead_s"] = wall_s - baseline if baseline is not None else 0.0
    return m


def _baseline_wall(work: str, workload: str, seed: int, size: str, source: str):
    """Untraced wall_s of this workload from earlier runs in this checkout
    of the same library sources and size: the same seed if recorded, else
    the median over seeds."""
    path = os.path.join(work, f"untraced-{workload}.jsonl")
    try:
        with open(path) as f:
            recs = [json.loads(line) for line in f if line.strip()]
    except OSError:
        return None, "none"
    recs = [r for r in recs if r.get("source_sha256") == source and r.get("size") == size]
    same = [r["wall_s"] for r in recs if r["seed"] == seed]
    if same:
        return same[-1], "same seed"
    if recs:
        return statistics.median(r["wall_s"] for r in recs), "median over seeds"
    return None, "none"


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "geojson_vt_spark")):
        print("perfbench: geojson_vt_spark/ not found beside perfbench/; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    # everything Spark, the JVM and the Python workers write stays in the run dir
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    try:
        return _run(args, work, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, work: str, run_dir: str) -> int:
    import host
    import tracing as tr
    import workloads

    n_cores = min(4, len(os.sched_getaffinity(0)))
    facts = host.host_facts(ROOT, n_cores)
    probe_before = host.cpu_probe_ms()
    cpu = host.CpuWindow()
    # where a run's wall time goes, for sizing the benchmark's time budget
    marks = [("start", time.time())]
    with host.RssSampler() as rss:
        spark = _spark_session(n_cores, run_dir, bool(args.trace))
        marks.append(("spark_up", time.time()))
        try:
            tracer = tr.Tracer(spark.sparkContext, bool(args.trace))
            probes: list = []
            if args.trace:
                _install_trace(tracer, probes)
            sess = workloads.Session(spark, tracer, args.seed, args.size, run_dir)
            if args.trace:
                sess.on_first_timed = spark.profile.clear
            workloads.WORKLOADS[args.workload](sess)
            marks.append(("workload_done", time.time()))
            udf_by_file = tr.udf_self_time_by_file(spark) if args.trace else {}
            tracer.unwrap_all()
        finally:
            _shutdown(spark)
    marks.append(("stopped", time.time()))
    facts["run_phases_s"] = {b[0]: round(b[1] - a[1], 3) for a, b in zip(marks, marks[1:])}
    facts.update(cpu.shares())
    facts["cpu_probe_ms"] = {"before": round(probe_before, 3), "after": round(host.cpu_probe_ms(), 3)}
    facts["rss_samples"] = rss.samples
    facts["peak_rss_split_mb"] = rss.peak_split_mb

    timed = sess.timed()
    primary = [o for o in sess.timed(workloads.PRIMARY[args.workload]) if o["ok"]]
    wall_s = sum(o["ms"] for o in timed) / 1000.0
    attempted = len(sess.ops)
    failed = sum(1 for o in sess.ops if not o["ok"])

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "size": args.size, "host": facts, "inputs": sess.params,
        "setup_s_by_phase": {k: round(v, 4) for k, v in sess.setup_s.items()},
        "setup_reps_s": {k: [round(t, 4) for t in v] for k, v in sess.setup_reps.items()},
        "fail_ratio": {"value": failed / attempted if attempted else 1.0, "unit": "ratio"},
        "trend": _trend(timed),
        "ops": [{k: (round(v, 3) if isinstance(v, float) else v) for k, v in o.items()}
                for o in sess.ops],
    }
    kinds = {}
    for o in timed:
        if o["ok"]:
            kinds.setdefault(o["kind"], []).append(o["ms"])
    report["op_ms_by_kind"] = {k: {"median": statistics.median(v), "n": len(v)} for k, v in kinds.items()}
    if args.workload == "serve_and_analytics":
        reads = kinds.get("read", [])
        report["read_ms"] = {"value": statistics.median(reads) if reads else 0.0, "unit": "ms"}
        p90 = _percentile(reads, 0.9)
        report["read_p90_ms"] = {"value": p90, "unit": "ms", "samples": len(reads),
                                 "beyond_p90": sum(1 for r in reads if r > p90)}
        vps = kinds.get("viewport", [])
        report["viewport_ms"] = {"value": statistics.median(vps) if vps else 0.0, "unit": "ms"}
        report["edit_session_s"] = {"value": sess.extra.get("edit_session_s", 0.0), "unit": "s"}
        suites = kinds.get("suite", [])
        report["analytics_op_ms"] = {"value": statistics.median(suites) if suites else 0.0, "unit": "ms"}
        report["analytics_rows_per_s"] = {"value": sess.extra.get("suite_rows_per_s", 0.0), "unit": "1/s"}
    if args.workload == "pyramid_build":
        report["tile_features_per_s"] = {"value": sess.extra.get("tile_features_per_s", 0.0), "unit": "1/s",
                                         "tile_features": sess.extra.get("tile_features"),
                                         "tiles": sess.extra.get("tiles")}

    if args.trace:
        baseline, source = _baseline_wall(work, args.workload, args.seed, args.size,
                                          facts["source_sha256"])
        log = tr.read_event_log(os.path.join(run_dir, "eventlog"))
        values = _layer_metrics(sess, tracer, log, udf_by_file, probes, n_cores, wall_s, baseline)
        report["trace_overhead_baseline"] = source
        report["spans"] = [{k: s[k] for k in ("id", "name", "parent", "group_jobs")}
                           | {"s": round(s["end"] - s["start"], 4)} for s in tracer.spans]
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": sum(sess.setup_s.values()),
            "wall_s": wall_s,
            "peak_rss_mb": rss.peak_mb,
            "op_ms": statistics.median(o["ms"] for o in primary) if primary else 0.0,
        }
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
        with open(os.path.join(work, f"untraced-{args.workload}.jsonl"), "a") as f:
            f.write(json.dumps({"seed": args.seed, "size": args.size, "wall_s": wall_s,
                                "source_sha256": facts["source_sha256"]}) + "\n")

    os.makedirs(os.path.join(work, "reports"), exist_ok=True)
    with open(os.path.join(work, "reports", os.path.basename(run_dir) + ".json"), "w") as f:
        json.dump({"report": report, "metrics": metrics}, f, indent=1)
    print("PERFBENCH_REPORT " + json.dumps(report))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
