"""Product-path benchmark for scylla_migrator_spark.

    python3 perfbench/run.py --workload {product,registry}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The run builds its inputs from ``--seed``
(cached under ``.perfbench_work/inputs``), starts one Spark session on
``local[2]``, sets up, then runs closed-loop operations, at least two and
more until ``--seconds`` of wall clock have passed, with a Spark-only
reference job before the first and after each one. Every operation's output
is checked against an independent DuckDB answer, outside the timer.

The last line of standard output is one JSON object. With ``--trace 0`` its
metrics are the end-to-end metrics: set-up time and the median time of each
of the operation's three steps, both relative to the reference job's time. With
``--trace 1`` the run runs one untraced operation to settle, then
``--seconds / 2`` of untraced and ``--seconds / 2`` of traced operations, and
reports the per-layer metrics of the traced ones together with the tracing
overhead. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_DIR = os.path.dirname(BENCH_DIR)
PACKAGE_DIR = os.path.join(REPO_DIR, "scylla_migrator_spark")
# Spark's task slots. The workloads' jobs are small, so two slots run them
# as fast as four, and leave the host's other vCPUs to the JVM's compiler
# and collector threads and to the driver process.
CPUS = 2
# untimed runs of the reference job in set-up
WARM_REFERENCES = 3
DRIVER_MEMORY = "3g"
# a per-layer trace may leave this share of the timed wall clock outside the
# sum of span self times before the run reports the trace check as failed
SELF_TIME_GAP_PCT = 5.0

# setup_s, then the median time of each step of an operation (on product the
# migrate jobs, the validation and the CDC drain; on registry its rows), all
# rescaled to a host on which the reference job takes REFERENCE_S
REFERENCE_S = 1.0
STEP_METRICS = ("step1_ms", "step2_ms", "step3_ms")
END_TO_END = {"setup_s": "s", **{k: "ms" for k in STEP_METRICS}}
ANALYTICS_MODULES = {
    "analytics.dedup": "dedup",
    "streaming.components_cdc": "streaming.components_cdc",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.plan_s": "s",
    "sinks.write_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_per_row": "B",
    "savepoints.dumps": "count",
    "savepoints.dump_s": "s",
    "migrate.recount_s": "s",
    "migrate.jobs": "count",
    "migrate.tasks": "count",
    "migrate.cpu_s": "s",
    "migrate.shuffle_bytes": "B",
    "validate.diff_s": "s",
    "validate.extra_s": "s",
    "validate.repair_s": "s",
    "validate.jobs": "count",
    "validate.cpu_s": "s",
    "validate.shuffle_bytes": "B",
    "validate.spill_bytes": "B",
    "cdc.apply_batch_ms_p50": "ms",
    "cdc.trigger_overhead_ms_p50": "ms",
    "cdc.rows_written_per_event": "count",
    "cdc.state_bytes": "B",
    "queries.construct_s": "s",
    "queries.plan_s": "s",
    "queries.exec_s": "s",
    "queries.eager_jobs": "count",
    "queries.stage_build_s": "s",
    "queries.control_engine_s": "s",
    **{f"{m}.{k}": u for m in ANALYTICS_MODULES.values() for k, u in (("cpu_s", "s"), ("jobs", "count"))},
    "process.peak_rss_mb": "MB",
    "trace.overhead_pct": "%",
    "trace.self_time_gap_pct": "%",
}
SOURCE_SPANS = {
    "plans.migrate.build_plan",
    "sources.parquet.list_parquet_files",
    "sources.parquet.read_parquet",
    "sources.read",
}
SINK_SPANS = {"sinks.parquet.write_parquet", "sinks.scylla_fixture.write_scylla_fixture"}
MIGRATE_SPANS = {"plans.migrate.migrate_resumable", "plans.migrate.migrate", "migrate.recount"}


def process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def import_package():
    """Import the program from this checkout, never from anywhere else."""
    sys.path.insert(0, REPO_DIR)
    try:
        import scylla_migrator_spark
    except ImportError as exc:
        raise SystemExit(f"perfbench: cannot import scylla_migrator_spark from {REPO_DIR}: {exc}")
    if os.path.dirname(os.path.abspath(scylla_migrator_spark.__file__)) != PACKAGE_DIR:
        raise SystemExit(f"perfbench: scylla_migrator_spark is not under {REPO_DIR}")


def prepare_environment(run_dir: str) -> None:
    """Point every scratch location of Spark, the program and Python's
    tempfile at this run's own directory."""
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "spark-local", "stages", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SGS_STAGE_ROOT"] = os.path.join(run_dir, "stages")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        "pyspark-shell",
    ])


def ensure_inputs(workload, seed: int) -> tuple[str, dict, float]:
    """Generate (or reuse) this workload's inputs for ``seed``."""
    import hashlib

    # the inputs and the expected answers stored with them depend on these
    h = hashlib.sha256(repr(workload.params).encode())
    for f in ("gen.py", "checks.py", "workloads.py"):
        with open(os.path.join(BENCH_DIR, f), "rb") as fh:
            h.update(fh.read())
    key = h.hexdigest()[:12]
    base = os.path.join(REPO_DIR, ".perfbench_work", "inputs")
    out = os.path.join(base, f"{workload.name}-{seed}-{key}")
    meta = os.path.join(out, "info.json")
    t0 = time.perf_counter()
    if not os.path.exists(meta):
        os.makedirs(base, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=f".{workload.name}-", dir=base)
        info = workload.generate(seed, tmp)
        with open(os.path.join(tmp, "info.json"), "w") as fh:
            json.dump(info, fh)
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    with open(meta) as fh:
        info = json.load(fh)
    return out, info, time.perf_counter() - t0


def install_tracing(tracer) -> None:
    """Wrap each public function at the attribute its caller looks up."""
    from pyspark.sql.readwriter import DataFrameReader

    from scylla_migrator_spark import savepoints
    from scylla_migrator_spark.plans import migrate, queries, validate
    from scylla_migrator_spark.sinks import parquet as sink_parquet
    from scylla_migrator_spark.sinks import scylla_fixture
    from scylla_migrator_spark.sources import parquet as source_parquet
    from scylla_migrator_spark.streaming import cdc

    w = tracer.wrap
    w(migrate, "migrate_resumable", "plans.migrate.migrate_resumable")
    w(migrate, "migrate", "plans.migrate.migrate")
    w(migrate, "build_plan", "plans.migrate.build_plan")
    w(migrate, "read_parquet", "sources.parquet.read_parquet")
    w(source_parquet, "read_parquet", "sources.parquet.read_parquet")
    w(source_parquet, "list_parquet_files", "sources.parquet.list_parquet_files")
    w(DataFrameReader, "parquet", "sources.read")
    w(migrate, "write_parquet", "sinks.parquet.write_parquet")
    w(sink_parquet, "write_parquet", "sinks.parquet.write_parquet")
    w(migrate, "write_scylla_fixture", "sinks.scylla_fixture.write_scylla_fixture")
    w(scylla_fixture, "write_scylla_fixture", "sinks.scylla_fixture.write_scylla_fixture")
    w(savepoints.SavepointsManager, "dump", "savepoints.dump")
    w(validate, "run_validation", "plans.validate.run_validation")
    w(cdc.CdcReplicator, "apply_batch", "cdc.apply_batch",
      meta=lambda a, k: {"batch_id": a[2] if len(a) > 2 else k.get("batch_id")})
    w(queries, "_publish_stage", "queries.stage_build")
    tracer.hook_call_sites()


def end_to_end(ops: list, setup_s: float) -> dict:
    """The end-to-end metrics, as times on a host on which the reference job
    takes ``REFERENCE_S``. A step's is its median over this run's operations
    of its wall time over the mean time of the two reference jobs around its
    operation; set-up time is divided by the run's median reference job. The
    reference job runs no code of the program, so these ratios move with the
    program and not with how fast the shared host runs Spark, which sets most
    of the spread of raw wall times between runs."""
    ref_s = statistics.median(t for op in ops for t in op.refs)
    steps = {
        k: statistics.median(op.steps[i] / statistics.fmean(op.refs) for op in ops) * REFERENCE_S * 1000
        for i, k in enumerate(STEP_METRICS)
    }
    return {"setup_s": setup_s / ref_s * REFERENCE_S, **steps}


def per_layer(
    wl, tracer, traced: list, overhead_pct: float, session_s: float, rss_mb: float
) -> tuple[dict, str, list[bool]]:
    """Per-layer metrics of the traced operations, each a mean per operation
    unless its name says otherwise, a note, and the outcome of each of the
    trace's own checks."""
    from tracing import Attribution, descendants, is_engine, uncovered_pct, union_seconds
    from workloads import CONTROL_ROW

    spans, jobs = tracer.spans, tracer.read_jobs()
    inside = descendants(spans, {op.span for op in traced})
    inside_ids = {s.sid for s in inside}
    by_id = {s.sid: s for s in spans}
    n = len(traced)
    span_of_job = {
        j.job_id: int(j.group[3:]) for j in jobs if j.group and j.group.startswith("pb-")
    }
    op_jobs = [j for j in jobs if span_of_job.get(j.job_id) in inside_ids]

    def under(sid: int | None, names: set[str]) -> bool:
        while sid:
            if by_id[sid].name in names:
                return True
            sid = by_id[sid].parent
        return False

    def total(names: set[str], within: set[str] | None = None) -> float:
        return union_seconds([
            (s.start, s.end) for s in inside
            if s.name in names and (within is None or under(s.parent, within))
        ]) / n

    def jobs_under(names: set[str]) -> list:
        return [j for j in op_jobs if under(span_of_job[j.job_id], names)]

    m = {k: 0.0 for k in PER_LAYER}
    notes, outcomes = [], []
    m["session.start_s"] = session_s
    m["process.peak_rss_mb"] = rss_mb
    if wl.name == "product":
        batch_jobs = MIGRATE_SPANS | {"plans.validate.run_validation"}
        m["sources.plan_s"] = total(SOURCE_SPANS, within=batch_jobs)
        m["sinks.write_s"] = total(SINK_SPANS)
        m["sinks.files_written"] = sum(op.extra["files"] for op in traced) / n
        m["sinks.bytes_per_row"] = sum(op.extra["bytes"] for op in traced) / sum(
            op.extra["rows_written"] for op in traced
        )
        m["savepoints.dumps"] = sum(s.name == "savepoints.dump" for s in inside) / n
        m["savepoints.dump_s"] = total({"savepoints.dump"})
        m["migrate.recount_s"] = total({"migrate.recount"})
        mig_jobs = jobs_under(MIGRATE_SPANS)
        m["migrate.jobs"] = len(mig_jobs) / n
        m["migrate.tasks"] = sum(j.num_tasks for j in mig_jobs) / n
        m["migrate.cpu_s"] = sum(j.cpu_s for j in mig_jobs) / n
        m["migrate.shuffle_bytes"] = sum(j.shuffle_bytes for j in mig_jobs) / n

        val_jobs = jobs_under({"plans.validate.run_validation"})
        attr = Attribution()
        for j in val_jobs:
            if j.module(PACKAGE_DIR) != "plans.validate":
                continue
            path, line = j.site
            stmt = attr.statement(path, line)
            if attr.function(path, line) == "repair" or "missing" in stmt:
                m["validate.repair_s"] += j.dur / n
            elif "extra_target_rows" in stmt:
                m["validate.extra_s"] += j.dur / n
            else:
                m["validate.diff_s"] += j.dur / n
        m["validate.jobs"] = len(val_jobs) / n
        m["validate.cpu_s"] = sum(j.cpu_s for j in val_jobs) / n
        m["validate.shuffle_bytes"] = sum(j.shuffle_bytes for j in val_jobs) / n
        m["validate.spill_bytes"] = sum(j.spill_bytes for j in val_jobs) / n

        applies = {
            s.meta["batch_id"]: s.dur * 1000
            for s in inside
            if s.name == "cdc.apply_batch" and s.meta.get("batch_id", -1) >= 0
        }
        trigger = {b: ms for op in traced for b, ms, _ in op.extra["progress"]}
        m["cdc.apply_batch_ms_p50"] = statistics.median(applies.values())
        m["cdc.trigger_overhead_ms_p50"] = statistics.median(
            trigger[b] - ms for b, ms in applies.items() if b in trigger
        )
        written = sum(j.output_records for j in jobs_under({"cdc.apply_batch"}))
        cdc = wl.ctx.info["cdc"]
        m["cdc.rows_written_per_event"] = written / (cdc["events"] * n)
        m["cdc.state_bytes"] = sum(op.extra["state_bytes"] for op in traced) / n
    elif wl.name == "registry":
        m["sources.plan_s"] = total(SOURCE_SPANS)
        m["queries.construct_s"] = total({"queries.construct"})
        m["queries.plan_s"] = total({"queries.plan"})
        m["queries.exec_s"] = total({"queries.exec"})
        m["queries.eager_jobs"] = len(jobs_under({"queries.construct"})) / n
        m["queries.stage_build_s"] = union_seconds([
            (s.start, s.end) for s in spans
            if s.name == "queries.stage_build" and s.sid not in inside_ids
        ])

        def query_of(sid: int) -> str | None:
            while sid:
                if "query" in by_id[sid].meta:
                    return by_id[sid].meta["query"]
                sid = by_id[sid].parent
            return None

        # a row's plan is built by the engine modules its construction called
        built_by: dict[str, set[str]] = {}
        for s in inside:
            if s.name != "queries.construct":
                continue
            for module, seconds in s.meta.get("modules", {}).items():
                if is_engine(module):
                    built_by.setdefault(s.meta["query"], set()).add(module)
                    if s.meta["query"] == CONTROL_ROW:
                        m["queries.control_engine_s"] += seconds / n
        # a job is charged to its call site's module when that is an engine
        # module, else to every engine module that built its row's plan
        for j in op_jobs:
            site = j.module(PACKAGE_DIR)
            query = query_of(span_of_job[j.job_id])
            charged = {site} if is_engine(site) else built_by.get(query, set())
            for module in charged & ANALYTICS_MODULES.keys():
                m[f"{ANALYTICS_MODULES[module]}.cpu_s"] += j.cpu_s / n
                m[f"{ANALYTICS_MODULES[module]}.jobs"] += 1 / n
            if query == CONTROL_ROW and charged:
                m["queries.control_engine_s"] += j.dur / n
        rows = {
            q: {k: sum(s.dur for s in inside if s.name == k and s.meta.get("query") == q) / n
                for k in ("queries.construct", "queries.plan", "queries.exec")}
            for q in dict.fromkeys(s.meta["query"] for s in inside if "query" in s.meta)
        }
        notes.append("; ".join(
            f"{q}: construct {t['queries.construct']:.2f} s, plan {t['queries.plan']:.2f} s, "
            f"exec {t['queries.exec']:.2f} s, built by "
            f"{', '.join(sorted(built_by.get(q, ()))) or 'no engine module'}"
            for q, t in rows.items()
        ))
        control_ok = not built_by.get(CONTROL_ROW) and m["queries.control_engine_s"] == 0
        outcomes.append(control_ok)
        notes.append(f"control check: {CONTROL_ROW} ran "
                     f"{'no engine module' if control_ok else 'engine modules'}: "
                     f"{'ok' if control_ok else 'FAILED'}")

    wall = sum(op.seconds for op in traced)
    gap = uncovered_pct(spans, {op.span for op in traced}, wall)
    m["trace.self_time_gap_pct"] = gap
    m["trace.overhead_pct"] = overhead_pct
    outcomes.append(gap <= SELF_TIME_GAP_PCT)
    notes.insert(0, (
        f"trace check: {gap:.3f}% of the timed wall clock lies outside every layer span "
        f"(stated gap {SELF_TIME_GAP_PCT}%): {'ok' if gap <= SELF_TIME_GAP_PCT else 'FAILED'}; "
        f"tracing overhead {overhead_pct:+.1f}% of the untraced median operation"
    ))
    return m, "\n".join(notes), outcomes


def batch_note(ops: list) -> str:
    """CDC micro-batch times, when the operations drained a change log."""
    ms = sorted(t for op in ops for _, t, _ in op.extra.get("progress", []))
    if not ms:
        return "no micro-batches"
    return (f"cdc micro-batch triggerExecution: p50 {statistics.median(ms):.0f} ms, "
            f"max {ms[-1]:.0f} ms over {len(ms)} batches")


def peak_rss_mb(spark) -> float:
    """JVM high-water RSS (VmHWM) plus this process's ru_maxrss, in MB."""
    pid = spark.sparkContext._gateway.proc.pid
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def stop_spark(spark) -> None:
    """Stop the session, its gateway JVM and the Python workers under it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    t_process = time.perf_counter() - process_age()
    sys.path.insert(0, BENCH_DIR)
    from workloads import WORKLOADS, Ctx, cpu_ticks

    ticks0 = cpu_ticks()

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import_package()
    workload = WORKLOADS[args.workload]
    inputs_dir, info, gen_s = ensure_inputs(workload, args.seed)
    run_dir = os.path.join(REPO_DIR, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_environment(run_dir)

    from scylla_migrator_spark.session import get_spark

    from tracing import Tracer

    spark = None
    try:
        t0 = time.perf_counter()
        pre_session_s = t0 - t_process - gen_s
        spark = get_spark(f"perfbench-{args.workload}", cpus=CPUS)
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark.sparkContext, PACKAGE_DIR)
        if args.trace:
            install_tracing(tracer)
            tracer.enabled = True
        wl = workload(Ctx(spark, tracer, run_dir, inputs_dir, REPO_DIR, info))
        wl.setup()
        for _ in range(WARM_REFERENCES):
            wl.reference()
        setup_s = time.perf_counter() - t_process - gen_s - wl.check_seconds
        t_ops = time.perf_counter()

        trace_checks = []
        if args.trace:
            untraced, traced, overhead = wl.trace_ops(args.seconds)
            ops = untraced + traced
            metrics, note, trace_checks = per_layer(
                wl, tracer, traced, overhead, session_s, peak_rss_mb(spark)
            )
            units = PER_LAYER
        else:
            ops = wl.run_ops(args.seconds, "", wl.min_ops)
            metrics = end_to_end(ops, setup_s)
            note = "\n".join([
                f"{batch_note(ops)}; peak RSS {peak_rss_mb(spark):.0f} MB",
                *(f"{k}: {step}" for k, step in zip(STEP_METRICS, workload.steps)),
            ])
            units = END_TO_END
        tracer.close()
        t_stop = time.perf_counter()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    # the traced run's own checks (uncovered time, the control row) count
    # as one attempted operation each
    attempted = sum(op.attempted for op in ops) + wl.setup_attempted + len(trace_checks)
    failed = sum(op.failed for op in ops) + wl.setup_failed + trace_checks.count(False)
    print(f"workload={args.workload} seed={args.seed} "
          f"error_rate={failed / attempted:.4f} ({failed}/{attempted})")
    # shows when the host, not the program, slowed a run
    stolen_seconds = (cpu_ticks()[1] - ticks0[1]) / os.sysconf("SC_CLK_TCK") / os.cpu_count()
    print("operation seconds: " + ", ".join(f"{op.seconds:.3f}" for op in ops)
          + f"; the host stole {stolen_seconds:.1f} s per vCPU during the run")
    print("step ms (share of asked-for CPU time the host stole): " + "; ".join(
        ", ".join(f"{t * 1000:.0f} ({x:.1%})" for t, x in zip(op.steps, op.stolen))
        for op in ops))
    print("reference job ms before and after each operation: " + "; ".join(
        ", ".join(f"{t * 1000:.0f}" for t in op.refs) for op in ops if op.refs[0]))
    print(note)
    print(f"phases: inputs {gen_s:.1f} s, start-up {pre_session_s:.1f} s, session {session_s:.1f} s, "
          f"warm-up {t_ops - t0 - session_s:.1f} s, operations {t_stop - t_ops:.1f} s, "
          f"shutdown {time.perf_counter() - t_stop:.1f} s")
    for k, v in metrics.items():
        print(f"{k} = {v:.6g} {units[k]}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
