"""The benchmark's workloads. Each drives the program through its public
functions (``plans.migrate``, ``plans.validate``,
``streaming.cdc.CdcReplicator``, ``plans.queries.QUERIES``) in a closed loop:
one operation at a time, the next starting when the previous one has ended.

An operation's timed part contains only calls into the program. Preparing its
directories, checking its output and cleaning up happen outside the timer.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import checks
import gen

# Input sizes: every run must fit the benchmark's time budget on four cores,
# so these are far below production scale (README.md gives the reasoning).
# A round is kept to a few seconds so that a run measures several of them.
# (migrate rows, migrate TTL/WRITETIME rows, migrate files, validate rows,
#  validate files, faults of each kind, CDC snapshot keys, CDC micro-batches,
#  events per micro-batch).
PRODUCT_SIZES = (50_000, 12_500, 8, 50_000, 4, 100, 20_000, 2, 400)
# untimed rounds of set-up
WARM_ROUNDS = 1
# The reference job: Spark alone, no code of the program, writes this many
# generated rows to parquet, reads them back and joins them with a per-group
# count of themselves, in small jobs like the workloads' steps. It runs
# between operations, so its time tracks how fast the host runs Spark during
# the run (README.md, "Host speed").
REFERENCE_ROWS = 25_000
REGISTRY_CUSTOMERS = 750
REGISTRY_DOCS = 300
REGISTRY_EVENTS = 5_000
REGISTRY_ROWS = (
    "components_cdc_replay",
    "jaccard_prefix_filter_pairs",
    "tpch_q3_shipping_priority",
)
CONTROL_ROW = "tpch_q3_shipping_priority"


@dataclass
class Op:
    """One timed operation: a product-path round or a registry pass."""

    seconds: float
    steps: tuple[float, ...]
    attempted: int
    failed: int
    span: int | None = None
    # per step, the share of the CPU time the vCPUs asked for that the
    # hypervisor took (``cpu_ticks``); it tells a slow host from a slow step
    stolen: tuple[float, ...] = ()
    # seconds of the reference jobs run just before and just after this
    # operation
    refs: tuple[float, float] = (0.0, 0.0)
    extra: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    tracer: object
    run_dir: str
    inputs_dir: str
    repo_dir: str
    info: dict


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def _dir_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _throughput_line(scenario: str, rows: int, seconds: float) -> None:
    """The reference ThroughputReporter line."""
    ms = int(seconds * 1000)
    print(
        f"BENCHMARK_RESULT | scenario={scenario} rows={rows} durationMs={ms} "
        f"rowsPerSec={int(rows * 1000 / ms) if ms else 0}",
        flush=True,
    )


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of all vCPUs so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, fh.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def stolen_share(a: tuple[int, int], b: tuple[int, int]) -> float:
    busy, steal = b[0] - a[0], b[1] - a[1]
    return steal / (busy + steal) if busy + steal else 0.0


def _report(name: str, problems: list[str]) -> list[str]:
    for p in problems:
        print(f"CHECK FAILED {name}: {p}", file=sys.stderr)
    return problems


class Workload:
    """Shared closed loop: ``op`` runs one timed operation, made of the
    timed steps named in ``steps``; ``trace_ops`` runs the traced run's
    settling, untraced and traced operations. Checks made during
    set-up are counted in ``setup_attempted`` and ``setup_failed``, and the
    time they took, which set-up time excludes, in ``check_seconds``."""

    setup_attempted = 0
    setup_failed = 0
    check_seconds = 0.0
    # operations an untraced run measures at least, whatever ``--seconds``
    min_ops = 2

    def reference(self) -> float:
        """Seconds of one run of the reference job, untraced. A wrong answer
        raises."""
        spark, tracer = self.ctx.spark, self.ctx.tracer
        path = os.path.join(self.ctx.run_dir, "reference")
        traced, tracer.enabled = tracer.enabled, False
        t0 = time.perf_counter()
        (spark.range(0, REFERENCE_ROWS, numPartitions=spark.sparkContext.defaultParallelism)
         .selectExpr("id % 97 AS k", "id", "sha2(cast(id AS string), 256) AS h")
         .write.mode("overwrite").parquet(path))
        df = spark.read.parquet(path)
        got = df.join(df.groupBy("k").count(), "k").selectExpr("count(*)", "sum(length(h))").first()
        seconds = time.perf_counter() - t0
        tracer.enabled = traced
        if tuple(got) != (REFERENCE_ROWS, 64 * REFERENCE_ROWS):
            raise RuntimeError(f"reference job answered {tuple(got)}")
        return seconds

    def run_ops(self, seconds: float, tag: str, min_ops: int = 1) -> list[Op]:
        """At least ``min_ops`` operations, and more until ``seconds`` of
        wall clock have passed, checks included; the reference job runs
        before the first operation and after each one."""
        ops, t0 = [], time.perf_counter()
        ref = self.reference()
        while len(ops) < min_ops or time.perf_counter() - t0 < seconds:
            ops.append(self.op(f"{tag}{len(ops)}"))
            after = self.reference()
            ops[-1].refs, ref = (ref, after), after
        return ops

    def trace_ops(self, seconds: float) -> tuple[list[Op], list[Op], float]:
        """(untraced ops, traced ops, tracing overhead in percent of the
        untraced median op time). The first full-size operation after set-up
        still carries some first-time cost, so it runs untraced and is left
        out of the comparison."""
        tracer = self.ctx.tracer
        tracer.enabled = False
        settle = self.op("s")
        untraced = self.run_ops(seconds / 2, "u")
        tracer.enabled = True
        traced = self.run_ops(seconds / 2, "t")
        tracer.enabled = False
        med_u = statistics.median(op.seconds for op in untraced)
        med_t = statistics.median(op.seconds for op in traced)
        return [settle, *untraced], traced, (med_t / med_u - 1) * 100


class Product(Workload):
    """The product path, one round per operation, every job given empty
    target, savepoint and checkpoint directories:

    * migrate (a): parquet -> parquet with two renames, a ``where`` and
      savepoints -- the resumable path the CLI picks -- then the CLI's
      ``out.count()``;
    * migrate (b): ``cql-fixture`` with TTL/WRITETIME companions ->
      ``scylla-fixture`` with ``explodedTimestampWrite``, then the same count;
    * validate: ``run_validation`` with ``copyMissingRows`` on a source/target
      pair with seeded faults, the target restored from a pristine copy;
    * cdc: ``CdcReplicator.attach`` draining a staged change log one file per
      micro-batch (``maxFilesPerTrigger=1``) into state that starts from a
      snapshot applied in set-up, as ``snapshot_then_stream`` applies it."""

    name = "product"
    params = PRODUCT_SIZES
    steps = ("migrate jobs (a) and (b) with their recounts", "validation", "CDC drain")

    @staticmethod
    def generate(seed: int, out_dir: str) -> dict:
        mig = gen.migrate_inputs(seed, os.path.join(out_dir, "migrate"), *PRODUCT_SIZES[:3])
        mig["exploded_rows"] = checks.exploded_groups(os.path.join(out_dir, "migrate", "timestamps"))
        val = gen.validate_inputs(seed, os.path.join(out_dir, "validate"), *PRODUCT_SIZES[3:6])
        cdc = gen.cdc_inputs(seed, os.path.join(out_dir, "cdc"), *PRODUCT_SIZES[6:])
        return {"migrate": mig, "validate": val, "cdc": cdc}

    def __init__(self, ctx: Ctx) -> None:
        from scylla_migrator_spark.config import MigratorConfig
        from scylla_migrator_spark.plans import migrate, validate
        from scylla_migrator_spark.streaming import cdc

        self.ctx, self.Config = ctx, MigratorConfig
        self.M, self.V, self.C = migrate, validate, cdc
        self.pristine = os.path.join(ctx.run_dir, "cdc-pristine", "state")

    @staticmethod
    def _paths(root: str) -> dict:
        return {
            "plain": os.path.join(root, "migrate", "plain"),
            "stamped": os.path.join(root, "migrate", "timestamps"),
            "val_source": os.path.join(root, "validate", "source"),
            "val_target": os.path.join(root, "validate", "target"),
            "snapshot": os.path.join(root, "cdc", "snapshot"),
            "log": os.path.join(root, "cdc", "log"),
        }

    def _configs(self, paths: dict, job_dir: str):
        plain = self.Config.from_dict({
            "source": {"type": "parquet", "path": paths["plain"], "where": "col2 < 900"},
            "target": {"type": "parquet", "path": os.path.join(job_dir, "plain")},
            "renames": [{"from": "col1", "to": "label"}, {"from": "col3", "to": "amount"}],
            "primaryKey": ["id"],
            "savepoints": {"path": os.path.join(job_dir, "savepoints"), "intervalSeconds": 300},
        })
        stamped = self.Config.from_dict({
            "source": {"type": "cql-fixture", "path": paths["stamped"], "preserveTimestamps": True},
            "target": {"type": "scylla-fixture", "path": os.path.join(job_dir, "fixture"),
                       "explodedTimestampWrite": True},
            "primaryKey": ["id"],
        })
        validation = self.Config.from_dict({
            "source": {"type": "parquet", "path": paths["val_source"]},
            "target": {"type": "parquet", "path": os.path.join(job_dir, "validated")},
            "primaryKey": ["id"],
            "validation": {"copyMissingRows": True, "floatingPointTolerance": 0.001,
                           "compareTimestamps": False},
        })
        return plain, stamped, validation

    def _replicator(self, state: str):
        return self.C.CdcReplicator(state, ["key"], ["v1", "v2"])

    def setup(self) -> None:
        spark = self.ctx.spark
        main = self._paths(self.ctx.inputs_dir)
        self._replicator(self.pristine).apply_batch(spark.read.parquet(main["snapshot"]), -1)
        self.log_schema = spark.read.parquet(main["log"]).schema
        for i in range(WARM_ROUNDS):
            self.op(f"warm{i}", warm=True)

    def op(self, tag, warm: bool = False) -> Op:
        ctx, M = self.ctx, self.M
        paths = self._paths(ctx.inputs_dir)
        job_dir = _fresh(os.path.join(ctx.run_dir, f"product-{tag}"))
        plain_cfg, stamped_cfg, val_cfg = self._configs(paths, job_dir)
        shutil.copytree(paths["val_target"], val_cfg.target.path)
        state = os.path.join(job_dir, "cdc-state")
        shutil.copytree(self.pristine, state)
        rep = self._replicator(state)
        stream = (
            ctx.spark.readStream.schema(self.log_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(paths["log"])
        )
        with ctx.tracer.span("op.product") as sp:
            c0, t0 = cpu_ticks(), time.perf_counter()
            out = M.migrate_resumable(ctx.spark, plain_cfg)
            with ctx.tracer.span("migrate.recount"):
                n_plain = out.count()
            t1 = time.perf_counter()
            out = M.migrate(ctx.spark, stamped_cfg)
            with ctx.tracer.span("migrate.recount"):
                n_stamped = out.count()
            t2, c2 = time.perf_counter(), cpu_ticks()
            report = self.V.run_validation(ctx.spark, val_cfg)
            t3, c3 = time.perf_counter(), cpu_ticks()
            with ctx.tracer.span("cdc.drain"):
                q = rep.attach(stream, os.path.join(job_dir, "cdc-checkpoint"))
                q.awaitTermination()
            t4, c4 = time.perf_counter(), cpu_ticks()
        # recentProgress may list a batch more than once; keep its last report
        progress = sorted(
            {
                p.batchId: (p.batchId, p.durationMs.get("triggerExecution", 0), p.numInputRows)
                for p in q.recentProgress
            }.values()
        )
        progress = [b for b in progress if b[2] > 0]
        if warm:
            shutil.rmtree(job_dir, ignore_errors=True)
            return Op(seconds=t4 - t0, steps=(), attempted=0, failed=0)
        info = ctx.info
        mig, val, cdc = info["migrate"], info["validate"], info["cdc"]
        cdc_problems = checks.cdc_state(paths["snapshot"], paths["log"], rep.current(ctx.spark).toPandas())
        if len(progress) != cdc["batches"]:
            cdc_problems.append(f"{len(progress)} micro-batches, expected {cdc['batches']}")
        problems = [
            _report("migrate", checks.migrate_plain(paths["plain"], plain_cfg.target.path, mig["spot_ids"])),
            _report("migrate", checks.migrate_exploded(paths["stamped"], stamped_cfg.target.path)
                    + ([] if n_stamped == mig["exploded_rows"]
                       else [f"CLI count {n_stamped} != {mig['exploded_rows']}"])),
            _report("validate", checks.validation_report(
                report.counts_by_kind, report.repaired_rows,
                val["expected_counts"], val["expected_repaired"])),
        ]
        _report("cdc", cdc_problems)
        files_a, bytes_a = _dir_stats(plain_cfg.target.path)
        files_b, bytes_b = _dir_stats(stamped_cfg.target.path)
        _, state_bytes = _dir_stats(state)
        _throughput_line("parquet_to_parquet_migration", mig["rows"], t1 - t0)
        _throughput_line("cql_to_scylla_preserve_timestamps", mig["ts_rows"], t2 - t1)
        _throughput_line("validation_copy_missing_rows", val["rows"], t3 - t2)
        print(f"cdc: {cdc['events']} events in {t4 - t3:.3f} s, "
              f"{cdc['events'] / (t4 - t3):.0f} events/s", flush=True)
        shutil.rmtree(job_dir, ignore_errors=True)
        return Op(
            seconds=t4 - t0,
            steps=(t2 - t0, t3 - t2, t4 - t3),
            stolen=(stolen_share(c0, c2), stolen_share(c2, c3), stolen_share(c3, c4)),
            # three jobs plus one operation per micro-batch
            attempted=3 + len(progress),
            failed=sum(bool(p) for p in problems) + (len(progress) if cdc_problems else 0),
            span=sp.sid if sp else None,
            extra={"files": files_a + files_b, "bytes": bytes_a + bytes_b,
                   "rows_written": n_plain + n_stamped, "progress": progress,
                   "state_bytes": state_bytes},
        )


class Registry(Workload):
    """Passes over three ``QUERIES`` rows; each row is constructed and then
    counted, and is one timed step. Stages are built, and every row's values
    are checked against its oracle, in the untimed warm-up pass of set-up.
    While tracing, the construction records which package modules it calls
    (``Tracer.module_calls``), so the jobs of the timed ``count()`` can be
    charged to the engine modules that built the plan."""

    name = "registry"
    params = (REGISTRY_CUSTOMERS, REGISTRY_DOCS, REGISTRY_EVENTS)
    steps = REGISTRY_ROWS

    @staticmethod
    def generate(seed: int, out_dir: str) -> dict:
        return gen.registry_inputs(seed, out_dir, *Registry.params)

    def __init__(self, ctx: Ctx) -> None:
        from scylla_migrator_spark.plans import queries

        self.ctx, self.Q = ctx, queries
        self.want_rows: dict[str, int] = {}

    def setup(self) -> None:
        ctx, Q = self.ctx, self.Q
        canon = checks.load_canon(os.path.join(ctx.repo_dir, "tools", "driver_sim.py"))
        oracles = Q.oracle_sql()
        for name in REGISTRY_ROWS:
            df = Q.QUERIES[name](ctx.spark, ctx.inputs_dir)
            got = df.toPandas()
            df.count()  # compiles the plan shape the timed passes run
            t0 = time.perf_counter()
            want = checks.registry_oracle(oracles[name], ctx.inputs_dir)
            self.want_rows[name] = len(want)
            self.setup_failed += bool(_report("registry", checks.registry_row(name, got, want, canon)))
            self.check_seconds += time.perf_counter() - t0
        self.setup_attempted = len(REGISTRY_ROWS)

    def op(self, tag) -> Op:
        ctx, tracer = self.ctx, self.ctx.tracer
        failed, steps, stolen = 0, [], []
        with tracer.span("op.registry") as sp:
            for name in REGISTRY_ROWS:
                c0, t0 = cpu_ticks(), time.perf_counter()
                with tracer.span("queries.construct", query=name) as csp, \
                        tracer.module_calls(csp, skip=frozenset({"plans.queries"})):
                    df = self.Q.QUERIES[name](ctx.spark, ctx.inputs_dir)
                if tracer.enabled:
                    with tracer.span("queries.plan", query=name):
                        df._jdf.queryExecution().executedPlan()
                with tracer.span("queries.exec", query=name):
                    n = df.count()
                steps.append(time.perf_counter() - t0)
                stolen.append(stolen_share(c0, cpu_ticks()))
                if n != self.want_rows[name]:
                    failed += 1
                    print(f"CHECK FAILED registry: {name} counted {n}, oracle "
                          f"{self.want_rows[name]}", file=sys.stderr)
        return Op(seconds=sum(steps), steps=tuple(steps), attempted=len(REGISTRY_ROWS),
                  failed=failed, span=sp.sid if sp else None, stolen=tuple(stolen))


WORKLOADS = {w.name: w for w in (Product, Registry)}
