"""Streaming CDC replication: change stream -> upsert/delete into the target.

Reference parity (§2.12, writers/DynamoStreamReplication.scala:42-164):
* T1 micro-batch cadence: ``Trigger.ProcessingTime("5 seconds")`` (tests use
  ``availableNow`` to drain deterministically)
* T2 initial position: file-source streams naturally replay from the start
  (TrimHorizon analog)
* T3 change model: an op column INSERT/MODIFY -> put, REMOVE -> delete
* T4 at-least-once + idempotent upserts: the merge keys on the PK and keeps
  the newest (ts, seq) version, so replayed batches are no-ops; Structured
  Streaming checkpointing replaces KCL lease checkpoints
* T5 snapshot-then-stream: ``snapshot_then_stream`` runs the batch copy
  first, then attaches the stream

The target here is the parquet fixture store; the merge is expressed as a
unionByName + max_by-per-key compaction (same plan a Delta MERGE compiles
to for a full-overwrite fixture). Each micro-batch makes one pass over
state plus batch and writes the compacted state ONCE:

* generation swap: the new state is written to ``<target>.staging`` and
  promoted by ``sinks.parquet.swap_generation`` (old generation renamed
  aside, staging renamed into place, old deleted);
* recovery rule: the state is the target if it exists, else a COMPLETED
  staging dir (``_SUCCESS`` present) — a crash between the two renames
  loses nothing, and the next batch first finishes the interrupted swap.
  A staging dir without ``_SUCCESS`` is a torn write and is ignored; an
  existing state that cannot be read raises instead of being replaced;
* the schema of the state this replicator last wrote is pinned for the
  next read, so only a fresh replicator (a restart) infers it from the
  parquet footers.

Per-op counters (put/delete accumulators,
DynamoStreamReplication.scala:50-51) ride the compaction write through
``df.observe`` (``count_if`` per op) and are exposed through ``metrics``;
a batch carrying an op outside INSERT/MODIFY/REMOVE, or whose observation
the optimizer pruned, is counted by a separate aggregation instead.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from scylla_migrator_spark.sinks.parquet import swap_generation

OP_COL = "op"
OPS = ("INSERT", "MODIFY", "REMOVE")
SEQ_COLS = ("ts", "event_id")  # version ordering: newest wins
_OTHER = "__other_ops"


def _op_counts_observed(obs: Observation) -> dict | None:
    """The observed per-op counts, or None when the write's plan lost the
    CollectMetrics node (AQE empty-relation pruning completes the
    observation with an empty row, see ``curate.CurationResult.counts``).
    The observation completes on the listener bus just after the write
    returns, hence the short poll."""
    jo = obs._jo
    fut = jo.future()
    deadline = time.monotonic() + 10.0
    while not fut.isCompleted() and time.monotonic() < deadline:
        time.sleep(0.001)
    if not fut.isCompleted() or jo.getRow().size() == 0:
        return None
    return obs.get


@dataclass
class CdcReplicator:
    """foreachBatch-driven upsert/delete merge into a parquet-backed target."""

    target_path: str
    key_cols: list[str]
    value_cols: list[str]
    allow_schema_drift: bool = False
    metrics: list[dict] = field(default_factory=list)

    # schema of the generation this replicator last wrote; None = infer
    _schema: StructType | None = field(default=None, init=False, repr=False)

    @property
    def _staging(self) -> str:
        return self.target_path + ".staging"

    def _staging_complete(self) -> bool:
        return os.path.exists(os.path.join(self._staging, "_SUCCESS"))

    def _read_state(self, spark: SparkSession) -> DataFrame | None:
        """The newest complete generation: the target, else a completed
        staging dir (a swap interrupted between its renames), else None."""
        path = self.target_path
        if not os.path.exists(path):
            if not self._staging_complete():
                return None
            path = self._staging
        reader = spark.read if self._schema is None else spark.read.schema(self._schema)
        return reader.parquet(path)

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if not os.path.exists(self.target_path) and self._staging_complete():
            # finish the swap a crash interrupted: the next write reuses
            # the staging dir, so its generation must be promoted first
            swap_generation(self._staging, self.target_path)
        state = self._read_state(spark)
        drift_added: list[str] = []
        if self.allow_schema_drift and state is not None:
            # adopt columns earlier drift persisted into state BEFORE
            # computing this batch's drift: a restarted replicator (fresh
            # constructor value_cols) must not re-report long-known columns
            # as new drift, and the compact below must not drop them
            known = {*self.key_cols, *SEQ_COLS, OP_COL}
            persisted = [
                c
                for c in state.columns
                if c not in known and c not in self.value_cols
            ]
            if persisted:
                self.value_cols = [*self.value_cols, *persisted]
        if self.allow_schema_drift:
            # DynamoDB/Alternator items are SCHEMALESS: a stream batch may
            # carry attributes never declared up front, or omit declared
            # ones (a put replaces the WHOLE item, so an omitted attribute
            # means removed — newest-wins over the full row is the correct
            # image semantics). Widen the tracked value columns with
            # whatever arrives; missing columns null-fill via unionByName.
            known = {*self.key_cols, *SEQ_COLS, OP_COL}
            drift_added = [
                c
                for c in batch.columns
                if c not in known and c not in self.value_cols
            ]
            if drift_added:
                self.value_cols = [*self.value_cols, *drift_added]
            present = [c for c in self.value_cols if c in batch.columns]
            batch = batch.select(*self.key_cols, *SEQ_COLS, OP_COL, *present)
        else:
            cols = [*self.key_cols, *SEQ_COLS, OP_COL, *self.value_cols]
            batch = batch.select(*cols)

        # per-op accumulator counts (K7), observed on the compaction write
        op = F.col(OP_COL)
        obs = Observation(f"cdc_ops_{batch_id}")
        observed = batch.observe(
            obs,
            *[F.count_if(op == o).alias(o) for o in OPS],
            F.count_if(~F.coalesce(op.isin(*OPS), F.lit(False))).alias(_OTHER),
        )
        merged = (
            observed
            if state is None
            else state.unionByName(
                observed, allowMissingColumns=self.allow_schema_drift
            )
        )

        # newest version per key wins (idempotent under replay; out-of-order
        # events within retention cannot regress state)
        avail_vals = [c for c in self.value_cols if c in merged.columns]
        ver = F.struct(*[F.col(c) for c in SEQ_COLS])
        pick = [
            F.max_by(F.struct(*[F.col(c) for c in (*SEQ_COLS, OP_COL, *avail_vals)]), ver).alias("r")
        ]
        # tombstones (op=REMOVE) are RETAINED in stored state so that a
        # late-arriving older event cannot resurrect a deleted key; they are
        # filtered out of the user-facing view by current()
        compact = merged.groupBy(*self.key_cols).agg(*pick).select(*self.key_cols, "r.*")
        compact.write.mode("overwrite").parquet(self._staging)
        swap_generation(self._staging, self.target_path)
        self._schema = compact.schema

        seen = _op_counts_observed(obs)
        if seen is not None and not seen[_OTHER]:
            counts = {o: seen[o] for o in OPS if seen[o]}
        else:
            counts = {
                r[OP_COL]: r["cnt"]
                for r in batch.groupBy(OP_COL).agg(F.count("*").alias("cnt")).collect()
            }
        entry = {"batch_id": batch_id, **counts}
        if drift_added:
            entry["drift_added"] = drift_added
        self.metrics.append(entry)

    def current(self, spark: SparkSession) -> DataFrame:
        """The live target view: tombstoned keys excluded."""
        state = self._read_state(spark)
        if state is None:
            raise FileNotFoundError(f"no CDC state at {self.target_path}")
        return state.filter(F.col(OP_COL) != "REMOVE").drop(OP_COL)

    def attach(self, stream: DataFrame, checkpoint: str, trigger_available_now: bool = True):
        writer = stream.writeStream.foreachBatch(self.apply_batch).option(
            "checkpointLocation", checkpoint
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime="5 seconds")  # T1 cadence
        return writer.start()


def snapshot_then_stream(
    snapshot: DataFrame,
    stream: DataFrame,
    replicator: CdcReplicator,
    checkpoint: str,
    skip_initial_snapshot: bool = False,
    source_catalog: dict | None = None,
    source_table: str | None = None,
):
    """T5: enable the source change stream (K9), batch snapshot write, then
    continuous replication (AlternatorMigrator.scala:149-192 — the stream is
    enabled BEFORE the snapshot so changes during the copy are captured).

    ``source_catalog``/``source_table`` identify the fixture table whose
    stream must be ENABLED first (DynamoUtils.scala:337-401 poll loop);
    omitted = file-backed source whose stream needs no enablement."""
    if source_catalog is not None:
        from scylla_migrator_spark.sinks.dynamodb import enable_dynamo_stream

        if source_table is None:
            raise ValueError("source_table required when source_catalog is given")
        enable_dynamo_stream(source_catalog, source_table)
    if not skip_initial_snapshot:
        replicator.apply_batch(snapshot, batch_id=-1)
    return replicator.attach(stream, checkpoint)
