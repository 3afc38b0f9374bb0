"""Migration plan: dispatch (source, target) -> read -> transform -> write.

Reference parity: Migrator.scala:64-98 dispatch + ScyllaMigrator.migrate
(scylla/ScyllaMigrator.scala:47-133). The whole pipeline is one declarative
DataFrame plan: scan (with pushdown) -> rename projection -> where filter ->
null-PK drop -> sink. Catalyst collapses the projections; the physical plan is
a single scan+project+filter+write stage with no shuffle.
"""

from __future__ import annotations

import os
import posixpath

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql.types import StructType

from scylla_migrator_spark.config import MigratorConfig
from scylla_migrator_spark.operators.filters import apply_where, auto_null_pk_filtering, drop_null_pk_rows
from scylla_migrator_spark.operators.renames import apply_renames
from scylla_migrator_spark.pathio import commit, for_path, generation, live_names, read_live
from scylla_migrator_spark.sources.parquet import read_parquet
from scylla_migrator_spark.sinks.parquet import write_parquet
from scylla_migrator_spark.sinks.scylla_fixture import write_scylla_fixture
from scylla_migrator_spark import schema as S


def read_source(spark: SparkSession, config: MigratorConfig) -> DataFrame:
    src = config.source
    if src.type in ("parquet", "cql-fixture"):
        # cql-fixture = the fixture stand-in for the CQL token-range scan
        # (SURVEY S1): parquet scan + timestamp widening normalization pass;
        # companions arrive either bare (c_ttl/c_writetime) or __meta_-prefixed
        df = read_parquet(
            spark, src.path, skip_files=src.skip_files, merge_schema=src.merge_schema
        )
        df = _normalize_file_frame(df, src)
    elif src.type in ("csv", "json", "orc"):
        # generic columnar/text file sources: same pipeline surface as
        # parquet. CSV/JSON get schema from `schemaDdl` when provided
        # (at scale: always — inference re-reads the data); ORC is
        # self-describing like parquet.
        reader = spark.read.options(**src.options)
        if src.schema_ddl:
            reader = reader.schema(src.schema_ddl)
        elif src.type == "csv":
            reader = reader.option("inferSchema", True)
        df = getattr(reader, src.type)(src.path)
    elif src.type == "sql":
        # SQL front-end: register the configured parquet datasets as temp
        # views and hand the query text to Spark SQL. Catalyst gets the whole
        # statement — pushdown/pruning/join planning apply exactly as in the
        # DataFrame paths; the YAML stays the reference-style config surface.
        for view, vpath in src.tables.items():
            from scylla_migrator_spark.config import validate_identifier

            spark.read.parquet(vpath).createOrReplaceTempView(validate_identifier(view))
        df = spark.sql(src.query)
    elif src.type == "jdbc":
        from scylla_migrator_spark.sources.jdbc import read_jdbc

        # the where is pushed server-side inside the dbtable subquery (S5);
        # do NOT re-apply it Spark-side — it may be dialect-specific SQL
        return read_jdbc(spark, src, url=src.url)
    elif src.type == "dynamodb-s3-export":
        from scylla_migrator_spark.sources.s3export import read_s3_export

        df = read_s3_export(spark, src.path, skip_files=src.skip_files)
    elif src.type == "stream":
        # continuous file-source replication (T2: replays from the start —
        # the TrimHorizon analog). Schema comes from a batch probe of the
        # same path; a single-file path is staged into a directory because
        # the file streaming source lists directories.
        import hashlib

        path = src.path
        batch_schema = spark.read.parquet(path).schema
        if os.path.isfile(path):
            # stable digest, NOT built-in hash(): hash() is salted per process,
            # so a restart of a checkpointed stream would stage a "new" dir,
            # re-ingest the file as unseen, and leak /tmp staging dirs
            digest = hashlib.sha256(os.path.abspath(path).encode()).hexdigest()[:16]
            stage = os.path.join("/tmp", f"sgs_stream_src_{digest}")
            os.makedirs(stage, exist_ok=True)
            link = os.path.join(stage, os.path.basename(path))
            if not os.path.exists(link):
                try:
                    os.symlink(os.path.abspath(path), link)
                except FileExistsError:
                    pass  # concurrent session staged it first
            path = stage
        df = spark.readStream.schema(batch_schema).parquet(path)
    else:
        raise ValueError(f"unsupported source type {src.type!r}")
    return apply_where(df, src.where)


def _normalize_file_frame(df: DataFrame, src) -> DataFrame:
    """Shared per-read normalization for parquet-family sources: strip
    ``__meta_`` prefixes, and for CQL fixtures widen timestamps and drop
    TTL/WRITETIME companions unless preserved. Used by both the one-shot
    read path and the chunked resumable loop — keep them in lockstep."""
    if any(c.startswith(S.META_PREFIX) for c in df.columns):
        df = S.strip_meta_prefix(df)
    if src.type == "cql-fixture":
        df = S.widen_timestamps(df)
        if not src.preserve_timestamps:
            companions = [
                c for c in df.columns if c.endswith((S.TTL_SUFFIX, S.WRITETIME_SUFFIX))
            ]
            df = df.drop(*companions)
    return df


def _apply_transforms(df: DataFrame, config: MigratorConfig) -> DataFrame:
    """Shared post-read pipeline (renames / item-map renames / null-PK drop)
    for batch frames. Both ``build_plan`` and ``migrate_resumable`` run
    EXACTLY this — any new transform belongs here, not in either caller."""
    if "item" in df.columns:
        # schemaless item frame (DynamoDB model): renames are per-item key
        # renames (writers/DynamoDB.scala:121-129), and the canonical JSON
        # payload must follow the renamed map
        if config.renames:
            from pyspark.sql import functions as F

            from scylla_migrator_spark.operators.renames import rename_map_keys

            df = rename_map_keys(df, "item", config.renames)
            df = df.withColumn("item_json", F.to_json(F.col("item")))
        return df
    df = apply_renames(df, config.renames)
    if config.primary_key and auto_null_pk_filtering(config.source.type):
        df = drop_null_pk_rows(df, config.primary_key)
    return df


def _read_written(
    reader: DataFrameReader,
    path: str,
    schemas: list[StructType],
    *,
    replaced: bool,
    partition_by: list[str] | None,
    merge_schema: bool = False,
) -> DataFrame:
    """The lazy re-read of the parquet target ``path`` the caller just
    wrote (through its record, if it has one), ``schemas`` being the
    schema of each of its writes. When the read
    sees exactly that -- the target was ``replaced``, the layout is flat, the
    schema is not merged and every write had one schema -- that schema is
    handed to the reader, so no one-task footer job runs. Otherwise (append
    or ``ignore`` mode, a resumed run, a hive-partitioned or evolved layout)
    the schema is inferred."""
    if (
        replaced
        and schemas
        and all(s == schemas[0] for s in schemas)
        and not partition_by
        and not merge_schema
    ):
        reader = reader.schema(schemas[0])
    return read_live(reader, path)


def build_plan(spark: SparkSession, config: MigratorConfig) -> DataFrame:
    """The lazy migration DataFrame (no action executed)."""
    return _apply_transforms(read_source(spark, config), config)


def migrate(spark: SparkSession, config: MigratorConfig) -> DataFrame:
    """Execute the migration; returns the written frame (lazy re-read plan)."""
    df = build_plan(spark, config)
    tgt = config.target
    if df.isStreaming:
        # streaming migration (T1/T5): drain the stream into the target with
        # the availableNow trigger; the Structured Streaming checkpoint IS
        # the savepoint (restart resumes from the last committed batch)
        import tempfile

        if tgt.type != "parquet":
            raise ValueError("stream source currently targets parquet sinks")
        if tgt.mode == "overwrite":
            for_path(tgt.path).delete(tgt.path)
        checkpoint = (
            config.savepoints.path
            if config.savepoints and config.savepoints.path
            else tempfile.mkdtemp(prefix="sgs_stream_ckpt_")
        )
        q = (
            df.writeStream.format("parquet")
            .option("path", tgt.path)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(tgt.path)
    if tgt.type == "parquet":
        # persist TTL/WRITETIME companions under the __meta_ prefix (SURVEY P5/X2)
        out = S.add_meta_prefix(df) if S.has_timestamp_companions(df.columns) else df
        write_parquet(
            out,
            tgt.path,
            mode=tgt.mode,
            compression=tgt.compression,
            partition_by=tgt.partition_by,
            repartition_columns=tgt.repartition_columns,
        )
        written = out.schema
    elif tgt.type == "scylla-fixture":
        if tgt.exploded_timestamp_write and S.has_timestamp_companions(df.columns):
            # per-row TTL/WRITETIME path (K2): explode by (ttl, writetime)
            # group; each output row carries its own ttl/writetime plus
            # tri-state cell flags — the fixture persists them verbatim
            from scylla_migrator_spark.operators.explode_timestamps import (
                explode_by_timestamp_groups,
            )

            df = explode_by_timestamp_groups(df, config.primary_key)
        written = write_scylla_fixture(
            df,
            tgt.path,
            primary_key=config.primary_key,
            mode=tgt.mode,
            ttl=tgt.ttl,
            writetime_us=tgt.writetime_us,
            strip_zeros=tgt.strip_trailing_zeros_for_decimals,
        )
    elif tgt.type in ("csv", "json", "orc"):
        writer = df.write.mode(tgt.mode).options(**tgt.options).option(
            "compression", tgt.compression
        )
        if tgt.type == "csv":
            writer = writer.option("header", True)
        getattr(writer, tgt.type)(tgt.path)
        reader = spark.read.options(**tgt.options)
        if tgt.type == "csv":
            reader = reader.option("header", True).schema(df.schema)
        elif tgt.type == "json":
            reader = reader.schema(df.schema)
        return getattr(reader, tgt.type)(tgt.path)
    elif tgt.type == "dynamodb-s3-export":
        from scylla_migrator_spark.sinks.s3export import write_s3_export
        from scylla_migrator_spark.sources.s3export import read_s3_export

        if "item_json" not in df.columns:
            raise ValueError("dynamodb-s3-export target requires an item_json column")
        write_s3_export(df.select("item_json"), "item_json", tgt.path)
        return read_s3_export(spark, tgt.path)
    else:
        raise ValueError(f"unsupported target type {tgt.type!r}")
    return _read_written(
        spark.read,
        tgt.path,
        [written],
        replaced=tgt.mode == "overwrite",
        partition_by=tgt.partition_by,
    )


def migrate_resumable(
    spark: SparkSession,
    config: MigratorConfig,
    files_per_chunk: int = 16,
    stop_after_chunks: int | None = None,
) -> DataFrame:
    """Resumable chunked migration: the operational loop that ties the
    savepoint machinery (Z1), file-skip resume (S10/F5), and the migration
    transforms together — the reference's core operational behavior
    (ScyllaMigrator.scala:47-133 with SavepointsManager running alongside).

    The source's file list is split into chunks; each chunk is read,
    transformed (renames / where / null-PK drop), and committed to the
    target, then recorded AND DUMPED. Commit protocol by layout:

    * default (no partitionBy): EXACTLY-ONCE under hard kill, on any
      ``pathio`` scheme, one run per target at a time. Each chunk is written
      to ``<target>/chunk-<sha(files)>``, added to the target's commit
      record (``pathio.commit``), then dumped. On resume a chunk the record
      names (killed before its dump) is recorded, not re-run; a ``chunk-*``
      directory it does not name is a torn write and is overwritten. (The
      sorted file list makes a resumed run reproduce the chunks.)
    * hive-partitioned targets (partitionBy): chunks append in place (chunk
      subdirs would break the partition layout), each dumped right after its
      append: a kill in that window re-appends one chunk (at-least-once).

    The `PeriodicDumper` also serves SIGUSR2 and the terminal dump. A
    restart resumes from the last savepoint: completed files are pruned
    BEFORE planning. Without ``mergeSchema`` the first chunk's inferred
    source schema is pinned for the others: a run pays one footer job.

    ``stop_after_chunks`` simulates an interruption for tests. The unit of
    work is the FILE (the reference's token range / segment); at 100 TB pick
    files_per_chunk so a chunk is a few executor-minutes (bounded re-work on
    crash, amortized job submission)."""
    from scylla_migrator_spark.savepoints import PeriodicDumper, SavepointsManager
    from scylla_migrator_spark.sinks.parquet import write_parquet as _wp
    from scylla_migrator_spark.sources.parquet import list_parquet_files

    src, tgt = config.source, config.target
    if src.type not in ("parquet", "cql-fixture"):
        raise ValueError("migrate_resumable supports file-based sources")
    if tgt.type != "parquet":
        raise ValueError("migrate_resumable targets parquet")
    sp_dir = config.savepoints.path if config.savepoints and config.savepoints.path else None
    if sp_dir is None:
        raise ValueError("migrate_resumable requires savepoints.path")
    interval = config.savepoints.interval_seconds if config.savepoints else 300

    import hashlib

    mgr = SavepointsManager.resume(sp_dir)
    # chunk boundaries are part of the commit identity (chunk-dir sha is
    # over the chunk's file list): a resume MUST re-chunk the same way, so
    # the first run's files_per_chunk is recorded and overrides the param
    recorded = mgr.config.get("__files_per_chunk") if isinstance(mgr.config, dict) else None
    if recorded:
        files_per_chunk = int(recorded)
    mgr.config = {**config.rendered(), "__files_per_chunk": files_per_chunk}
    done = set(mgr.skip_files) | set(src.skip_files)
    all_files = list_parquet_files(src.path)
    todo = [f for f in all_files if f not in done and posixpath.basename(f) not in done]
    atomic_chunks = not tgt.partition_by
    io = for_path(tgt.path)
    live = live_names(tgt.path) if atomic_chunks else None
    # "fresh start" must also see no committed chunks: a kill after chunk 1's
    # commit but before ANY dump leaves an empty savepoint dir — the
    # committed chunk is recognized below, not deleted and re-run
    fresh_start = not mgr.skip_files and not live
    if fresh_start and todo and tgt.mode == "overwrite":
        io.delete(tgt.path)
    # a fresh start (no chunk of an earlier run committed) into an absent or
    # just wiped target: every chunk the final read sees is one this run writes
    replaced = fresh_start and not io.exists(tgt.path)
    if atomic_chunks and todo and live is None:
        if io.exists(tgt.path):  # a commit would sweep its data
            raise ValueError(f"target {tgt.path} holds data but no commit record")
        commit(tgt.path, [])  # so a torn first chunk lies under a record
    live = list(live or [])
    written: list[StructType] = []
    source_schema: StructType | None = None

    with PeriodicDumper(mgr, interval, install_signal_handler=True) as dumper:
        for i in range(0, len(todo), files_per_chunk):
            if stop_after_chunks is not None and i // files_per_chunk >= stop_after_chunks:
                break
            chunk = todo[i : i + files_per_chunk]
            name = "chunk-" + hashlib.sha256("|".join(chunk).encode()).hexdigest()[:16]
            if atomic_chunks and name in live:
                # committed by a previous run killed before its savepoint dump
                mgr.complete_files(chunk)
                dumper.dump_now()
                continue
            reader = spark.read
            if src.merge_schema:
                reader = reader.option("mergeSchema", True)
            elif source_schema is not None:
                reader = reader.schema(source_schema)
            raw = reader.parquet(*chunk)
            source_schema = raw.schema
            df = _normalize_file_frame(raw, src)
            df = _apply_transforms(apply_where(df, src.where), config)
            out = S.add_meta_prefix(df) if S.has_timestamp_companions(df.columns) else df
            written.append(out.schema)
            if atomic_chunks:
                with generation(tgt.path, name, keep=live) as path:
                    _wp(
                        out,
                        path,
                        mode="overwrite",
                        compression=tgt.compression,
                        repartition_columns=tgt.repartition_columns,
                    )
                live.append(name)
            else:
                _wp(
                    out,
                    tgt.path,
                    mode="append",
                    compression=tgt.compression,
                    partition_by=tgt.partition_by,
                    repartition_columns=tgt.repartition_columns,
                )
            mgr.complete_files(chunk)
            # dump IMMEDIATELY: the on-disk savepoint must never lag the
            # committed chunks, or a hard kill re-processes the gap on resume
            dumper.dump_now()
    if not io.exists(tgt.path):
        raise ValueError(
            f"nothing to migrate: no pending files under {src.path} and no existing target"
        )
    final = spark.read
    if src.merge_schema:
        # chunk dirs can carry evolved (differing) schemas; without merging,
        # the union schema would come from whichever dir lists first
        final = final.option("mergeSchema", True)
    return _read_written(
        final,
        tgt.path,
        written,
        replaced=replaced,
        partition_by=tgt.partition_by,
        merge_schema=src.merge_schema,
    )
