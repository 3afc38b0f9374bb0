"""Parquet sink (reference K5, writers/Parquet.scala:10-27).

Beyond the reference's plain write, the sink exposes the two physical-layout
controls that matter at 100 TB:

* ``partition_by`` — hive-style directory partitioning; downstream reads
  with a filter on the partition columns are partition-PRUNED (no file
  opens outside matching directories).
* ``repartition_columns`` — cluster rows into files by key before writing
  so each partition directory gets few large files instead of
  (tasks x partitions) small ones — the classic small-files failure mode.
"""

from __future__ import annotations

import math
import os
import posixpath
import uuid

from pyspark.sql import DataFrame

from scylla_migrator_spark import pathio


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str = "snappy",
    partition_by: list[str] | None = None,
    repartition_columns: list[str] | None = None,
) -> None:
    if repartition_columns:
        df = df.repartition(*[df[c] for c in repartition_columns])
    writer = df.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if mode != "append" or pathio.record(path) is None:
        writer.parquet(path)  # an overwrite deletes a record with the table
        return
    # a table with a commit record (a compacted or resumable target): the
    # appended files join it, or its readers would not see them and its
    # next sweep would delete them
    rec = pathio.begin(path)
    writer.parquet(path)
    _commit_all(path, rec["live"] + pathio.unnamed_files(path), rec["meta"])


def _commit_all(path: str, live: list[str], meta: dict) -> None:
    """Commit ``live`` as the table ``path``, its sweep walking all of it."""
    pathio.commit(path, live, {k: v for k, v in meta.items() if k != pathio.DIRTY})


def _parquet_stats(paths: list[str]) -> tuple[int, int]:
    """(parquet file count, bytes) of the local files or directories ``paths``."""
    files = [f for p in paths for f in pathio.for_path(p).list_files(p)]
    sizes = [
        os.path.getsize(f)
        for f in files
        if f.endswith(".parquet") and not os.path.basename(f).startswith((".", "_"))
    ]
    return len(sizes), sum(sizes)


def compact_parquet(
    spark, path: str, target_file_bytes: int = 256 * 1024 * 1024
) -> dict:
    """Small-files compaction: rewrite each partition directory of a parquet
    table (or the flat table) into ceil(bytes / target_file_bytes) new
    files, and commit one record naming them for the whole table
    (``pathio.commit``): readers see the old table or the new one, never a
    mix, and a crash leaves unnamed files the next commit sweeps. A table
    without a record first gets one naming its files as they are.

    Hive-partitioned tables (``col=value`` subdirectories: upsert serving
    tables, token-range targets, partitionBy layouts) are compacted PER
    PARTITION DIRECTORY, so the layout readers prune on, the partition
    values and ``_``-prefixed metadata files (the upsert's bucket pin)
    survive; a whole-table rewrite would flatten the partition column. A
    flat table's new files replace its files directly below its root, or
    its generation directories with a new one.

    Micro-batches and chunked migrations accrete small files, whose
    open + footer cost dominates scans at 100 TB. Sizing uses the on-disk
    (compressed) bytes. Returns {files_before, files_after, bytes}."""
    rec = pathio.begin(path)
    groups: dict[str, list[str]] = {}
    for name in rec["live"]:
        groups.setdefault(posixpath.dirname(name), []).append(name)
    stats = {"files_before": 0, "files_after": 0, "bytes": 0}
    gens = []
    for group, names in sorted(groups.items()):
        # after the sweep a directory holds only live files (and metadata)
        out = os.path.join(path, group) if group else path
        src = [out]
        if not group and any(os.path.isdir(os.path.join(path, n)) for n in names):
            # a table of generation directories gets a new one
            src = [os.path.join(path, n) for n in names]
            gens.append(f"g-{uuid.uuid4().hex}")
            out = os.path.join(path, gens[-1])
        n_files, total = _parquet_stats(src)
        stats["files_before"] += n_files
        stats["bytes"] += total
        df = spark.read.parquet(*src)
        # coalesce, not repartition: no full shuffle, only existing partitions
        # merge (row order within files changes, the row SET does not)
        n_out = max(1, math.ceil(total / target_file_bytes))
        df.coalesce(min(n_out, max(df.rdd.getNumPartitions(), 1))).write.mode(
            "append"
        ).parquet(out)
    written = pathio.unnamed_files(path)
    live = gens + [f for f in written if f.split("/", 1)[0] not in gens]
    _commit_all(path, live, rec["meta"])
    stats["files_after"] = len(written)
    return stats
