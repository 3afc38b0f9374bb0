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
import shutil
import uuid

from pyspark.sql import DataFrame

from scylla_migrator_spark.pathio import generation, live_names, live_paths


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
    writer.parquet(path)


def swap_generation(staged: str, path: str) -> None:
    """Promote the written directory ``staged`` to the plain or partition
    directory ``path`` (``compact_parquet`` only): the current generation is
    renamed aside, ``staged`` into place, then the old one deleted (and a
    previous crash's leftover first). Each rename is atomic, so ``path``
    never holds a mix of generations."""
    old = f"{path}__old_gen"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(path):
        os.replace(path, old)
    os.replace(staged, path)
    shutil.rmtree(old, ignore_errors=True)


def _parquet_stats(paths: list[str]) -> tuple[int, int]:
    """(parquet file count, bytes) under the local directories ``paths``."""
    walk = [(d, f) for p in paths for d, _, files in os.walk(p) for f in files]
    sizes = [os.path.getsize(os.path.join(d, f)) for d, f in walk if f.endswith(".parquet")]
    return len(sizes), sum(sizes)


def _compact_flat(spark, path: str, target_file_bytes: int) -> dict:
    recorded = live_names(path) is not None
    files_before, total = _parquet_stats(live_paths(path))
    n_out = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(*live_paths(path))
    # coalesce, not repartition: no full shuffle, only existing partitions
    # merge (row order within files changes, the row SET does not)
    out = df.coalesce(min(n_out, max(df.rdd.getNumPartitions(), 1)))
    if recorded:
        with generation(path) as gen:
            out.write.parquet(gen)
    else:
        tmp = f"{path}__compact_{uuid.uuid4().hex[:8]}"
        out.write.mode("overwrite").parquet(tmp)
        swap_generation(tmp, path)
    files_after, _ = _parquet_stats(live_paths(path))
    return {"files_before": files_before, "files_after": files_after, "bytes": total}


def compact_parquet(
    spark, path: str, target_file_bytes: int = 256 * 1024 * 1024
) -> dict:
    """Small-files compaction: rewrite a parquet dataset into
    ceil(total_bytes / target_file_bytes) files, atomically — a table with a
    commit record gets one new committed generation, a plain one a
    ``swap_generation``: readers see old or new, never a mix.

    Hive-partitioned datasets (``col=value`` subdirectories: upsert serving
    tables, token-range targets, partitionBy layouts) are compacted PER
    PARTITION DIRECTORY, so the layout readers prune on, the partition
    values and ``_``-prefixed metadata files (the upsert's bucket pin)
    survive; a whole-table rewrite would flatten the partition column.

    Micro-batches and chunked migrations accrete small files, whose
    open + footer cost dominates scans at 100 TB. Sizing uses the on-disk
    (compressed) bytes. Returns {files_before, files_after, bytes}."""
    part_dirs = [
        e
        for e in os.listdir(path)
        if "=" in e and os.path.isdir(os.path.join(path, e))
    ]
    if not part_dirs:
        return _compact_flat(spark, path, target_file_bytes)
    totals = {"files_before": 0, "files_after": 0, "bytes": 0}
    for entry in sorted(part_dirs):
        sub = os.path.join(path, entry)
        # one level of nesting handled per-branch; deeper layouts recurse
        stats = compact_parquet(spark, sub, target_file_bytes)
        for k in totals:
            totals[k] += stats[k]
    return totals
