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
    """Promote the completely written directory ``staged`` to ``path``: the
    current generation (if any) is renamed aside, ``staged`` is renamed into
    place, then the old generation is deleted. Each rename is atomic, so
    ``path`` never holds a mix of generations; a crash between the two
    renames leaves ``path`` absent and the new generation complete at
    ``staged``. A previous crash's leftover old generation is removed first."""
    old = f"{path}__old_gen"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(path):
        os.replace(path, old)
    os.replace(staged, path)
    shutil.rmtree(old, ignore_errors=True)


def _compact_flat(spark, path: str, target_file_bytes: int) -> dict:
    files_before = 0
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                files_before += 1
                total += os.path.getsize(os.path.join(root, f))
    n_out = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    tmp = f"{path}__compact_{uuid.uuid4().hex[:8]}"
    # coalesce, not repartition: compaction must not pay a full shuffle —
    # it only merges existing partitions (row order within files changes,
    # row SET does not)
    src_parts = df.rdd.getNumPartitions()
    out = df.coalesce(min(n_out, max(src_parts, 1)))
    out.write.mode("overwrite").parquet(tmp)
    swap_generation(tmp, path)
    files_after = sum(
        1 for _r, _d, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )
    return {"files_before": files_before, "files_after": files_after, "bytes": total}


def compact_parquet(
    spark, path: str, target_file_bytes: int = 256 * 1024 * 1024
) -> dict:
    """Small-files compaction: rewrite a parquet dataset into
    ceil(total_bytes / target_file_bytes) files, atomically (each new
    generation staged to a side dir, then a directory swap — readers see
    old or new, never a mix; a crash leaves the old generation intact).

    Hive-partitioned datasets (``col=value`` subdirectories — the upsert
    serving tables, token-range targets, partitionBy layouts) are compacted
    PER PARTITION DIRECTORY: each partition's files merge within it, the
    directory structure, partition values and any ``_``-prefixed metadata
    files (e.g. the upsert's bucket-pinning meta) survive untouched. A
    whole-table read-and-rewrite here would flatten the partition column
    into the data files and destroy the layout downstream readers prune on.

    This is the maintenance op every long-running append/streaming sink
    needs: micro-batches and chunked migrations accrete many small files,
    and at 100 TB the file-open + footer-read overhead of millions of tiny
    files dominates scan time. Sizing uses the dataset's ACTUAL on-disk
    bytes (compressed). Returns {files_before, files_after, bytes}."""
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
