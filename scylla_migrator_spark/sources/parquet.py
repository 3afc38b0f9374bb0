"""Parquet source with deterministic file discovery and resume skip-lists.

Reference parity: readers/Parquet.scala:40-170 (recursive discovery :148-170,
skip list :47-62, deterministic ordering :156) and
readers/ParquetWithoutSavepoints.scala:11-42.

Scale notes: file discovery happens on the driver against the filesystem
listing (same as the reference); the pruned path list is handed to
``spark.read.parquet(*paths)`` so skipped files are never opened — resume
pruning is *partition pruning before planning*, not a runtime filter.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scylla_migrator_spark.pathio import for_path, live_paths


def list_parquet_files(path: str) -> list[str]:
    """Recursive discovery of .parquet data files, deterministic order
    (Parquet.scala:148-170: ``inputFiles.distinct.sorted``), through
    ``pathio`` on any scheme; a committed table lists its live generations."""
    io = for_path(path)
    files = [f for root in live_paths(path) for f in io.list_files(root)]
    if files == [path]:  # a single-file source
        return files
    names = ((f, posixpath.basename(f)) for f in files)
    return sorted({f for f, n in names if n.endswith(".parquet") and not n.startswith(("_", "."))})


def read_parquet(
    spark: SparkSession,
    path: str,
    skip_files: list[str] | None = None,
    with_file_column: bool = False,
    merge_schema: bool = False,
) -> DataFrame:
    """Read a parquet dataset, pruning already-processed files.

    ``skip_files`` entries may be absolute paths or basenames
    (Parquet.scala:47-62). ``with_file_column`` adds ``__source_file`` via
    ``input_file_name()`` for progress tracking (replaces the reference's
    FileSourceScanExec introspection, SURVEY §2 Z5).

    ``merge_schema`` handles schema evolution across files (columns added
    over the table's lifetime): the union schema is reconciled across all
    footers and files missing a column read it as null. Off by default —
    footer merging reads every file's metadata up front, which is a real
    cost on a 100k-file table; enable it only for evolved tables."""
    files = list_parquet_files(path)
    if skip_files:
        skip = set(skip_files) | {posixpath.basename(s) for s in skip_files}
        files = [f for f in files if f not in skip and posixpath.basename(f) not in skip]
    if not files:
        raise FileNotFoundError(f"no parquet files to process under {path}")
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", True)
    df = reader.parquet(*files)
    if with_file_column:
        df = df.withColumn("__source_file", F.input_file_name())
    return df
