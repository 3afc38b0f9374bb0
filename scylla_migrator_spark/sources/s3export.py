"""DynamoDB S3-export source: manifest-summary -> manifest-files -> gzip
JSON-lines data files -> item variant columns.

Reference parity — readers/DynamoDBS3Export.scala:54-221 (manifest parsing
:69-134, data read :136-169, item decode :240-292). Export layout:

    <root>/manifest-summary.json      {"itemCount": N, "manifestFilesS3Key": ...}
    <root>/manifest-files.json        one JSON object per line:
                                      {"dataFileS3Key": ..., "itemCount": n}
    <root>/data/*.json.gz             one {"Item": {attr: {tag: val}}} per line

where ``<root>`` is the live export of a committed root (``pathio``), else
the root itself; the files manifest is the one ``manifestFilesS3Key`` names.

Manifest parsing happens on the driver (tiny); data files go through
``spark.read.text`` + ``from_json`` — fully distributed, pushdown-friendly.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from scylla_migrator_spark.functions.ddb_variant import ITEM_SCHEMA
from scylla_migrator_spark.pathio import for_path, live_paths

MANIFEST_SUMMARY = "manifest-summary.json"
MANIFEST_FILES = "manifest-files.json"


def _read_key(root: str, key: str) -> str:
    io = for_path(root)
    return io.read_utf8(io.join(live_paths(root)[0], key))


def read_manifest_summary(root: str) -> dict:
    return json.loads(_read_key(root, MANIFEST_SUMMARY))


def read_manifest_files(root: str) -> list[dict]:
    key = read_manifest_summary(root).get("manifestFilesS3Key", MANIFEST_FILES)
    return [json.loads(line) for line in _read_key(root, key).splitlines() if line.strip()]


def read_s3_export(spark: SparkSession, root: str, skip_files: list[str] | None = None) -> DataFrame:
    """Read an export: returns (item: map<string,variant>, item_json: string).

    ``skip_files`` = resume skip-set of dataFileS3Key values (S10/F5
    semantics applied to export data files)."""
    files = read_manifest_files(root)
    export, io = live_paths(root)[0], for_path(root)
    skip = set(skip_files or [])
    paths = [
        io.join(export, e["dataFileS3Key"]) for e in files if e["dataFileS3Key"] not in skip
    ]
    if not paths:
        raise FileNotFoundError(f"no data files to process in export {root}")
    raw = spark.read.text(paths)  # gzip inferred from .gz extension
    wrapper = T.StructType([T.StructField("Item", ITEM_SCHEMA)])
    return raw.select(F.from_json(F.col("value"), wrapper).getField("Item").alias("item"),
                      F.col("value").alias("item_json"))
