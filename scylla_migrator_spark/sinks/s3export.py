"""DynamoDB S3-export sink: gzip JSON-lines data files + manifests.

Reference parity — writers/DynamoDBS3Export.scala:32-164 (encode :172-219):
* data files ``data/*.json.gz``, one ``{"Item": {...}}`` per line
* deterministic canonical encoding: item keys sorted, SS sorted lexically,
  NS numerically, BS by bytes (done upstream via canonical item JSON)
* ``manifest-files.json``: one line per data file with itemCount
* ``manifest-summary.json``: total itemCount + manifestFilesS3Key
* cleanup-on-failure: write to a temp dir, promote on success

The data write is fully distributed (``df.write.text`` with gzip); only the
tiny manifests are written on the driver. Per-file counts come from one
aggregation over ``input_file_name()`` on the written files — replaces the
reference's mapPartitionsWithIndex accumulator pass (A6)."""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scylla_migrator_spark.sinks.parquet import swap_generation
from scylla_migrator_spark.sources.s3export import MANIFEST_FILES, MANIFEST_SUMMARY


def write_s3_export(df: DataFrame, item_json_col: str, root: str) -> dict:
    """``df[item_json_col]`` must hold canonical item JSON (see
    functions/ddb_variant.py). Returns the manifest summary."""
    spark = df.sparkSession
    tmp = root + ".inprogress"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    data_dir = os.path.join(tmp, "data")
    try:
        out = df.select(F.concat(F.lit('{"Item":'), F.col(item_json_col), F.lit("}")).alias("value"))
        out.write.option("compression", "gzip").text(data_dir)

        written = spark.read.text(data_dir).select(F.input_file_name().alias("f"))
        counts = {
            os.path.basename(r["f"].replace("file://", "")): r["cnt"]
            for r in written.groupBy("f").agg(F.count("*").alias("cnt")).collect()
        }
        entries = [
            {"dataFileS3Key": f"data/{name}", "itemCount": cnt}
            for name, cnt in sorted(counts.items())
        ]
        with open(os.path.join(tmp, MANIFEST_FILES), "w") as f:
            for e in entries:
                f.write(json.dumps(e, sort_keys=True) + "\n")
        summary = {
            "itemCount": int(sum(counts.values())),
            "manifestFilesS3Key": MANIFEST_FILES,
            "outputFormat": "DYNAMODB_JSON",
        }
        with open(os.path.join(tmp, MANIFEST_SUMMARY), "w") as f:
            json.dump(summary, f, sort_keys=True)
    except Exception:
        shutil.rmtree(tmp, ignore_errors=True)  # cleanup on failure (K6)
        raise
    swap_generation(tmp, root)
    return summary
