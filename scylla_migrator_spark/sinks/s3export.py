"""DynamoDB S3-export sink: gzip JSON-lines data files + manifests.

Reference parity — writers/DynamoDBS3Export.scala:32-164 (encode :172-219):
* data files ``data/*.json.gz``, one ``{"Item": {...}}`` per line
* deterministic canonical encoding: item keys sorted, SS sorted lexically,
  NS numerically, BS by bytes (done upstream via canonical item JSON)
* ``manifest-files.json``: one line per data file with itemCount
* ``manifest-summary.json``: total itemCount + manifestFilesS3Key
* each export is written whole into ``<root>/g-<uuid>/`` (AWS's
  ``AWSDynamoDB/<exportId>/``) and committed as the root's one live
  generation (``pathio.generation``): a crash leaves the previous or the
  new export live; a failed write is deleted (cleanup-on-failure).

The data write is fully distributed (``df.write.text`` with gzip); only the
tiny manifests are written on the driver. Per-file counts come from one
aggregation over ``input_file_name()`` on the written files — replaces the
reference's mapPartitionsWithIndex accumulator pass (A6)."""

from __future__ import annotations

import json
import posixpath

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scylla_migrator_spark.pathio import for_path, generation
from scylla_migrator_spark.sources.s3export import MANIFEST_FILES, MANIFEST_SUMMARY


def write_s3_export(df: DataFrame, item_json_col: str, root: str) -> dict:
    """``df[item_json_col]`` must hold canonical item JSON (see
    functions/ddb_variant.py). Returns the manifest summary."""
    spark = df.sparkSession
    io = for_path(root)
    with generation(root) as export:
        data_dir = io.join(export, "data")
        out = df.select(F.concat(F.lit('{"Item":'), F.col(item_json_col), F.lit("}")).alias("value"))
        out.write.option("compression", "gzip").text(data_dir)

        written = spark.read.text(data_dir).select(F.input_file_name().alias("f"))
        counts = {
            posixpath.basename(r["f"]): r["cnt"]
            for r in written.groupBy("f").agg(F.count("*").alias("cnt")).collect()
        }
        lines = "".join(
            json.dumps({"dataFileS3Key": f"data/{name}", "itemCount": cnt}, sort_keys=True) + "\n"
            for name, cnt in sorted(counts.items())
        )
        io.write_utf8_atomically(io.join(export, MANIFEST_FILES), lines.encode("utf-8"))
        summary = {
            "itemCount": int(sum(counts.values())),
            "manifestFilesS3Key": MANIFEST_FILES,
            "outputFormat": "DYNAMODB_JSON",
        }
        payload = json.dumps(summary, sort_keys=True).encode("utf-8")
        io.write_utf8_atomically(io.join(export, MANIFEST_SUMMARY), payload)
    return summary
