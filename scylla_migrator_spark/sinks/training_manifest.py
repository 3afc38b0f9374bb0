"""Training-shard writer: deterministic shuffle-and-shard + driver manifest.

The last mile of the curation pipeline: after dedup / selection / packing,
a training run wants the corpus shuffled ONCE, split into a FIXED number of
shard files it can stream sequentially, with per-shard token counts a data
loader uses to plan epochs — and a manifest that makes the layout auditable
and resumable.

Manifest pattern mirrors the DynamoDB S3-export sink
(sinks/s3export.py, reference writers/DynamoDBS3Export.scala:32-164):
* shard data files under ``data/shard=K/`` (parquet, rows in ``pos`` order)
* ``manifest-shards.json``: one line per shard with file key, rowCount,
  tokenCount
* ``manifest-summary.json``: totals + shard count + the shuffle salt
* the layout is written into ``<root>/g-<uuid>/`` and committed as the
  root's one live generation (``pathio.generation``); a failed write is
  deleted. Readers start from ``pathio.live_paths(root)[0]``

Scale shape: the shuffle is ``sampling.shard_layout`` — a salted md5 hash
order, NO global sort (the leakage_free_split posture: one hash partition
by shard id, per-shard window for position). The data write is fully
distributed; only the n_shards-row stats collect and the tiny manifests
touch the driver.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scylla_migrator_spark.analytics.sampling import shard_layout
from scylla_migrator_spark.pathio import for_path, generation, live_paths

MANIFEST_SHARDS = "manifest-shards.json"
MANIFEST_SUMMARY = "manifest-summary.json"


def write_training_shards(
    df: DataFrame,
    root: str,
    key_col: str,
    token_count_col: str,
    n_shards: int,
    salt: str = "shuffle",
) -> dict:
    """Shuffle ``df`` deterministically into ``n_shards`` parquet shards
    under ``root`` and write the shard manifest. Returns the summary dict.

    The layout is a pure function of (key, salt, n_shards): the same rows
    in ANY input order give byte-identical shard membership and positions,
    so a training job re-provisions without re-shuffling. Each
    ``data/shard=K`` directory holds one file with rows in ``pos`` order
    (hash order: neighbors are random, the point of the shuffle)."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    io = for_path(root)
    with generation(root) as export:
        data_dir = io.join(export, "data")
        layout = shard_layout(df, key_col, n_shards, salt)
        (
            layout.repartition(n_shards, F.col("shard"))
            .sortWithinPartitions("shard", "pos")
            .write.partitionBy("shard")
            .parquet(data_dir)
        )
        # n_shards rows — the offsets-map-sized driver collect, not data
        stats = {
            int(r["shard"]): (int(r["rows"]), int(r["tokens"]))
            for r in layout.groupBy("shard")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum(token_count_col).alias("tokens"),
            )
            .collect()
        }
        entries = []
        for shard in range(n_shards):
            rows, tokens = stats.get(shard, (0, 0))
            sdir = io.join(data_dir, f"shard={shard}")
            files = sorted(
                f
                for f in (io.list_file_names(sdir) if io.exists(sdir) else [])
                if f.endswith(".parquet")
            )
            entries.append(
                {
                    "shard": shard,
                    "dataFileKeys": [f"data/shard={shard}/{f}" for f in files],
                    "rowCount": rows,
                    "tokenCount": tokens,
                }
            )
        lines = "".join(json.dumps(e, sort_keys=True) + "\n" for e in entries)
        io.write_utf8_atomically(io.join(export, MANIFEST_SHARDS), lines.encode("utf-8"))
        summary = {
            "nShards": n_shards,
            "rowCount": int(sum(r for r, _ in stats.values())),
            "tokenCount": int(sum(t for _, t in stats.values())),
            "salt": salt,
            "keyColumn": key_col,
            "manifestShardsKey": MANIFEST_SHARDS,
        }
        payload = json.dumps(summary, sort_keys=True).encode("utf-8")
        io.write_utf8_atomically(io.join(export, MANIFEST_SUMMARY), payload)
    return summary


def read_shard_manifest(root: str) -> tuple[dict, list[dict]]:
    """Load (summary, per-shard entries) back from the live layout."""
    io, export = for_path(root), live_paths(root)[0]
    summary = json.loads(io.read_utf8(io.join(export, MANIFEST_SUMMARY)))
    lines = io.read_utf8(io.join(export, MANIFEST_SHARDS)).splitlines()
    return summary, [json.loads(line) for line in lines if line.strip()]
