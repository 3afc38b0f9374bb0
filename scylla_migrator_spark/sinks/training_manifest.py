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
* write to a ``.inprogress`` temp dir, promote atomically on success,
  cleanup on failure

Scale shape: the shuffle is ``sampling.shard_layout`` — a salted md5 hash
order, NO global sort (the leakage_free_split posture: one hash partition
by shard id, per-shard window for position). The data write is fully
distributed; only the n_shards-row stats collect and the tiny manifests
touch the driver.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scylla_migrator_spark.analytics.sampling import shard_layout
from scylla_migrator_spark.sinks.parquet import swap_generation

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

    The layout is a pure function of (key, salt, n_shards): re-running on
    the same rows — in ANY input order — produces byte-identical shard
    membership and intra-shard positions, so a training job can be
    re-provisioned without re-shuffling and two sites shard identically.
    Each ``data/shard=K`` directory holds one file with rows in ``pos``
    order (hash order, not a semantic sort — neighbors are random, which
    is the point of the shuffle)."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    tmp = root + ".inprogress"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    data_dir = os.path.join(tmp, "data")
    try:
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
            sdir = os.path.join(data_dir, f"shard={shard}")
            files = sorted(
                f
                for f in (os.listdir(sdir) if os.path.isdir(sdir) else [])
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
        with open(os.path.join(tmp, MANIFEST_SHARDS), "w") as f:
            for e in entries:
                f.write(json.dumps(e, sort_keys=True) + "\n")
        summary = {
            "nShards": n_shards,
            "rowCount": int(sum(r for r, _ in stats.values())),
            "tokenCount": int(sum(t for _, t in stats.values())),
            "salt": salt,
            "keyColumn": key_col,
            "manifestShardsKey": MANIFEST_SHARDS,
        }
        with open(os.path.join(tmp, MANIFEST_SUMMARY), "w") as f:
            json.dump(summary, f, sort_keys=True)
    except Exception:
        shutil.rmtree(tmp, ignore_errors=True)  # cleanup on failure (K6 posture)
        raise
    swap_generation(tmp, root)
    return summary


def read_shard_manifest(root: str) -> tuple[dict, list[dict]]:
    """Load (summary, per-shard entries) back from a written layout."""
    with open(os.path.join(root, MANIFEST_SUMMARY)) as f:
        summary = json.load(f)
    with open(os.path.join(root, MANIFEST_SHARDS)) as f:
        entries = [json.loads(line) for line in f if line.strip()]
    return summary, entries
