"""Re-exporting over a previous export: the S3-export and training-shard
sinks write each export into a new generation directory under ``root`` and
commit it with ``pathio.commit``, so a crash at any step of the commit
leaves ``root`` a complete export (every data file its manifests list is
present and holds the listed rows): the previous one, or the new one when
only the sweep of the previous one was cut."""

from __future__ import annotations

import os

import pytest

from scylla_migrator_spark import pathio
from scylla_migrator_spark.functions import ddb_variant as DV
from scylla_migrator_spark.sinks.s3export import write_s3_export
from scylla_migrator_spark.sinks.training_manifest import (
    read_shard_manifest,
    write_training_shards,
)
from scylla_migrator_spark.sources.s3export import (
    read_manifest_files,
    read_manifest_summary,
    read_s3_export,
)


def _exists(root: str, key: str) -> bool:
    io = pathio.for_path(root)
    return io.exists(io.join(pathio.live_paths(root)[0], key))


def _s3_export(spark, root, n):
    items = [{"pk": {"S": f"k{i}"}, "v": {"N": str(i)}} for i in range(n)]
    df = spark.createDataFrame(
        [(DV.item_to_canonical_json(it),) for it in items], "item_json string"
    ).repartition(3)
    write_s3_export(df, "item_json", root)


def _s3_export_rows(spark, root) -> int:
    entries = read_manifest_files(root)
    for e in entries:
        assert _exists(root, e["dataFileS3Key"]), e
    n = read_s3_export(spark, root).count()
    assert n == read_manifest_summary(root)["itemCount"]
    assert n == sum(e["itemCount"] for e in entries)
    return n


def _shards(spark, root, n):
    df = spark.createDataFrame([(i, i % 7 + 1) for i in range(n)], "doc_id long, n_toks long")
    write_training_shards(df, root, key_col="doc_id", token_count_col="n_toks", n_shards=4)


def _shard_rows(spark, root) -> int:
    summary, entries = read_shard_manifest(root)
    for e in entries:
        for key in e["dataFileKeys"]:
            assert _exists(root, key), key
    n = spark.read.parquet(pathio.for_path(root).join(pathio.live_paths(root)[0], "data")).count()
    assert n == summary["rowCount"] == sum(e["rowCount"] for e in entries)
    return n


@pytest.mark.parametrize(
    "write, rows", [(_s3_export, _s3_export_rows), (_shards, _shard_rows)], ids=["s3export", "shards"]
)
def test_crash_removing_previous_export_leaves_complete_export(
    spark, tmp_path, table_path, crash_commit, write, rows
):
    root = table_path(tmp_path / "export")
    write(spark, root, 40)
    live_rows = rows(spark, root)
    assert live_rows == 40
    for point in crash_commit.points:
        with crash_commit(root, point):
            write(spark, root, 60)
        # the previous export, or the new one when only the sweep was cut
        live_rows = 60 if point == "sweep" else live_rows
        assert rows(spark, root) == live_rows, point
    # the next export sweeps everything the crashed ones left behind
    write(spark, root, 50)
    assert rows(spark, root) == 50
    assert len([e for e in os.listdir(tmp_path / "export") if not e.startswith(("_", "."))]) == 1
    assert sorted(os.listdir(tmp_path)) == ["export"]
