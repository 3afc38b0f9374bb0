"""Re-exporting over a previous export: the S3-export and training-shard
sinks promote the new export with ``sinks.parquet.swap_generation``, so a
crash while the previous export is being removed leaves ``root`` a
complete export (every data file its manifests list is present and holds
the listed rows)."""

from __future__ import annotations

import os
import shutil

import pytest

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


def _crash_while_removing(monkeypatch, root: str) -> None:
    """Make removing the previous export (``root`` itself or a generation
    renamed aside from it) delete one of its data files and then die."""
    real_rmtree = shutil.rmtree

    def rmtree(path, *args, **kwargs):
        path = str(path)
        if os.path.isdir(path) and (path == root or path.startswith(root + "__")):
            data = sorted(
                os.path.join(d, f)
                for d, _, files in os.walk(os.path.join(path, "data"))
                for f in files
                if not f.startswith((".", "_"))
            )
            os.remove(data[0])
            raise OSError("crash while removing the previous export")
        return real_rmtree(path, *args, **kwargs)

    monkeypatch.setattr(shutil, "rmtree", rmtree)


def _s3_export(spark, root, n):
    items = [{"pk": {"S": f"k{i}"}, "v": {"N": str(i)}} for i in range(n)]
    df = spark.createDataFrame(
        [(DV.item_to_canonical_json(it),) for it in items], "item_json string"
    ).repartition(3)
    write_s3_export(df, "item_json", root)


def _s3_export_rows(spark, root) -> int:
    entries = read_manifest_files(root)
    for e in entries:
        assert os.path.exists(os.path.join(root, e["dataFileS3Key"])), e
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
            assert os.path.exists(os.path.join(root, key)), key
    n = spark.read.parquet(os.path.join(root, "data")).count()
    assert n == summary["rowCount"] == sum(e["rowCount"] for e in entries)
    return n


@pytest.mark.parametrize(
    "write, rows", [(_s3_export, _s3_export_rows), (_shards, _shard_rows)], ids=["s3export", "shards"]
)
def test_crash_removing_previous_export_leaves_complete_export(
    spark, tmp_path, monkeypatch, write, rows
):
    root = str(tmp_path / "export")
    write(spark, root, 40)
    assert rows(spark, root) == 40
    with monkeypatch.context() as m:
        _crash_while_removing(m, root)
        with pytest.raises(OSError, match="crash"):
            write(spark, root, 60)
    # the new export is in place and whole; the half-removed previous one
    # is out of the way and the next export sweeps it
    assert rows(spark, root) == 60
    write(spark, root, 50)
    assert rows(spark, root) == 50
    assert sorted(os.listdir(tmp_path)) == ["export"]
