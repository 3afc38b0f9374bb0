"""DynamoDB variant model + S3-export codec tests (FIXTURES.md F5 shapes;
reference DdbValue / S3-export encoder-decoder test semantics)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from scylla_migrator_spark.functions import ddb_variant as DV
from scylla_migrator_spark.sinks.s3export import write_s3_export
from scylla_migrator_spark.sources.s3export import (
    read_manifest_files,
    read_manifest_summary,
    read_s3_export,
)

ITEMS = [
    {
        "pk": {"S": "a"},
        "sk": {"N": "1"},
        "txt": {"S": "hello"},
        "num": {"N": "1.50"},
        "flag": {"BOOL": True},
        "nothing": {"NULL": True},
        "blob": {"B": "AQID"},
        "strs": {"SS": ["b", "a"]},
        "nums": {"NS": ["10", "2", "1.50"]},
        "blobs": {"BS": ["AQID", "AQE="]},
        "lst": {"L": [{"S": "x"}, {"N": "2"}]},
        "mp": {"M": {"z": {"S": "v"}, "a": {"N": "3"}}},
    },
    {"pk": {"S": "b"}, "sk": {"N": "2"}, "other": {"S": "schemaless"}},
]


def test_number_canonicalization():
    assert DV._canon_number("1.50") == "1.5"
    assert DV._canon_number("1.5000") == "1.5"
    assert DV._canon_number("0010") == "10"
    assert DV._canon_number("-0.500") == "-0.5"
    assert DV.canonical_json({"N": "1.50"}) == DV.canonical_json({"N": "1.5"})


def test_set_order_insensitive_canonical():
    a = {"SS": ["x", "y"]}
    b = {"SS": ["y", "x"]}
    assert DV.canonical_json(a) == DV.canonical_json(b)
    # NS sorted numerically, not lexically
    assert DV.canonicalize_value({"NS": ["10", "2"]})["NS"] == ["2", "10"]


def test_nested_map_keys_sorted():
    c = DV.canonical_json({"M": {"b": {"S": "1"}, "a": {"S": "2"}}})
    assert c.index('"a"') < c.index('"b"')


def test_s3_export_roundtrip(spark, tmp_path):
    src = spark.createDataFrame(
        [(DV.item_to_canonical_json(it),) for it in ITEMS], "item_json string"
    )
    root = str(tmp_path / "export")
    summary = write_s3_export(src, "item_json", root)
    assert summary["itemCount"] == 2
    assert read_manifest_summary(root)["itemCount"] == 2
    assert sum(e["itemCount"] for e in read_manifest_files(root)) == 2

    back = read_s3_export(spark, root)
    assert back.count() == 2
    row = back.filter(F.col("item").getItem("pk").getField("S") == "a").head()
    item = row["item"]
    assert item["txt"]["S"] == "hello"
    assert item["num"]["N"] == "1.5"  # canonical
    assert item["strs"]["SS"] == ["a", "b"]
    assert item["nums"]["NS"] == ["1.5", "2", "10"]  # numeric order
    assert json.loads(item["mp"]["M"])["a"]["N"] == "3"  # nested JSON payload


def test_items_deep_equal_column(spark):
    a = DV.item_to_canonical_json({"pk": {"S": "k"}, "s": {"SS": ["x", "y"]}, "n": {"N": "1.5"}})
    b = DV.item_to_canonical_json({"s": {"SS": ["y", "x"]}, "pk": {"S": "k"}, "n": {"N": "1.50"}})
    c = DV.item_to_canonical_json({"pk": {"S": "k"}, "s": {"SS": ["x", "z"]}, "n": {"N": "1.5"}})
    df = spark.createDataFrame([(a, b, c)], "a string, b string, c string")
    out = df.select(
        DV.items_deep_equal(DV.parse_item("a"), DV.parse_item("b")).alias("ab"),
        DV.items_deep_equal(DV.parse_item("a"), DV.parse_item("c")).alias("ac"),
    ).head()
    assert out["ab"] is True and out["ac"] is False


def test_resume_skip_files(spark, tmp_path):
    src = spark.createDataFrame(
        [(DV.item_to_canonical_json(it),) for it in ITEMS], "item_json string"
    ).repartition(2)
    root = str(tmp_path / "export2")
    write_s3_export(src, "item_json", root)
    files = [e["dataFileS3Key"] for e in read_manifest_files(root)]
    if len(files) > 1:
        partial = read_s3_export(spark, root, skip_files=files[:1])
        assert partial.count() < 2
    with pytest.raises(FileNotFoundError):
        read_s3_export(spark, root, skip_files=files)


def test_s3_export_reader_follows_manifest_files_key(spark, tmp_path):
    """The files manifest is the one the summary's ``manifestFilesS3Key``
    names (readers/DynamoDBS3Export.scala:69-134), not a fixed name."""
    from scylla_migrator_spark.pathio import live_paths

    src = spark.createDataFrame(
        [(DV.item_to_canonical_json(it),) for it in ITEMS], "item_json string"
    )
    root = str(tmp_path / "export")
    write_s3_export(src, "item_json", root)
    export = live_paths(root)[0]
    os.rename(
        os.path.join(export, "manifest-files.json"),
        os.path.join(export, "manifest-files-renamed.json"),
    )
    summary_path = os.path.join(export, "manifest-summary.json")
    with open(summary_path) as f:
        summary = json.load(f)
    summary["manifestFilesS3Key"] = "manifest-files-renamed.json"
    with open(summary_path, "w") as f:
        json.dump(summary, f)
    assert sum(e["itemCount"] for e in read_manifest_files(root)) == 2
    assert read_s3_export(spark, root).count() == 2
