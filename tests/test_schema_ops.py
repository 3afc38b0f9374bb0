"""Schema utility tests: widening, case-insensitive resolution, meta
prefixes, map-key renames, decimal trailing-zero strip."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from scylla_migrator_spark import schema as S
from scylla_migrator_spark.config import Rename
from scylla_migrator_spark.operators.renames import rename_map_keys
from scylla_migrator_spark.sinks.scylla_fixture import strip_trailing_zeros


def test_widen_timestamps_recursive(spark):
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 2, 3, 4, 5), [dt.datetime(2020, 1, 1)], {"k": dt.datetime(2021, 6, 1)})],
        "id bigint, ts timestamp, arr array<timestamp>, mp map<string,timestamp>",
    )
    out = S.widen_timestamps(df)
    assert dict(out.dtypes)["ts"] == "bigint"
    assert dict(out.dtypes)["arr"] == "array<bigint>"
    assert dict(out.dtypes)["mp"] == "map<string,bigint>"
    row = out.head()
    assert row["ts"] == int(dt.datetime(2024, 1, 2, 3, 4, 5, tzinfo=dt.timezone.utc).timestamp() * 1000)
    assert row["arr"][0] == int(dt.datetime(2020, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1000)
    assert row["mp"]["k"] == int(dt.datetime(2021, 6, 1, tzinfo=dt.timezone.utc).timestamp() * 1000)


def test_widen_timestamps_returns_input_when_nothing_widens(spark):
    plain = spark.createDataFrame([(1, "a", [2])], "id bigint, v string, arr array<int>")
    assert S.widen_timestamps(plain) is plain
    stamped = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 2)), (2, None)], "id bigint, ts timestamp"
    )
    out = S.widen_timestamps(stamped)
    assert out is not stamped
    assert out.dtypes == [("id", "bigint"), ("ts", "bigint")]
    assert [r["ts"] for r in out.orderBy("id").collect()] == [
        int(dt.datetime(2024, 1, 2, tzinfo=dt.timezone.utc).timestamp() * 1000),
        None,
    ]


def test_case_insensitive_resolution():
    cols = ["Foo", "BAR", "baz"]
    assert S.resolve_column(cols, "foo") == "Foo"
    assert S.resolve_column(cols, "BAR") == "BAR"
    with pytest.raises(S.SchemaError):
        S.resolve_column(cols, "nope")


def test_ambiguous_without_exact_match():
    with pytest.raises(S.SchemaError):
        S.resolve_column(["aB", "Ab"], "ab")
    assert S.resolve_column(["aB", "Ab", "ab"], "ab") == "ab"  # exact wins


def test_select_case_insensitive(spark):
    df = spark.createDataFrame([(1, "x")], "Foo bigint, Bar string")
    out = S.select_case_insensitive(df, ["foo", "bar"])
    assert out.columns == ["foo", "bar"]


def test_meta_prefix_roundtrip(spark):
    df = spark.createDataFrame([(1, "v", 10, 1000)], "pk bigint, a string, a_ttl int, a_writetime long")
    assert S.has_timestamp_companions(df.columns)
    pref = S.add_meta_prefix(df)
    assert "__meta_a_ttl" in pref.columns and "a" in pref.columns
    back = S.strip_meta_prefix(pref)
    assert back.columns == df.columns
    assert S.drop_meta_columns(pref).columns == ["pk", "a"]


def test_rename_map_keys(spark):
    df = spark.createDataFrame([(1, {"foo": "1", "keep": "2"})], "id bigint, item map<string,string>")
    out = rename_map_keys(df, "item", [Rename("foo", "bar")]).head()
    assert out["item"] == {"bar": "1", "keep": "2"}


def test_strip_trailing_zeros(spark):
    df = spark.createDataFrame(
        [(Decimal("1.5000"), "a"), (Decimal("100.0000"), "b"), (None, "c")],
        "d decimal(20,4), s string",
    )
    out = strip_trailing_zeros(df)
    vals = {r["s"]: r["d"] for r in out.collect()}
    assert vals["a"] == Decimal("1.5") and vals["b"] == Decimal("100") and vals["c"] is None
