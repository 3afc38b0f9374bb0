"""Scylla-shaped sink for the fixture engine.

Reproduces the write semantics of writers/Scylla.scala:160-404 against a
parquet-backed "table":

* constant TTL / WRITETIME options become trailing ``__row_ttl`` /
  ``__row_writetime`` columns (reference WriteConf TTLOption/TimestampOption,
  Scylla.scala:283-309)
* decimal trailing-zero normalization opt-in (Scylla.scala:344-355)
* null-PK rows dropped + counted (Scylla.scala:81-107)
* per-row TTL/WRITETIME (exploded) rows carry their own ``ttl``/``writetime``
  columns already — see operators/explode_timestamps.py; within one exploded
  group an *unset* cell is a null in a column that is excluded from the
  group's column list, which in the parquet fixture is represented by the
  group's ``__cols`` bitmap column (see K2 notes there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from scylla_migrator_spark.operators.filters import drop_null_pk_rows

ROW_TTL = "__row_ttl"
ROW_WRITETIME = "__row_writetime"


def strip_trailing_zeros(df: DataFrame) -> DataFrame:
    """BigDecimal.stripTrailingZeros analog for DecimalType columns
    (Scylla.scala:219-230,344-355): value-preserving, scale-minimizing.

    In columnar form the *value* is unchanged (decimal equality ignores
    scale), so the observable effect is on rendered strings; we normalize the
    rendering: cast through string with trailing-zero trim."""
    out = []
    for f in df.schema.fields:
        if isinstance(f.dataType, T.DecimalType):
            s = F.col(f.name).cast("string")
            trimmed = F.when(
                s.contains("."), F.regexp_replace(F.regexp_replace(s, "0+$", ""), "\\.$", "")
            ).otherwise(s)
            out.append(trimmed.cast(f.dataType).alias(f.name))
        else:
            out.append(F.col(f.name))
    return df.select(*out)


def write_scylla_fixture(
    df: DataFrame,
    path: str,
    primary_key: list[str],
    mode: str = "overwrite",
    ttl: int | None = None,
    writetime_us: int | None = None,
    strip_zeros: bool = False,
) -> T.StructType:
    """Write ``df`` to the fixture table at ``path``; returns the schema of
    the frame written, so that a re-read need not infer it."""
    if primary_key:
        df = drop_null_pk_rows(df, primary_key)
    if strip_zeros:
        df = strip_trailing_zeros(df)
    if ttl is not None:
        df = df.withColumn(ROW_TTL, F.lit(ttl).cast("int"))
    if writetime_us is not None:
        df = df.withColumn(ROW_WRITETIME, F.lit(writetime_us).cast("long"))
    df.write.mode(mode).parquet(path)
    return df.schema
