"""Schema utilities: case-insensitive resolution, timestamp widening,
TTL/WRITETIME companion-column conventions.

Reference parity:
* case-insensitive column resolution with exact-case preference and
  collision detection — schema/SchemaResolver.scala:14-102
* CQL timestamp widening to epoch-millis LongType —
  readers/Cassandra.scala:191-229 (schema) / :210-229 (values)
* per-column TTL/WRITETIME companions and the ``__migrator_meta_`` Parquet
  prefix — readers/Cassandra.scala:63-95, readers/TimestampColumns.scala:14-61
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

META_PREFIX = "__meta_"
TTL_SUFFIX = "_ttl"
WRITETIME_SUFFIX = "_writetime"


# --------------------------------------------------------------------------
# Case-insensitive resolution (SchemaResolver semantics)
# --------------------------------------------------------------------------


class SchemaError(ValueError):
    pass


def resolve_column(columns: list[str], name: str) -> str:
    """Resolve ``name`` against ``columns`` case-insensitively, preferring an
    exact-case match; ambiguous matches error (SchemaResolver.scala:14-44)."""
    if name in columns:
        return name
    matches = [c for c in columns if c.lower() == name.lower()]
    if not matches:
        raise SchemaError(f"column {name!r} not found in {columns}")
    if len(matches) > 1:
        raise SchemaError(f"ambiguous column {name!r}: matches {matches}")
    return matches[0]


def resolve_columns(columns: list[str], names: list[str]) -> list[str]:
    return [resolve_column(columns, n) for n in names]


def select_case_insensitive(df: DataFrame, names: list[str]) -> DataFrame:
    """Case-insensitive projection keeping requested output names
    (SchemaResolver.scala:93-102)."""
    actual = resolve_columns(df.columns, names)
    return df.select(*[F.col(a).alias(n) for a, n in zip(actual, names)])


def prefix_columns(df: DataFrame, prefix: str) -> DataFrame:
    """``src_``/``tgt_`` prefixing before a join (SchemaResolver.scala:89-91)."""
    return df.select(*[F.col(c).alias(f"{prefix}{c}") for c in df.columns])


# --------------------------------------------------------------------------
# Timestamp widening (CQL epoch-millis convention)
# --------------------------------------------------------------------------


def widen_timestamp_type(dt: T.DataType) -> T.DataType:
    """Recursively replace TimestampType with LongType (epoch millis).

    CQL timestamps span the full signed-64-bit millis range; Spark timestamps
    are micros and overflow at +/-(Long.MaxValue/1000) ms, so a lossless round
    trip stores millis in a LongType (reference Cassandra.scala:191-208)."""
    if isinstance(dt, T.TimestampType):
        return T.LongType()
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(widen_timestamp_type(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            widen_timestamp_type(dt.keyType), widen_timestamp_type(dt.valueType), dt.valueContainsNull
        )
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, widen_timestamp_type(f.dataType), f.nullable) for f in dt.fields]
        )
    return dt


def _widen_value(col: Column, dt: T.DataType) -> Column:
    if isinstance(dt, T.TimestampType):
        return F.unix_millis(col)
    if isinstance(dt, T.ArrayType):
        inner = dt.elementType
        return F.transform(col, lambda x: _widen_value(x, inner))
    if isinstance(dt, T.MapType):
        return F.map_from_arrays(
            F.transform(F.map_keys(col), lambda k: _widen_value(k, dt.keyType)),
            F.transform(F.map_values(col), lambda v: _widen_value(v, dt.valueType)),
        )
    if isinstance(dt, T.StructType):
        return F.struct(
            *[_widen_value(col.getField(f.name), f.dataType).alias(f.name) for f in dt.fields]
        )
    return col


def widen_timestamps(df: DataFrame) -> DataFrame:
    """Apply the widening recursively to every column that (transitively)
    contains a timestamp; pure column expressions, stays in codegen
    (reference value conversion Cassandra.scala:210-229). A frame with no
    timestamp anywhere is returned as it is: no projection is added."""
    fields = df.schema.fields
    widen = [widen_timestamp_type(f.dataType) != f.dataType for f in fields]
    if not any(widen):
        return df
    return df.select(
        *[
            _widen_value(F.col(f.name), f.dataType).alias(f.name) if w else F.col(f.name)
            for f, w in zip(fields, widen)
        ]
    )


# --------------------------------------------------------------------------
# TTL / WRITETIME companion columns
# --------------------------------------------------------------------------


def timestamp_companion_columns(columns: list[str], primary_key: list[str]) -> dict[str, tuple[str, str]]:
    """Map regular column -> (ttl_col, writetime_col) names following the
    reference's naming convention (Cassandra.scala:63-95). PK columns carry no
    companions."""
    pk = set(primary_key)
    regular = [
        c
        for c in columns
        if c not in pk and not c.endswith(TTL_SUFFIX) and not c.endswith(WRITETIME_SUFFIX)
    ]
    return {c: (c + TTL_SUFFIX, c + WRITETIME_SUFFIX) for c in regular}


def has_timestamp_companions(columns: list[str]) -> bool:
    """Detect the companion convention (TimestampColumns.scala:47-51)."""
    cols = set(columns)
    return any(
        c + TTL_SUFFIX in cols and c + WRITETIME_SUFFIX in cols
        for c in cols
        if not c.endswith((TTL_SUFFIX, WRITETIME_SUFFIX))
    )


def add_meta_prefix(df: DataFrame) -> DataFrame:
    """Prefix companion columns with ``__meta_`` for Parquet persistence
    (reference __migrator_meta_, TimestampColumns.scala:14-33)."""
    return df.select(
        *[
            F.col(c).alias(META_PREFIX + c) if c.endswith((TTL_SUFFIX, WRITETIME_SUFFIX)) else F.col(c)
            for c in df.columns
        ]
    )


def strip_meta_prefix(df: DataFrame) -> DataFrame:
    """Inverse of :func:`add_meta_prefix` (TimestampColumns.scala:39-45)."""
    return df.select(
        *[
            F.col(c).alias(c[len(META_PREFIX):]) if c.startswith(META_PREFIX) else F.col(c)
            for c in df.columns
        ]
    )


def drop_meta_columns(df: DataFrame) -> DataFrame:
    """Drop ``__meta_*`` for non-CQL targets (TimestampColumns.scala:56-61)."""
    return df.drop(*[c for c in df.columns if c.startswith(META_PREFIX)])
