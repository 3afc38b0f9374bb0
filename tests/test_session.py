"""Session factory settings that change what the driver pays per call."""

from __future__ import annotations

import pytest
from pyspark.errors import PySparkException
from pyspark.sql import functions as F


def test_column_calls_skip_call_site_capture(spark, monkeypatch):
    """With DataFrame call-site capture off, building a column expression
    costs only its own py4j round trips (35 with capture on)."""
    from py4j.clientserver import ClientServerConnection

    F.col("warm").cast("int").alias("up")
    calls = []
    send = ClientServerConnection.send_command

    def counted(conn, *args, **kwargs):
        calls.append(1)
        return send(conn, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    F.col("a").cast("int").alias("b")
    monkeypatch.undo()
    assert len(calls) <= 5, len(calls)


def test_runtime_errors_keep_error_class_and_sql_context(spark):
    with pytest.raises(PySparkException) as df_error:
        spark.range(1).select(F.lit("x").cast("int")).collect()
    assert df_error.value.getCondition() == "CAST_INVALID_INPUT"
    with pytest.raises(PySparkException) as sql_error:
        spark.sql("SELECT CAST('x' AS INT) AS v").collect()
    assert sql_error.value.getCondition() == "CAST_INVALID_INPUT"
    assert "CAST('x' AS INT)" in str(sql_error.value)
