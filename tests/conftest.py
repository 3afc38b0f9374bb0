from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from scylla_migrator_spark.session import get_spark

    s = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    from scylla_migrator_spark.session import load_tables

    return load_tables(spark, sf_dir)


class WriteJobWatch:
    """Counts the Spark jobs a call runs after its last parquet write.

    Inside ``with watch:`` every job runs in one job group, and each
    ``DataFrameWriter.parquet`` call notes the group's jobs when it returns;
    ``after_last_write()`` is then the number of jobs that ran since the
    last write returned, e.g. a schema-inference job of a re-read."""

    def __init__(self, spark, monkeypatch):
        from pyspark.sql.readwriter import DataFrameWriter

        self.sc = spark.sparkContext
        self.group = f"write-job-watch-{id(self)}"
        self.at_write: set[int] | None = None
        write = DataFrameWriter.parquet
        watch = self

        def parquet(writer, *args, **kwargs):
            out = write(writer, *args, **kwargs)
            watch.at_write = watch._jobs()
            return out

        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)

    def _jobs(self) -> set[int]:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(self.sc.statusTracker().getJobIdsForGroup(self.group))

    def __enter__(self):
        self.sc.setJobGroup(self.group, "write job watch")
        return self

    def __exit__(self, *exc):
        self.sc._jsc.clearJobGroup()

    def after_last_write(self) -> int:
        assert self.at_write is not None, "no parquet write ran"
        return len(self._jobs() - self.at_write)


@pytest.fixture
def write_jobs(spark, monkeypatch) -> WriteJobWatch:
    return WriteJobWatch(spark, monkeypatch)


@pytest.fixture(scope="session")
def assert_as_fresh_read(spark):
    """``assert_as_fresh_read(out, path, **options)``: ``out`` (a frame a
    migration returned) has the schema and rows of a fresh parquet read of
    ``path`` with the reader ``options``."""

    def check(out, path: str, **options) -> None:
        fresh = spark.read.options(**options).parquet(path)
        assert out.schema == fresh.schema
        assert sorted(map(repr, out.collect())) == sorted(map(repr, fresh.collect()))

    return check
