from __future__ import annotations

import os
from contextlib import contextmanager

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Tests read their own stages' metrics back from the status store, which
# the whole session shares; past spark.ui.retainedStages (1000 by
# default) it evicts old stages, skipped ones among the first, so the
# test session keeps far more than one session run creates.
os.environ["PYSPARK_SUBMIT_ARGS"] = (
    "--conf spark.ui.retainedStages=50000 --conf spark.ui.retainedJobs=50000 "
    + os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
)


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
    the live directories of ``path`` with the reader ``options``."""

    def check(out, path: str, **options) -> None:
        from scylla_migrator_spark.pathio import live_paths

        fresh = spark.read.options(**options).parquet(*live_paths(path))
        assert out.schema == fresh.schema
        assert sorted(map(repr, out.collect())) == sorted(map(repr, fresh.collect()))

    return check


@pytest.fixture
def commit_mode() -> str:
    """How the table tests give their paths: ``bare`` local paths here;
    ``test_commit.py`` re-runs them with ``hadoop`` (``file://`` URIs, the
    ``file`` scheme routed through HadoopPathIO) and ``norename``
    (``os.replace``/``os.rename`` raise for any directory argument)."""
    return "bare"


@pytest.fixture
def table_path(spark, tmp_path, monkeypatch, commit_mode):
    """``table_path(local_path)``: the path string a table test hands the
    program in this ``commit_mode``; the test still reads ``local_path``
    with ``os`` to look at what was written."""
    from scylla_migrator_spark import pathio

    if commit_mode == "hadoop":
        pathio.register_pathio("file", pathio.HadoopPathIO(spark))
        yield lambda p: f"file://{p}"
        pathio.register_pathio("file", None)
        return
    if commit_mode == "norename":
        for name in ("replace", "rename"):
            real = getattr(os, name)

            def refuse(src, dst, *args, _real=real, **kwargs):
                if os.path.isdir(src) or os.path.isdir(dst):
                    raise OSError(f"directory rename refused: {src} -> {dst}")
                return _real(src, dst, *args, **kwargs)

            monkeypatch.setattr(os, name, refuse)
    yield str


@pytest.fixture
def data_files():
    """``data_files(root)``: every data file below the local directory
    ``root`` (no hidden name), relative to it — after a sweep, exactly what
    the table's record names."""

    def files(root) -> set[str]:
        return {
            os.path.relpath(os.path.join(d, f), root)
            for d, _dirs, names in os.walk(root)
            for f in names
            if not f.startswith(("_", "."))
        }

    return files


@pytest.fixture
def crash_commit():
    """``with crash_commit(root, point): <write>`` asserts that the write
    dies in its commit of the table at ``root`` at ``point`` (one of
    ``crash_commit.points``): after its data write, before the record;
    while ``pathio.commit`` writes the record (a half-written staging file
    is left, the record is unchanged; a record write before the data, such
    as ``pathio.begin``'s, goes through); or while sweeping a superseded
    generation (one of its files removed)."""
    from scylla_migrator_spark import pathio

    @contextmanager
    def crash(root: str, point: str):
        io = pathio.for_path(root)

        def die(*_args, **_kwargs):
            raise OSError(f"injected crash {point}")

        write, delete = io.write_utf8_atomically, io.delete

        def torn_record(path, payload):
            if not path.endswith(pathio.LIVE_RECORD):
                return write(path, payload)
            write(path + ".tmp", payload[: len(payload) // 2])
            die()

        def half_delete(path):
            delete(io.list_files(path)[0])
            die()

        with pytest.MonkeyPatch.context() as m:
            if point == "after_write":
                m.setattr(pathio, "commit", die)
            elif point == "record_write":
                commit = pathio.commit

                def torn_commit(*args, **kwargs):
                    m.setattr(io, "write_utf8_atomically", torn_record)
                    commit(*args, **kwargs)

                m.setattr(pathio, "commit", torn_commit)
            else:
                m.setattr(io, "delete", half_delete)
            with pytest.raises(OSError, match=f"injected crash {point}"):
                yield

    crash.points = ("after_write", "record_write", "sweep")
    return crash
