"""Scheme-dispatched path IO, and the commit record of replaced tables.

Reference parity (PathIO.scala:1-212): every savepoint read/write goes
through a ``PathIO`` chosen by URI scheme — local NIO for ``file:``/bare
paths (:class:`LocalPathIO`), a Hadoop ``FileSystem`` for everything else
(:class:`HadoopPathIO`) — with atomic tmp+rename writes, a
non-atomic-replace fallback where rename isn't supported, and connector
guidance when a scheme has no implementation (PathIO.scala:195-198).
:class:`MemoryPathIO` is an in-process object-store fake (``memory://``)
for tests; :func:`register_pathio` overrides the routing per scheme.

Tables that are replaced or grown (CDC state, the resumable migrate's
target, the export sinks, compacted tables) commit through :func:`commit`,
the transaction-log idea of Delta Lake (Armbrust et al., VLDB 2020) without
its dependency: immutable generation directories, and ``<root>/_live.json``,
written last, naming the live ones relative to the root. No data directory
is renamed, so a crash at any step leaves the old or the new generation
live on any store; one writer per table at a time.
"""

from __future__ import annotations

import json
import os
import posixpath
import re
import shutil
import threading
import uuid
from contextlib import contextmanager

_SCHEME_RE = re.compile(r"^([A-Za-z][A-Za-z0-9+.\-]*)://")


def scheme_of(path: str) -> str | None:
    m = _SCHEME_RE.match(path)
    if m:
        return m.group(1).lower()
    if path[:5].lower() == "file:":
        return "file"
    return None


class PathIO:
    """Interface: the reference's PathIO.scala:22-29 surface."""

    def normalize(self, path: str) -> str:
        raise NotImplementedError

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def create_directories(self, path: str) -> None:
        raise NotImplementedError

    def list_file_names(self, path: str) -> list[str]:
        raise NotImplementedError

    def list_files(self, path: str) -> list[str]:
        """Full paths of every file under directory ``path``; ``[path]`` for a file."""
        raise NotImplementedError

    def delete(self, path: str) -> None:
        """Remove ``path`` and everything under it; absent is a no-op."""
        raise NotImplementedError

    def read_utf8(self, path: str) -> str:
        raise NotImplementedError

    def write_utf8_atomically(self, path: str, payload: bytes) -> None:
        raise NotImplementedError

    def join(self, path: str, name: str) -> str:
        return posixpath.join(path, name)


class LocalPathIO(PathIO):
    """``file:`` / bare paths — NIO semantics (PathIO.scala:52-118)."""

    def _to_path(self, path: str) -> str:
        if scheme_of(path) == "file":
            path = path.split(":", 1)[1]
            # file://host/p -> /p (empty-host form); file:/p -> /p
            if path.startswith("//"):
                path = path[2:]
                path = path[path.index("/") :] if "/" in path else "/"
        return os.path.normpath(path)

    def normalize(self, path: str) -> str:
        return self._to_path(path)

    def exists(self, path: str) -> bool:
        return os.path.exists(self._to_path(path))

    def create_directories(self, path: str) -> None:
        os.makedirs(self._to_path(path), exist_ok=True)

    def list_file_names(self, path: str) -> list[str]:
        return os.listdir(self._to_path(path))

    def list_files(self, path: str) -> list[str]:
        p = self._to_path(path)
        if os.path.isfile(p):
            return [path]
        return [os.path.join(d, f) for d, _, files in os.walk(p) for f in files]

    def delete(self, path: str) -> None:
        p = self._to_path(path)
        if os.path.isdir(p):
            shutil.rmtree(p)
        elif os.path.lexists(p):
            os.remove(p)

    def read_utf8(self, path: str) -> str:
        with open(self._to_path(path), encoding="utf-8") as f:
            return f.read()

    def write_utf8_atomically(self, path: str, payload: bytes) -> None:
        final = self._to_path(path)
        tmp = final + ".tmp"
        try:
            with open(tmp, "wb") as f:
                f.write(payload)
            os.replace(tmp, final)  # atomic on POSIX
        except BaseException:
            if os.path.exists(tmp):
                os.unlink(tmp)
            raise

    def join(self, path: str, name: str) -> str:
        return os.path.join(self._to_path(path), name)


class MemoryPathIO(PathIO):
    """In-process object-store fake for ``memory://bucket/...`` paths: a
    flat key space per bucket (like S3) where "directories" are key
    prefixes, plus explicit markers so an empty directory exists. Writes
    stage to a ``.tmp`` key then rename under the store lock;
    ``fail_next_write`` injects a crash between the two (no truncated file
    may become visible: the PathIO.scala:80-83 guarantee)."""

    _stores: dict[str, dict[str, bytes]] = {}
    _dirs: dict[str, set[str]] = {}
    _lock = threading.RLock()
    fail_next_write = False

    @classmethod
    def reset(cls, bucket: str | None = None) -> None:
        with cls._lock:
            if bucket is None:
                cls._stores.clear()
                cls._dirs.clear()
            else:
                cls._stores.pop(bucket, None)
                cls._dirs.pop(bucket, None)

    def _split(self, path: str) -> tuple[str, str]:
        rest = path[len("memory://") :]
        bucket, _, key = rest.partition("/")
        return bucket, key.rstrip("/")

    def _store(self, bucket: str) -> dict[str, bytes]:
        return self._stores.setdefault(bucket, {})

    def normalize(self, path: str) -> str:
        bucket, key = self._split(path)
        return f"memory://{bucket}/{posixpath.normpath(key)}" if key else f"memory://{bucket}"

    def exists(self, path: str) -> bool:
        bucket, key = self._split(path)
        with self._lock:
            store = self._store(bucket)
            if key in store or key in self._dirs.get(bucket, set()):
                return True
            return any(k.startswith(key + "/") for k in store) if key else bool(store)

    def create_directories(self, path: str) -> None:
        bucket, key = self._split(path)
        with self._lock:
            self._dirs.setdefault(bucket, set()).add(key)

    def list_file_names(self, path: str) -> list[str]:
        """Direct children: files and (implicit or marked) directories."""
        bucket, key = self._split(path)
        prefix = key + "/" if key else ""
        with self._lock:
            keys = [*self._store(bucket), *self._dirs.get(bucket, ())]
            names = {k[len(prefix) :].split("/")[0] for k in keys if k.startswith(prefix)}
            return sorted(names - {""})

    def list_files(self, path: str) -> list[str]:
        bucket, key = self._split(path)
        with self._lock:
            keys = [k for k in self._store(bucket) if k == key or k.startswith(key + "/")]
        return [path] if keys == [key] else [f"memory://{bucket}/{k}" for k in keys]

    def delete(self, path: str) -> None:
        bucket, key = self._split(path)
        with self._lock:
            store, dirs = self._store(bucket), self._dirs.get(bucket, set())
            for k in [*store, *dirs]:
                if k == key or k.startswith(key + "/"):
                    store.pop(k, None)
                    dirs.discard(k)

    def read_utf8(self, path: str) -> str:
        bucket, key = self._split(path)
        with self._lock:
            return self._store(bucket)[key].decode("utf-8")

    def write_utf8_atomically(self, path: str, payload: bytes) -> None:
        bucket, key = self._split(path)
        tmp = key + ".tmp"
        with self._lock:
            store = self._store(bucket)
            store[tmp] = payload  # staged upload
            if MemoryPathIO.fail_next_write:
                MemoryPathIO.fail_next_write = False
                del store[tmp]  # crash before rename: stage cleaned, target untouched
                raise IOError(f"injected write failure for {path}")
            store[key] = store.pop(tmp)  # atomic rename under the store lock


class HadoopPathIO(PathIO):
    """Driver-side IO through the JVM Hadoop ``FileSystem``
    (PathIO.scala:195-198): any scheme with a connector on the Spark
    classpath resolves through ``Path.getFileSystem(hadoopConf)``, with the
    data writes' credentials. Needs an active SparkSession; tested against
    Hadoop's LocalFileSystem via ``file:`` paths. Atomic write: staged
    ``.tmp`` upload then ``FileSystem.rename``; where rename refuses an
    existing destination, the destination is deleted first (the
    reference's non-atomic-replace fallback, PathIO.scala:80-83)."""

    def __init__(self, spark=None) -> None:
        self._spark = spark

    def _fs(self, path: str):
        spark = self._spark
        if spark is None:
            from pyspark.sql import SparkSession

            # getActiveSession is THREAD-LOCAL: capture the session the
            # first time a thread with one calls in, so background threads
            # (PeriodicDumper's savepoint dumps) keep working
            spark = self._spark = SparkSession.getActiveSession()
        if spark is None:
            raise ValueError(
                f"Hadoop FileSystem IO for {path} needs an active SparkSession"
            )
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        try:
            fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        except Exception as exc:  # noqa: BLE001 - wrap the Java scheme error
            raise ValueError(f"No Hadoop FileSystem for {path}: {_guidance(path)}") from exc
        return jvm, fs, hpath

    def normalize(self, path: str) -> str:
        jvm, fs, hpath = self._fs(path)
        return fs.makeQualified(hpath).toString()

    def exists(self, path: str) -> bool:
        _, fs, hpath = self._fs(path)
        return bool(fs.exists(hpath))

    def create_directories(self, path: str) -> None:
        _, fs, hpath = self._fs(path)
        fs.mkdirs(hpath)

    def list_file_names(self, path: str) -> list[str]:
        _, fs, hpath = self._fs(path)
        return [st.getPath().getName() for st in fs.listStatus(hpath)]

    def list_files(self, path: str) -> list[str]:
        _, fs, hpath = self._fs(path)
        if fs.getFileStatus(hpath).isFile():
            return [path]
        it, out = fs.listFiles(hpath, True), []
        while it.hasNext():
            out.append(it.next().getPath().toString())
        return out

    def delete(self, path: str) -> None:
        _, fs, hpath = self._fs(path)
        fs.delete(hpath, True)

    def read_utf8(self, path: str) -> str:
        jvm, fs, hpath = self._fs(path)
        stream = fs.open(hpath)
        try:
            out = jvm.java.io.ByteArrayOutputStream()
            jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, out, 4096, False)
            return bytes(out.toByteArray()).decode("utf-8")
        finally:
            stream.close()

    def write_utf8_atomically(self, path: str, payload: bytes) -> None:
        jvm, fs, hpath = self._fs(path)
        tmp = jvm.org.apache.hadoop.fs.Path(path + ".tmp")
        try:
            stream = fs.create(tmp, True)
            try:
                stream.write(payload)
            finally:
                stream.close()
            if not fs.rename(tmp, hpath):
                # some Hadoop filesystems refuse rename onto an existing
                # target: replace non-atomically (PathIO.scala:80-83)
                if fs.exists(hpath):
                    fs.delete(hpath, False)
                if not fs.rename(tmp, hpath):
                    raise IOError(f"rename {path}.tmp -> {path} failed")
        except BaseException:
            try:
                fs.delete(tmp, False)
            except Exception:  # noqa: BLE001 - best-effort stage cleanup
                pass
            raise


_local = LocalPathIO()
_memory = MemoryPathIO()

# explicit scheme routing overrides (Hadoop's fs.<scheme>.impl knob), e.g.
# 'file' through HadoopPathIO to run against Hadoop's LocalFileSystem
_OVERRIDES: dict[str, PathIO] = {}


def register_pathio(scheme: str, io: "PathIO | None") -> None:
    """Route ``scheme`` through ``io`` (None removes the override)."""
    if io is None:
        _OVERRIDES.pop(scheme.lower(), None)
    else:
        _OVERRIDES[scheme.lower()] = io


_S3_GUIDANCE = (
    "For s3a:// paths, include the Hadoop AWS/S3A connector in the Spark "
    "runtime and configure its credentials via Spark/Hadoop configuration."
)
_CONNECTOR_GUIDANCE = {
    "gs": "For gs:// paths, include the Hadoop GCS connector in the Spark "
    "runtime and configure its credentials via Spark/Hadoop configuration.",
    **dict.fromkeys(("s3", "s3a", "s3n"), _S3_GUIDANCE),
}


def _guidance(path: str) -> str:
    s = scheme_of(path) or ""
    return _CONNECTOR_GUIDANCE.get(
        s,
        f"Include a Hadoop filesystem connector for '{s}' paths in the "
        "Spark runtime and configure it via Spark/Hadoop configuration.",
    )


def for_path(path: str) -> PathIO:
    """Scheme dispatch (PathIO.scala:35-49): registered override first,
    then ``file:``/bare -> local NIO, ``memory://`` -> the in-process fake,
    any other scheme -> the JVM Hadoop ``FileSystem``; a scheme with no
    resolvable connector (or no active SparkSession) raises the
    reference's connector guidance at dispatch time, not first use."""
    s = scheme_of(path)
    if (s or "file") in _OVERRIDES:
        return _OVERRIDES[s or "file"]
    if s is None or s == "file":
        return _local
    if s == "memory":
        return _memory
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        # return an instance BOUND to the resolved session, not the global:
        # getActiveSession is thread-local, and savepoint IO must keep
        # working from background threads (PeriodicDumper)
        io = HadoopPathIO(active)
        io._fs(path)  # probe: raises ValueError with guidance if absent
        return io
    raise ValueError(
        f"Path {path} uses filesystem scheme '{s}', but no implementation is "
        f"configured (and no active SparkSession provides a Hadoop "
        f"FileSystem). {_guidance(path)}"
    )


LIVE_RECORD = "_live.json"


def live_names(root: str) -> list[str] | None:
    """The live generation names of ``root``'s record; None without one."""
    io = for_path(root)
    record = io.join(root, LIVE_RECORD)
    if not io.exists(record):
        return None
    return json.loads(io.read_utf8(record))["live"]


def live_paths(root: str) -> list[str]:
    """The live directories of the table ``root``; ``[root]`` without a record."""
    names = live_names(root)
    io = for_path(root)
    return [root] if names is None else [io.join(root, n) for n in names]


def commit(root: str, live: list[str]) -> None:
    """Make the generations ``live`` (names relative to ``root``) the table:
    write the record, then sweep every other entry not starting with ``_``.
    A crash before the record is replaced leaves the old table, one after it
    the new; the next commit sweeps what the record does not name."""
    io = for_path(root)
    io.create_directories(root)
    payload = json.dumps({"live": list(live)}).encode("utf-8")
    io.write_utf8_atomically(io.join(root, LIVE_RECORD), payload)
    for name in io.list_file_names(root):
        if name not in live and not name.startswith("_"):
            io.delete(io.join(root, name))


@contextmanager
def generation(root: str, name: str | None = None, keep: list[str] = ()):
    """Yield a new generation directory ``root/name`` (``g-<uuid>`` default)
    to write, then commit ``[*keep, name]``; a failed write is deleted (and
    a root it leaves empty)."""
    io = for_path(root)
    name = name or f"g-{uuid.uuid4().hex}"
    path = io.join(root, name)
    try:
        yield path
    except BaseException:
        io.delete(path)
        if io.exists(root) and not io.list_file_names(root):
            io.delete(root)
        raise
    commit(root, [*keep, name])
