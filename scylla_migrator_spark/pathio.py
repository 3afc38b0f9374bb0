"""Scheme-dispatched path IO, and the commit record of replaced tables.

Reference parity (PathIO.scala:1-212): every savepoint read/write goes
through a ``PathIO`` chosen by URI scheme — local NIO for ``file:``/bare
paths (:class:`LocalPathIO`), a Hadoop ``FileSystem`` for everything else
(:class:`HadoopPathIO`) — with atomic tmp+rename writes, a
non-atomic-replace fallback where rename isn't supported, and connector
guidance when a scheme has no implementation (PathIO.scala:195-198).
:class:`MemoryPathIO` is an in-process object-store fake (``memory://``)
for tests; :func:`register_pathio` overrides the routing per scheme.

Every table that is replaced or grown commits through :func:`commit`, the
transaction-log idea of Delta Lake (Armbrust et al., VLDB 2020) without its
dependency: data is written under new, unique names and never rewritten,
and ``<root>/_live.json``, written last, names the live entries relative to
the root. An entry is a generation directory (``g-<uuid>``: the CDC state,
the resumable migrate's target, the export sinks, the validator's repair)
or a data file below partition directories (``__bucket=3/part-….parquet``:
the rollup, SCD2 and components serving tables, and every compacted
table). :func:`sweep` deletes what the record does not name, so a crash at
any step leaves the old or the new table live on any store, and no
directory is renamed; one writer per table at a time. A record's
``dirty`` meta lists the only directories that can hold such entries:
the bucketed writers mark the whole table dirty (:func:`begin`) before
they write and commit with the directories they replaced, so a step lists
and sweeps the directories it touches, not the table.
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

    def is_dir(self, path: str) -> bool:
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

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(self._to_path(path))

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

    def is_dir(self, path: str) -> bool:
        bucket, key = self._split(path)
        with self._lock:
            if key in self._dirs.get(bucket, set()):
                return True
            return any(k.startswith(key + "/") for k in self._store(bucket))

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

    def is_dir(self, path: str) -> bool:
        _, fs, hpath = self._fs(path)
        return bool(fs.exists(hpath) and fs.getFileStatus(hpath).isDirectory())

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


def record(root: str) -> dict | None:
    """``root``'s commit record ``{"live": [...], "meta": {...}}``; None
    without one."""
    io = for_path(root)
    path = io.join(root, LIVE_RECORD)
    if not io.exists(path):
        return None
    rec = json.loads(io.read_utf8(path))
    rec.setdefault("meta", {})
    return rec


def live_names(root: str) -> list[str] | None:
    """The live entries of ``root``'s record; None without one."""
    rec = record(root)
    return None if rec is None else rec["live"]


def live_paths(root: str) -> list[str]:
    """The live entries of the table ``root``; ``[root]`` without a record."""
    names = live_names(root)
    io = for_path(root)
    return [root] if names is None else [io.join(root, n) for n in names]


def read_live(reader, root: str):
    """Read the parquet table ``root`` with the DataFrameReader ``reader``:
    the entries its record names, with ``root`` as the base path, so the
    partition directories below it stay columns (``root`` itself without a
    record)."""
    names = live_names(root)
    if names is None:
        return reader.parquet(root)
    io = for_path(root)
    return reader.option("basePath", root).parquet(*(io.join(root, n) for n in names))


DIRTY = "dirty"


def _write_record(root: str, live: list[str], meta: dict | None) -> None:
    io = for_path(root)
    io.create_directories(root)
    rec = {"live": list(live), **({"meta": meta} if meta else {})}
    io.write_utf8_atomically(io.join(root, LIVE_RECORD), json.dumps(rec).encode("utf-8"))


def commit(root: str, live: list[str], meta: dict | None = None) -> None:
    """Make the entries ``live`` (paths relative to ``root``) the table,
    with the small JSON ``meta`` in the same record: write the record, then
    :func:`sweep`. A crash before the record is replaced leaves the old
    table, one after it the new; the next commit or sweep deletes what the
    record does not name. ``meta["dirty"]``, when given, lists the
    directories (relative to ``root``, ``""`` for all of it) that can hold
    entries the record does not name: the sweeps walk only those."""
    _write_record(root, live, meta)
    sweep(root, live, (meta or {}).get(DIRTY))


def begin(root: str) -> dict:
    """Start a write of the table ``root`` and return its record: sweep
    what the last write may have left (the directories its record marks
    dirty), then mark every directory dirty, so the sweep after a crash
    walks the whole table. A table without a record gets one naming its
    data files (an absent one an empty record), so what a crashed first
    write leaves lies under a record. Writers that commit with a ``dirty``
    list call it before they write."""
    rec = record(root)
    if rec is None:
        rec = {"live": unnamed_files(root), "meta": {}}
    else:
        sweep(root, rec["live"], rec["meta"].get(DIRTY))
    rec["meta"][DIRTY] = [""]
    _write_record(root, rec["live"], rec["meta"])
    return rec


def sweep(root: str, live: list[str] | None = None, dirs: list[str] | None = None) -> None:
    """Delete every entry below the directories ``dirs`` of ``root`` (all
    of it when None) that is not on a live path of its record (``live``;
    both read from the record when ``live`` is not given), except the ``_``
    files (the record, pins, ``_SUCCESS``) and the ``.<name>.crc``
    checksums of what stays: a directory stays only if it is live or holds
    a live entry. Only the directories that hold live entries are walked,
    never a live one. A root without a record is left alone."""
    if live is None:
        rec = record(root)
        if rec is None:
            return
        live, dirs = rec["live"], rec["meta"].get(DIRTY)
    inner = {n.rsplit("/", k)[0] for n in live for k in range(1, n.count("/") + 1)}
    io, live = for_path(root), set(live)
    for d in [""] if dirs is None else dirs:
        path = io.join(root, d) if d else root
        if d and not io.exists(path):
            continue
        if d == "" or d in inner:
            _sweep(io, root, d, live, inner)
        elif d not in live:
            io.delete(path)


def _sweep(io: PathIO, root: str, rel: str, live: set[str], inner: set[str]) -> None:
    d = io.join(root, rel) if rel else root
    names = io.list_file_names(d)
    kept = set()
    for name in names:
        path = f"{rel}/{name}" if rel else name
        if path in inner:
            _sweep(io, root, path, live, inner)
        if path in live or path in inner or (
            name.startswith("_") and not io.is_dir(io.join(d, name))
        ):
            kept.add(name)
    for name in names:
        crc_of = name[1:-4] if name.startswith(".") and name.endswith(".crc") else None
        if name not in kept and crc_of not in kept:
            io.delete(io.join(d, name))


def unnamed_files(root: str, dirs: list[str] = ("",)) -> list[str]:
    """The data files below the directories ``dirs`` of ``root`` (``""``
    for all of it) that no live entry of its record names or contains,
    relative to ``root``: none of their names is hidden (``.``, or a ``_``
    file name) and none is below a ``_temporary`` staging directory. After
    a sweep these are exactly the files written since, which the next
    commit names."""
    io = for_path(root)
    live = set(live_names(root) or ())
    base = io.normalize(root).rstrip("/") + "/"
    out = set()
    for d in dirs:
        path = io.join(root, d) if d else root
        if not io.exists(path):
            continue
        for f in io.list_files(path):
            parts = f[len(base) :].split("/")
            if (
                not any("/".join(parts[:k]) in live for k in range(1, len(parts) + 1))
                and not parts[-1].startswith("_")
                and not any(p.startswith(".") or p == "_temporary" for p in parts)
            ):
                out.add("/".join(parts))
    return sorted(out)


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
