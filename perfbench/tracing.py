"""Span tracing for the benchmark's traced runs, kept outside the program.

* ``Tracer.wrap`` replaces a public function at the attribute its caller looks
  up (a module global or a class attribute) with a wrapper that records a span.
* Every span runs under its own Spark job group (``pb-<span id>``), so each
  Spark job is charged to the innermost span that launched it.
* While tracing, every py4j call that can launch a job sets the JVM call site
  to the innermost Python frame of the program (``count at .../validate.py:211``).
  ``JobRecord.module`` and ``Attribution.function`` turn that into a module and,
  through ``ast``, an enclosing function and statement.
* ``ModuleCalls`` records, through ``sys.setprofile``, which of the package's
  modules ran while a block (a lazy query's construction) ran, so jobs that a
  lazy plan runs later, from a call site outside the package, can still be
  charged to the modules that built the plan.
* ``read_jobs`` reads Spark's status store, which works with the UI disabled.

When ``enabled`` is false the wrappers call straight through, so one process
can measure an untraced window and a traced window and report the difference.
"""

from __future__ import annotations

import ast
import contextlib
import functools
import os
import sys
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# the package's compute engine: a module under one of these is an engine module
ENGINE_PACKAGES = ("analytics", "streaming", "operators", "functions")
# py4j member names whose call can submit a Spark job
ACTION_MEMBERS = frozenset(
    """count collectToPython collectAsArrowToPython toPythonIterator tailToPython
    showString localCheckpoint checkpoint isEmpty save parquet csv json orc text
    saveAsTable insertInto collectAndServe runJob getRowsToPython toArrowBatchRdd
    executeCollect awaitTermination processAllAvailable""".split()
)


@dataclass
class Span:
    sid: int
    name: str
    parent: int
    start: float = 0.0
    end: float = 0.0
    meta: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class JobRecord:
    job_id: int
    name: str
    group: str | None
    submit: float
    complete: float
    num_tasks: int
    cpu_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    output_records: int = 0

    @property
    def dur(self) -> float:
        return self.complete - self.submit

    @property
    def site(self) -> tuple[str, int] | None:
        """(file, line) of the job's call site, when it is a Python file."""
        _, sep, loc = self.name.partition(" at ")
        path, _, line = loc.rpartition(":")
        if not sep or not path.endswith(".py") or not line.isdigit():
            return None
        return path, int(line)

    def module(self, package_dir: str) -> str | None:
        """Dotted module of the call site inside the package, e.g.
        ``plans.validate``; None for call sites outside it."""
        site = self.site
        return None if site is None else module_of(site[0], package_dir)


def module_of(path: str, package_dir: str) -> str | None:
    """Dotted name of the package module in file ``path``, e.g.
    ``plans.validate``; None for files outside the package."""
    if not (path.startswith(package_dir + os.sep) and path.endswith(".py")):
        return None
    rel = os.path.relpath(path, package_dir)
    return rel[: -len(".py")].replace(os.sep, ".")


def is_engine(module: str | None) -> bool:
    return module is not None and module.split(".")[0] in ENGINE_PACKAGES


class ModuleCalls:
    """While active, records on the calling thread every package module that
    had a function called, and the wall time spent inside each module's
    outermost calls (time in a module called from another one counts toward
    the caller's). Modules in ``skip`` are not recorded, so calls from them
    are outermost. Uses ``sys.setprofile``; other threads are not seen."""

    def __init__(self, package_dir: str, skip: frozenset = frozenset()) -> None:
        self.package_dir = package_dir
        self.skip = skip
        self.seconds: dict[str, float] = {}
        self._module_of: dict[str, str | None] = {}
        self._outer = None  # (frame, module, start) of the call being timed

    def _hook(self, frame, event: str, _arg) -> None:
        if event == "call":
            path = frame.f_code.co_filename
            mod = self._module_of.get(path, "")
            if mod == "":
                mod = module_of(path, self.package_dir)
                self._module_of[path] = None if mod in self.skip else mod
                mod = self._module_of[path]
            if mod is not None:
                self.seconds.setdefault(mod, 0.0)
                if self._outer is None:
                    self._outer = (frame, mod, time.perf_counter())
        elif event == "return" and self._outer is not None and frame is self._outer[0]:
            self._stop()

    def _stop(self) -> None:
        _, mod, t0 = self._outer
        self.seconds[mod] += time.perf_counter() - t0
        self._outer = None

    def __enter__(self) -> ModuleCalls:
        self._prev = sys.getprofile()
        sys.setprofile(self._hook)
        return self

    def __exit__(self, *exc) -> None:
        sys.setprofile(self._prev)
        if self._outer is not None:
            self._stop()


class Attribution:
    """Maps a (file, line) call site to its enclosing function and statement
    source, parsing each file once."""

    def __init__(self) -> None:
        self._files: dict[str, tuple[str, list]] = {}

    def _load(self, path: str) -> tuple[str, list]:
        if path not in self._files:
            with open(path, encoding="utf-8") as fh:
                src = fh.read()
            nodes = list(ast.walk(ast.parse(src)))
            self._files[path] = (src, nodes)
        return self._files[path]

    def function(self, path: str, line: int) -> str | None:
        _, nodes = self._load(path)
        best = None
        for n in nodes:
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)) and (
                n.lineno <= line <= n.end_lineno
            ):
                if best is None or n.lineno > best.lineno:
                    best = n
        return best.name if best else None

    def statement(self, path: str, line: int) -> str:
        src, nodes = self._load(path)
        best = None
        for n in nodes:
            if isinstance(n, ast.stmt) and not isinstance(
                n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.With, ast.Try)
            ) and n.lineno <= line <= n.end_lineno:
                if best is None or n.lineno >= best.lineno:
                    best = n
        return (ast.get_source_segment(src, best) or "") if best else ""


class Tracer:
    """In-memory spans plus the Spark job groups and call sites that tie jobs
    to them. Create one per SparkContext; ``close`` removes every patch."""

    def __init__(self, sc, package_dir: str) -> None:
        self.sc = sc
        self.package_dir = package_dir
        self.enabled = False
        self.spans: list[Span] = []
        self._seq = 0
        self._lock = threading.Lock()
        self._main = threading.get_ident()
        self._main_stack: list[Span] = []
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self._skip_dirs = tuple(
            os.path.dirname(__import__(m).__file__) + os.sep for m in ("pyspark", "py4j")
        ) + (os.path.abspath(__file__),)

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(f"pb-{span.sid}", span.name)

    @contextlib.contextmanager
    def span(self, name: str, **meta):
        """Record a span around the block (yields None while disabled)."""
        if not self.enabled:
            yield None
            return
        sp = self._open(name, meta)
        try:
            yield sp
        finally:
            self._close(sp)

    def _open(self, name: str, meta: dict) -> Span:
        stack = self._stack()
        # a span opened on a callback thread (a streaming foreachBatch) nests
        # under whatever the main thread is blocked in
        outer = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            self._seq += 1
            sp = Span(self._seq, name, outer.sid if outer else 0, meta=meta)
        stack.append(sp)
        self._set_group(sp)
        sp.start = time.time()
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.time()
        stack = self._stack()
        stack.pop()
        outer = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        self._set_group(outer)
        with self._lock:
            self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str, meta=None) -> None:
        """Record a span named ``name`` around every call of ``owner.attr``;
        ``meta(args, kwargs)`` may add fields to the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(name, **(meta(args, kwargs) if meta else {})):
                return orig(*args, **kwargs)

        self.patch(owner, attr, traced)

    def module_calls(self, span: Span | None, skip: frozenset = frozenset()):
        """Record the package modules called in the block into
        ``span.meta["modules"]`` (module -> seconds); a no-op while disabled."""
        if span is None:
            return contextlib.nullcontext()
        calls = ModuleCalls(self.package_dir, skip)
        span.meta["modules"] = calls.seconds
        return calls

    def patch(self, owner, attr: str, replacement) -> None:
        """Replace ``owner.attr`` until ``close``."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    # -- call sites ----------------------------------------------------------
    def _call_site(self, member: str) -> str | None:
        """``<member> at <file>:<line>`` of the innermost frame inside the
        package, else of the innermost frame outside the libraries."""
        frame = sys._getframe(2)
        fallback = None
        while frame is not None:
            path = frame.f_code.co_filename
            if path.startswith(self.package_dir + os.sep):
                return f"{member} at {path}:{frame.f_lineno}"
            if fallback is None and not path.startswith(self._skip_dirs) and (
                "site-packages" not in path and not path.startswith("<")
            ):
                fallback = f"{member} at {path}:{frame.f_lineno}"
            frame = frame.f_back
        return fallback

    def hook_call_sites(self) -> None:
        """Set the JVM call site around every py4j call that can launch a job."""
        from py4j.java_gateway import JavaMember

        orig = JavaMember.__call__
        tracer = self
        jsc = self.sc._jsc

        def call(member, *args):
            if not tracer.enabled or member.name not in ACTION_MEMBERS:
                return orig(member, *args)
            site = tracer._call_site(member.name)
            if site is None:
                return orig(member, *args)
            jsc.setCallSite(site)
            try:
                return orig(member, *args)
            finally:
                jsc.clearCallSite()

        self.patch(JavaMember, "__call__", call)

    def close(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- status store --------------------------------------------------------
    def read_jobs(self) -> list[JobRecord]:
        """Every finished job, oldest first, each stage's metrics charged to
        the first job that lists it."""
        store = self.sc._jsc.sc().statusStore()
        seq = store.jobsList(None)
        raw = []
        for i in range(seq.size()):
            j = seq.apply(i)
            sub, done, grp = j.submissionTime(), j.completionTime(), j.jobGroup()
            if not (sub.isDefined() and done.isDefined()):
                continue
            stage_ids = j.stageIds()
            raw.append(
                (
                    JobRecord(
                        j.jobId(),
                        j.name(),
                        grp.get() if grp.isDefined() else None,
                        sub.get().getTime() / 1000.0,
                        done.get().getTime() / 1000.0,
                        j.numTasks(),
                    ),
                    [stage_ids.apply(k) for k in range(stage_ids.size())],
                )
            )
        raw.sort(key=lambda r: r[0].job_id)
        seen: set[int] = set()
        out = []
        for job, stage_ids in raw:
            for sid in stage_ids:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                job.cpu_s += st.executorCpuTime() / 1e9
                job.shuffle_bytes += st.shuffleReadBytes() + st.shuffleWriteBytes()
                job.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                job.output_records += st.outputRecords()
            out.append(job)
        return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the union of its children's intervals."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_seconds(
            [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.sid, [])]
        )
        out[s.sid] = s.dur - covered
    return out


def uncovered_pct(spans: list[Span], root_ids: set[int], wall: float) -> float:
    """Share of ``wall``, the timed seconds of the operations that the root
    spans enclose, that no span below a root covers, in percent: ``wall``
    minus the self times of every span below the roots."""
    inner = [s for s in descendants(spans, root_ids) if s.sid not in root_ids]
    return (wall - sum(self_times(inner).values())) / wall * 100


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def descendants(spans: list[Span], root_ids: set[int]) -> list[Span]:
    """Spans whose ancestor chain reaches one of ``root_ids`` (roots included)."""
    by_id = {s.sid: s for s in spans}
    memo: dict[int, bool] = {}

    def under(sid: int) -> bool:
        path = []
        while sid and sid not in memo and sid not in root_ids:
            path.append(sid)
            sid = by_id[sid].parent if sid in by_id else 0
        hit = sid in root_ids or memo.get(sid, False)
        for p in path:
            memo[p] = hit
        return hit

    return [s for s in spans if under(s.sid)]
