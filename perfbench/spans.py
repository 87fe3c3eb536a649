"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark's own files: the runner opens
spans around each query's build, plan and execution, and ``patched``
wraps the public functions of the engine's layers (``catalog``,
``operators``, ``plans``, ``ext``, ``streaming.state``,
``streaming.pipeline``) by swapping every module binding of them, the
way ``ladder._patched_loader`` swaps ``load_table``. A span holds its
name, start, end, parent and the Spark job counter at both ends. Spans
stay in memory until the run writes them out.

Spark execution counters come from the status store, per job group:
each (workload, query, phase) runs under its own group.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# layers whose public functions get spans: package-relative module
# prefixes; the span name is "<module path>.<function>"
LAYER_PREFIXES = (
    "catalog",
    "operators.",
    "plans.",
    "ext",
    "streaming.pipeline",
)
STATE_METHODS = ("merge", "compact", "read_merged", "seed_from_files")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    jobs0: int = 0
    jobs1: int = 0
    attrs: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval covered by
    its children (the union of the child intervals clipped to the
    span, so children that overlap each other are not subtracted
    twice)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        clipped = [
            (max(lo, s.start), min(hi, s.end)) for lo, hi in kids.get(i, [])
            if min(hi, s.end) > max(lo, s.start)
        ]
        out.append(max(0.0, (s.end - s.start) - union_length(clipped)))
    return out


class Tracer:
    """In-memory span recorder. A span's parent is the innermost open
    span of its own thread or, on a helper thread with none open, the
    innermost open span of the thread that created the tracer."""

    def __init__(self, job_counter=lambda: 0):
        self.spans: list[Span] = []
        self.job_counter = job_counter
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        st = self._stack()
        parent = st[-1] if st else (self._main_stack[-1] if self._main_stack else None)
        s = Span(name, time.perf_counter(), parent=parent, attrs=attrs)
        s.jobs0 = self.job_counter()
        with self._lock:
            idx = len(self.spans)
            self.spans.append(s)
        st.append(idx)
        try:
            yield s
        finally:
            st.pop()
            s.jobs1 = self.job_counter()
            s.end = time.perf_counter()

    def wrap(self, fn, name: str, keep_result: bool = False):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if keep_result:
                    s.attrs["result"] = out
                return out

        return traced

    def self_jobs(self) -> list[int]:
        out = [s.jobs1 - s.jobs0 for s in self.spans]
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.jobs1 - s.jobs0
        return [max(0, j) for j in out]


def _package_modules(pkg):
    for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        yield importlib.import_module(info.name)
    yield pkg


@contextmanager
def patched(tracer: Tracer, on_state=None, keep_results=()):
    """Wrap every public function of the traced layers, in its own
    module and at every other module binding of it, plus the
    ``LogStructuredState`` methods. Spans are named
    ``<module>:<function>``. ``on_state(method, state, span, bytes_before)``
    runs after each state call; spans named in ``keep_results`` keep
    the function's return value."""
    import financial_tracker_etl_spark as pkg
    from financial_tracker_etl_spark.streaming import state as state_mod

    mods = list(_package_modules(pkg))
    prefix = pkg.__name__ + "."
    wrapped: dict[int, object] = {}
    for m in mods:
        rel = m.__name__[len(prefix):] if m is not pkg else ""
        if not rel.startswith(LAYER_PREFIXES):
            continue
        for attr, fn in vars(m).items():
            if (
                not attr.startswith("_")
                and inspect.isfunction(fn)
                and fn.__module__ == m.__name__
            ):
                name = f"{rel}:{attr}"
                wrapped[id(fn)] = tracer.wrap(fn, name, name in keep_results)
    swaps = []
    for m in mods:
        for attr, val in list(vars(m).items()):
            w = wrapped.get(id(val))
            if w is not None:
                swaps.append((m, attr, val))
                setattr(m, attr, w)

    cls = state_mod.LogStructuredState
    originals = {n: cls.__dict__.get(n) for n in STATE_METHODS}

    def state_wrap(method: str, fn):
        @functools.wraps(fn)
        def traced(self, *args, **kwargs):
            with tracer.span(f"streaming.state:{method}") as s:
                before = dir_bytes(self.path)
                out = fn(self, *args, **kwargs)
            if on_state is not None:
                on_state(method, self, s, before)
            return out

        return traced

    for n in STATE_METHODS:
        setattr(cls, n, state_wrap(n, getattr(cls, n)))
    try:
        yield
    finally:
        for m, attr, val in swaps:
            setattr(m, attr, val)
        for n, fn in originals.items():
            if fn is None:
                delattr(cls, n)
            else:
                setattr(cls, n, fn)


def dir_bytes(path: str) -> int:
    import os

    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def parquet_files(path: str) -> int:
    import os

    return sum(
        f.endswith(".parquet") for _, _, files in os.walk(path) for f in files
    )


# --- Spark execution counters ---------------------------------------------


class ExecCounters:
    """Per-job-group execution counters from ``statusTracker`` and the
    status store. Stages are counted once per pass even when a later
    job lists them as skipped."""

    FIELDS = (
        "s", "jobs", "stages", "tasks", "task_s", "gc_s", "core_busy",
        "task_skew", "input_bytes", "shuffle_write_bytes",
        "shuffle_read_bytes", "spill_bytes",
    )

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.cores = self.sc.defaultParallelism
        self.store = self.sc._jsc.sc().statusStore()
        self.seen_stages: set[int] = set()
        self.tot = dict.fromkeys(self.FIELDS, 0.0)
        self._skews: list[tuple[float, float]] = []  # (weight, skew)

    def job_counter(self) -> int:
        return int(self.sc._jsc.sc().dagScheduler().numTotalJobs())

    def add_group(self, group: str) -> dict:
        """Fold the jobs of one finished job group into the totals."""
        st = self.sc.statusTracker()
        g = dict.fromkeys(self.FIELDS, 0.0)
        intervals = []
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            g["jobs"] += 1
            try:
                jd = self.store.job(jid)
                t0 = jd.submissionTime().get().getTime()
                t1 = jd.completionTime().get().getTime()
                intervals.append((t0, t1))
            except Exception:  # noqa: BLE001 - evicted or still running
                pass
            for sid in info.stageIds:
                if sid in self.seen_stages:
                    continue
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - never ran or evicted
                    continue
                if sd.numCompleteTasks() == 0:
                    continue
                self.seen_stages.add(sid)
                g["stages"] += 1
                g["tasks"] += sd.numCompleteTasks()
                g["task_s"] += sd.executorRunTime() / 1e3
                g["gc_s"] += sd.jvmGcTime() / 1e3
                g["input_bytes"] += sd.inputBytes()
                g["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                g["shuffle_read_bytes"] += sd.shuffleReadBytes()
                g["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                skew = self._stage_skew(sid, sd.attemptId())
                if skew is not None:
                    self._skews.append((sd.executorRunTime(), skew))
        g["s"] = union_length(intervals) / 1e3
        for k in self.FIELDS:
            if k not in ("core_busy", "task_skew"):
                self.tot[k] += g[k]
        return g

    def _stage_skew(self, sid: int, attempt: int) -> float | None:
        """Longest task over median task duration in one stage."""
        try:
            gw = self.sc._gateway
            q = gw.new_array(gw.jvm.double, 2)
            q[0], q[1] = 0.5, 1.0
            summ = self.store.taskSummary(sid, attempt, q)
            if summ.isEmpty():
                return None
            d = summ.get().duration()
            med, mx = d.apply(0), d.apply(1)
            return mx / med if med > 0 else None
        except Exception:  # noqa: BLE001 - summary unavailable
            return None

    def totals(self) -> dict:
        out = dict(self.tot)
        if out["s"] > 0:
            out["core_busy"] = out["task_s"] / (out["s"] * self.cores)
        w = sum(x for x, _ in self._skews)
        if w > 0:
            out["task_skew"] = sum(x * s for x, s in self._skews) / w
        return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur = 0.0, None
    for lo, hi in sorted(intervals):
        if cur is None or lo > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [lo, hi]
        else:
            cur[1] = max(cur[1], hi)
    if cur is not None:
        total += cur[1] - cur[0]
    return total
