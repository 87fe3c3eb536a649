"""Run context: the session, the run's scratch directory, and in the
traced run the job groups, spans and per-layer aggregation."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

import spans
from workloads import ETL_QUERIES, LLM_QUERIES

# the modules the workloads' queries reach (bucketing, expectations,
# joins, reconcile, skew, chunking, multimodal, sampling, sketches and
# tokenizer are not reached)
OPERATOR_MODULES = ("asof", "cdc", "gaps", "upsert", "validation", "windows")
# "init" is the ext package's own __init__ module
EXT_MODULES = ("init", "cluster", "dedup", "graph", "quality", "similarity", "text")
PAIR_FN = "ext.dedup:shingle_jaccard_pairs"
# dedup_clusters keeps the exact-Jaccard pairs at or above this
# threshold: ext.dedup.pair_yield is kept / emitted
PAIR_THRESHOLD = 0.4


def _unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[1]
    if leaf.endswith("_s") or leaf == "s":
        return "s"
    if leaf.endswith("_ms"):
        return "ms"
    if leaf.endswith("bytes") or leaf == "bytes_written":
        return "bytes"
    if leaf in ("core_busy", "task_skew", "write_amp", "pair_yield"):
        return "ratio"
    return "count"


def per_layer_names() -> list[str]:
    names = ["session.get_spark_s"]
    names += [f"catalog.load_table.{x}" for x in ("calls", "s", "jobs")]
    names += [f"queries.{x}" for x in ("build_s", "build_jobs", "plan_s")]
    for q in ETL_QUERIES + LLM_QUERIES:
        names += [f"q.{q}.build_s", f"q.{q}.exec_s"]
    for m in OPERATOR_MODULES:
        names += [f"operators.{m}.s", f"operators.{m}.calls"]
    names.append("plans.historical_repair.s")
    for m in EXT_MODULES:
        names += [f"ext.{m}.s", f"ext.{m}.jobs"]
    names.append("ext.dedup.pair_yield")
    names += [f"exec.{f}" for f in spans.ExecCounters.FIELDS]
    names += [f"streaming.{x}" for x in ("run_s", "batches", "input_rows")]
    names += [
        f"streaming.batch.{x}" for x in ("trigger_ms", "add_ms", "gap_ms", "plan_ms", "wal_ms")
    ]
    names += [
        f"streaming.state.{x}"
        for x in (
            "merges", "merge_s", "compactions", "compact_s",
            "bytes_written", "write_amp", "files", "read_s",
        )
    ]
    names += ["trace.pass_wall_s", "trace.overhead_s", "trace.unattributed_s"]
    return names


PER_LAYER = {n: _unit(n) for n in per_layer_names()}


class Context:
    def __init__(self, spark, workload: str, seed: int, work: str, tmp: str, traced: bool):
        self.spark, self.workload, self.seed = spark, workload, seed
        self.out_dir = os.path.join(work, "out")
        self.tmp = tmp
        self.counters = spans.ExecCounters(spark) if traced else None
        self.tracer = None
        self._group = None
        self._pass = 0
        self._listener = None
        self.sums: dict[str, float] = defaultdict(float)
        self.attribution: dict[str, float] = defaultdict(float)
        self.spans_out: list[dict] = []
        self._pairs = [0, 0]  # emitted, kept
        self._state_bytes = [0, 0]  # appended by merges, rewritten by compactions
        self._lock = threading.Lock()

    # -- tracing ---------------------------------------------------------

    def new_tracer(self):
        self._pass += 1
        self.tracer = spans.Tracer(self.counters.job_counter)
        return self.tracer

    @contextmanager
    def tracing(self, tracer):
        with spans.patched(tracer, self._on_state, keep_results=(PAIR_FN,)):
            try:
                yield
            finally:
                self.tracer = None
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def group(self, query: str, phase: str) -> None:
        if self.tracer is None:
            return
        self._group = f"{self.workload}|{query}|{phase}|{self._pass}"
        self.spark.sparkContext.setJobGroup(self._group, self._group)

    def collect_group(self) -> None:
        if self.tracer is None or self._group is None:
            return
        self.counters.add_group(self._group)
        self._group = None

    def _on_state(self, method, state, span, before) -> None:
        after = spans.dir_bytes(state.path)
        with self._lock:
            if method == "compact":
                # the merge that triggered it accounts its own append
                # from the size before compaction
                state._perfbench_pre_compact = before
                self._state_bytes[1] += after
            elif method == "merge":
                pre = getattr(state, "_perfbench_pre_compact", None)
                state._perfbench_pre_compact = None
                self._state_bytes[0] += (after if pre is None else pre) - before

    def fold_trace(self, tracer, wall: float) -> None:
        """Per-layer sums and attribution of the traced pass."""
        sps = tracer.spans
        selfs = spans.self_times(sps)
        sjobs = tracer.self_jobs()
        s_ = self.sums
        covered = []
        for sp, st, sj in zip(sps, selfs, sjobs):
            name, dur = sp.name, sp.end - sp.start
            self.spans_out.append(
                {"pass": self._pass, "name": name, "start": sp.start, "end": sp.end,
                 "parent": sp.parent, "jobs": sp.jobs1 - sp.jobs0}
            )
            if name.startswith("q.") and name.count(".") == 1:
                continue  # per-query wrapper: harness and counter collection
            covered.append((sp.start, sp.end))
            if name.startswith(("q.", "stream.")):
                if name.startswith("q."):
                    q, phase = name[2:].rsplit(".", 1)
                    layer = f"queries.{phase}"
                    if phase == "build":
                        s_[f"q.{q}.build_s"] += dur
                        s_["queries.build_s"] += st
                        s_["queries.build_jobs"] += sp.jobs1 - sp.jobs0
                    elif phase == "plan":
                        s_["queries.plan_s"] += st
                    else:
                        s_[f"q.{q}.exec_s"] += dur
                else:
                    layer = name
                    if name == "stream.read":
                        s_["streaming.state.read_s"] += dur
                    else:
                        s_["streaming.run_s"] += dur
                self.attribution[layer] += st
                continue
            mod, fn = name.split(":", 1)
            self.attribution[mod] += st
            if mod == "catalog" and fn == "load_table":
                s_["catalog.load_table.calls"] += 1
                s_["catalog.load_table.s"] += st
                s_["catalog.load_table.jobs"] += sj
            elif mod.startswith("operators."):
                s_[f"{mod}.s"] += st
                s_[f"{mod}.calls"] += 1
            elif mod == "plans.historical_repair":
                s_[f"{mod}.s"] += st
            elif mod == "ext" or mod.startswith("ext."):
                m = "ext.init" if mod == "ext" else mod
                s_[f"{m}.s"] += st
                s_[f"{m}.jobs"] += sj
                if name == PAIR_FN and "result" in sp.attrs:
                    self._count_pairs(sp.attrs.pop("result"))
            elif mod == "streaming.state" and fn in ("merge", "compact"):
                count = "merges" if fn == "merge" else "compactions"
                s_[f"streaming.state.{count}"] += 1
                s_[f"streaming.state.{fn}_s"] += st
        union = spans.union_length(covered)
        s_["trace.unattributed_s"] += wall - union
        s_["trace.pass_wall_s"] += wall
        self.attribution["unattributed"] += wall - union
        self.attribution["pass_wall"] += wall
        # spans on helper threads (parallel state merges) overlap, so
        # the self times then sum to more than the time they cover
        self.attribution["concurrent_overlap"] += sum(
            st for sp, st in zip(sps, selfs) if not (sp.name.startswith("q.") and sp.name.count(".") == 1)
        ) - union

    def _count_pairs(self, df) -> None:
        from pyspark.sql import functions as F

        self._pairs[0] += df.count()
        self._pairs[1] += df.filter(F.col("jaccard") >= PAIR_THRESHOLD).count()

    # -- streaming -------------------------------------------------------

    def progress_listener(self):
        if self._listener is None:
            self._listener = _Progress()
            self.spark.streams.addListener(self._listener)
        return self._listener

    def collect_stream(self, run_id, progress, res) -> None:
        if run_id is not None:
            self.counters.add_group(run_id)
        self.collect_group()
        s_ = self.sums
        s_["streaming.batches"] += len(progress)
        s_["streaming.input_rows"] += sum(p["numInputRows"] for p in progress)
        for key, fn in (
            ("trigger_ms", lambda d: d.get("triggerExecution", 0)),
            ("add_ms", lambda d: d.get("addBatch", 0)),
            ("gap_ms", lambda d: d.get("triggerExecution", 0) - d.get("addBatch", 0)),
            ("plan_ms", lambda d: d.get("queryPlanning", 0)),
            ("wal_ms", lambda d: d.get("walCommit", 0)),
        ):
            xs = [fn(p["durationMs"]) for p in progress]
            s_[f"streaming.batch.{key}"] += statistics.median(xs) if xs else 0.0
        if res is not None:
            s_["streaming.state.files"] += sum(
                spans.parquet_files(st.path) for st in res.states.values()
            )

    # -- report ----------------------------------------------------------

    def layer_metrics(self, out) -> dict:
        v = {k: self.sums.get(k, 0.0) for k in PER_LAYER}
        v["session.get_spark_s"] = out.session_s
        v.update({f"exec.{k}": x for k, x in self.counters.totals().items()})
        emitted, kept = self._pairs
        v["ext.dedup.pair_yield"] = kept / emitted if emitted else 0.0
        appended, rewritten = self._state_bytes
        v["streaming.state.bytes_written"] = appended + rewritten
        v["streaming.state.write_amp"] = (appended + rewritten) / appended if appended else 0.0
        v["trace.overhead_s"] = out.traced_wall - out.untraced_wall
        self.attribution = {k: round(x, 4) for k, x in self.attribution.items()}
        return {k: {"value": v[k], "unit": u} for k, u in PER_LAYER.items()}

    def write_trace(self, out, record) -> str:
        os.makedirs(self.out_dir, exist_ok=True)
        path = os.path.join(self.out_dir, f"trace-{self.workload}-seed{self.seed}.json")
        with open(path, "w") as f:
            json.dump({"record": record, "spans": self.spans_out}, f)
        return path

    def close(self) -> None:
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)


class _Progress(StreamingQueryListener):
    """Collects ``StreamingQueryProgress`` per trigger; ``wait_drain``
    returns the triggers with input of the query that terminated since
    the last ``mark``."""

    def __init__(self):
        self.events: list[dict] = []
        self.terminated: list[str] = []
        self._mark = 0

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.events.append(
            {"runId": str(p.runId), "batchId": p.batchId,
             "durationMs": dict(p.durationMs), "numInputRows": p.numInputRows}
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated.append(str(event.runId))

    def mark(self) -> None:
        self._mark = len(self.terminated)

    def wait_drain(self, timeout: float = 10.0):
        end = time.monotonic() + timeout
        while len(self.terminated) <= self._mark and time.monotonic() < end:
            time.sleep(0.01)
        if len(self.terminated) <= self._mark:
            return [], None
        run_id = self.terminated[self._mark]
        return [
            e for e in self.events if e["runId"] == run_id and e["numInputRows"] > 0
        ], run_id
