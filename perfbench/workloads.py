"""The benchmark's workloads. Each is a closed loop with one client:
the next query, drain or read starts only after the previous one
completes.

A run has four phases:

1. set-up (timed as ``setup_s``): start the session, then one warm
   pass with the plan shapes that are measured, collecting every output.
2. measurement: passes until ``--seconds`` would be exceeded, at least
   one. The traced run instead makes an untraced pass, a
   traced pass and another untraced pass (see ``run_traced``).
3. verification (``verify``), after the session stops: the collected
   outputs are compared with their registry oracles in DuckDB over the
   same generated files.
4. report: medians over passes.

Inputs are staged before the session starts (``stage``), outside every
timed region.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import gen
import measure
from bench import force

# Each batch set is the subset of the reference-ETL / [EXT] registry
# queries that reaches every traced layer of its kind while keeping a
# run (session, warm pass, one measured pass) near 35 s on 4 cores.
ETL_QUERIES = (
    "flagship_historical_repair",
    "upsert_market_data",
    "asof_quote_join",
    "cdc_apply_roundtrip",
    "top_revenue_customers",
)
LLM_QUERIES = (
    "dedup_clusters",
    "benchmark_contamination",
    "embedding_ann_pq",
)


@dataclass
class Outcome:
    """Counts and samples a run accumulates."""

    attempted: int = 0
    failed: int = 0
    wrong: int = 0
    errors: list = field(default_factory=list)
    session_s: float = 0.0
    warm_s: float = 0.0
    pass_wall: list = field(default_factory=list)
    pass_cpu: list = field(default_factory=list)
    latencies_ms: list = field(default_factory=list)
    traced_wall: float | None = None
    untraced_wall: float | None = None

    def attempt(self, label: str, fn):
        self.attempted += 1
        try:
            return True, fn()
        except Exception as e:  # noqa: BLE001 - counted, reported
            self.failed += 1
            self.errors.append(f"{label}: {type(e).__name__}: {str(e)[:200]}")
            return False, None


class Workload:
    name: str
    sf: float
    k: int

    def stage(self, inputs: str, seed: int, tmp: str) -> None:
        """Find or stage the inputs; runs before the session starts."""
        self.data_dir, _ = gen.ensure(inputs, seed, self.sf, self.k)

    def verify(self, out: Outcome) -> None:
        """Compare each warm-pass output with its registry oracle in
        DuckDB over the same generated files. ``verify.compare``
        canonicalises row by row in Python (~9 s one after another for
        the ``etl_batch_x4`` outputs on 4 cores), so the outputs are
        compared in parallel worker processes."""
        from concurrent.futures import ProcessPoolExecutor

        from financial_tracker_etl_spark import verify

        con = verify.duckdb_connection(self.data_dir)
        try:
            oracles = {n: con.execute(o).fetchdf() for n, (_, o) in self.outputs.items()}
        finally:
            con.close()
        workers = max(1, min(len(oracles), len(os.sched_getaffinity(0))))
        with ProcessPoolExecutor(workers) as pool:
            verdicts = {
                n: pool.submit(verify.compare, pdf, oracles[n])
                for n, (pdf, _) in self.outputs.items()
            }
            for name, f in verdicts.items():
                same, msg = f.result()
                if not same:
                    out.wrong += 1
                    out.errors.append(f"wrong {name}: {msg}")

    def run(self, ctx, out: Outcome, seconds: float, traced: bool) -> None:
        self.ctx = ctx
        self.prepare(ctx, out)
        if traced:
            self.run_traced(ctx, out)
            return
        # one set-up (JVM start, cold warm pass) costs ~25 s, so a run
        # measures one pass unless --seconds leaves room for more
        t_start = time.perf_counter()
        i = 0
        while True:
            wall, cpu = self.timed_pass(ctx, out, i, None)
            out.pass_wall.append(wall)
            out.pass_cpu.append(cpu)
            i += 1
            mean = (time.perf_counter() - t_start) / i
            if time.perf_counter() + mean > t_start + seconds:
                break

    def run_traced(self, ctx, out: Outcome) -> None:
        """An untraced pass to settle, the traced pass, then an untraced
        pass as the base of the tracing overhead (the first pass after
        set-up runs slower than later ones)."""
        self.timed_pass(ctx, out, 0, None)
        tracer = ctx.new_tracer()
        with ctx.tracing(tracer):
            out.traced_wall, _ = self.timed_pass(ctx, out, 1, tracer)
        ctx.fold_trace(tracer, out.traced_wall)
        out.untraced_wall, _ = self.timed_pass(ctx, out, 2, None)

    def timed_pass(self, ctx, out, i, tracer):
        pids = measure.tree_pids()
        c0, t0 = measure.tree_cpu_s(pids), time.perf_counter()
        self.one_pass(ctx, out, i, tracer)
        wall = time.perf_counter() - t0
        return wall, measure.tree_cpu_s(measure.tree_pids()) - c0


class BatchWorkload(Workload):
    def __init__(self, name, queries, sf, k):
        self.name, self.queries, self.sf, self.k = name, queries, sf, k

    def order(self, i: int) -> list[str]:
        names = list(self.queries)
        random.Random(f"{self.ctx.seed}:{i}").shuffle(names)
        return names

    def prepare(self, ctx, out: Outcome) -> None:
        """The warm pass: every query collected, outputs kept for
        ``verify``."""
        from financial_tracker_etl_spark.queries import registry

        self.specs = {n: registry()[n] for n in self.queries}
        self.outputs = {}
        t0 = time.perf_counter()
        for name in self.order(-1):
            ctx.spark.catalog.clearCache()
            ok, pdf = out.attempt(
                f"verify {name}", lambda: self.specs[name].fn(ctx.spark, self.data_dir).toPandas()
            )
            if ok:
                self.outputs[name] = (pdf, self.specs[name].oracle)
        # first noop write of the session, outside the measured passes
        force(ctx.spark.range(1))
        out.warm_s = time.perf_counter() - t0

    def one_pass(self, ctx, out: Outcome, i: int, tracer) -> None:
        spark = ctx.spark
        for name in self.order(i):
            spark.catalog.clearCache()
            fn = self.specs[name].fn
            if tracer is None:
                t0 = time.perf_counter()
                ok, _ = out.attempt(name, lambda: force(fn(spark, self.data_dir)))
                if ok:
                    out.latencies_ms.append((time.perf_counter() - t0) * 1e3)
                continue
            with tracer.span(f"q.{name}"):
                ctx.group(name, "build")
                with tracer.span(f"q.{name}.build"):
                    ok, df = out.attempt(name, lambda: fn(spark, self.data_dir))
                ctx.collect_group()
                if not ok:
                    continue
                ctx.group(name, "exec")
                with tracer.span(f"q.{name}.plan"):
                    df._jdf.queryExecution().executedPlan()
                with tracer.span(f"q.{name}.exec"):
                    out.attempt(name, lambda: force(df))
                ctx.collect_group()


class StreamWorkload(Workload):
    """``run_routed_pipeline`` draining a backlog of request files, then
    the merge-on-read of the market, index and monthly states."""

    name = "quote_stream"

    def __init__(self, sf, k, n_files, files_per_trigger):
        self.sf, self.k = sf, k
        self.n_files, self.files_per_trigger = n_files, files_per_trigger

    def stage(self, inputs: str, seed: int, tmp: str) -> None:
        self.data_dir, msgs = gen.ensure(inputs, seed, self.sf, self.k, messages=True)
        self.traffic = gen.split_traffic(
            msgs, os.path.join(tmp, "traffic"), seed, self.n_files
        )

    def prepare(self, ctx, out: Outcome) -> None:
        """The warm drain; its market state and completion totals are
        kept for ``verify``."""
        from financial_tracker_etl_spark.queries import registry
        from financial_tracker_etl_spark.streaming.jobs import TOPIC_MARKET

        self.listener = ctx.progress_listener()
        reg = registry()
        self.outputs = {}
        t0 = time.perf_counter()
        ok, res = out.attempt("verify drain", lambda: self.drain(ctx, "warm"))
        if ok:
            for label, fn, qname in (
                ("market state", lambda: res.state_df(TOPIC_MARKET), "stream_upsert_market_data"),
                ("completions", lambda: _completion_totals(res), "stream_pipeline_completions"),
            ):
                good, pdf = out.attempt(f"verify {label}", lambda: fn().toPandas())
                if good:
                    self.outputs[label] = (pdf, reg[qname].oracle)
        shutil.rmtree(self.work_dir, ignore_errors=True)
        force(ctx.spark.range(1))
        out.warm_s = time.perf_counter() - t0

    def drain(self, ctx, tag):
        from financial_tracker_etl_spark.streaming.pipeline import run_routed_pipeline

        self.work_dir = os.path.join(ctx.tmp, f"stream-{tag}")
        shutil.rmtree(self.work_dir, ignore_errors=True)
        return run_routed_pipeline(
            ctx.spark,
            self.data_dir,
            work_dir=self.work_dir,
            n_files=self.n_files,
            files_per_trigger=self.files_per_trigger,
            input_dir=self.traffic,
        )

    def one_pass(self, ctx, out: Outcome, i: int, tracer) -> None:
        span = tracer.span if tracer is not None else (lambda name: nullcontext())
        self.listener.mark()
        ctx.group("stream", "drain")
        with span("stream.drain"):
            ok, res = out.attempt("drain", lambda: self.drain(ctx, str(i)))
        progress, run_id = self.listener.wait_drain()
        if ok:
            out.latencies_ms.extend(
                p["durationMs"]["triggerExecution"] for p in progress
            )
        if tracer is not None:
            ctx.collect_stream(run_id, progress, res if ok else None)
        if not ok:
            return
        ctx.group("state", "read")
        with span("stream.read"):
            for topic in sorted(res.states):
                out.attempt(f"read {topic}", lambda: force(res.state_df(topic)))
        ctx.collect_group()
        shutil.rmtree(self.work_dir, ignore_errors=True)


def _completion_totals(res):
    """Per-topic completion totals, as the registry's
    ``stream_pipeline_completions`` query sums them."""
    from pyspark.sql import functions as F

    return res.completions.groupBy("topic").agg(
        F.sum("records").alias("records"),
        F.sum("invalid_records").alias("invalid_records"),
        F.sum("dead_letter").alias("dead_letter"),
        F.sum("skipped_empty").alias("skipped_empty"),
    )


# 14 request files at 2 per trigger: 7 micro-batches, so the seeded
# market state reaches the 8 deltas at which it compacts once per drain.
WORKLOADS = {
    "etl_batch_x4": BatchWorkload("etl_batch_x4", ETL_QUERIES, sf=0.025, k=4),
    "llm_curation": BatchWorkload("llm_curation", LLM_QUERIES, sf=0.01, k=1),
    "quote_stream": StreamWorkload(sf=0.025, k=4, n_files=14, files_per_trigger=2),
}
