"""Set-up, timed passes, output checks and the report of one run."""

from __future__ import annotations

import os
import random
import statistics
import time
from collections import Counter
from contextlib import contextmanager, nullcontext

import spans as tr

#: Untimed passes between the first pass and the timed ones.
SETTLE_PASSES = 2


def warm_up(spark) -> None:
    """The benchmark's fixed warm-up: a shuffle (codegen, task launch) and
    an Arrow pass that starts the pool of Python workers."""
    cores = spark.sparkContext.defaultParallelism
    spark.range(0, 100_000, 1, cores).selectExpr("id % 97 AS k").groupBy("k").count() \
        .write.format("noop").mode("overwrite").save()
    spark.range(0, 1000, 1, cores).mapInPandas(lambda it: it, schema="id long") \
        .write.format("noop").mode("overwrite").save()


def rejected_confs(spark) -> list[str]:
    """Names of ``session.RUNTIME_CONF`` keys this session refuses to set
    at runtime, each tried once."""
    from udacitydatawarehouseprj_spark import session as S

    rejected = []
    for key, value in S.RUNTIME_CONF.items():
        try:
            spark.conf.set(key, value)
        except Exception as exc:  # the session's refusal is the finding
            cls = getattr(exc, "getCondition", lambda: None)() or type(exc).__name__
            rejected.append(f"{key} ({cls})")
    return rejected


def median_latency_geomean(latencies: dict[str, list[float]]) -> float:
    """Geometric mean over operations of each operation's median latency."""
    return statistics.geometric_mean(statistics.median(v) for v in latencies.values())


class Run:
    """One benchmark run of one workload in this process."""

    def __init__(self, workload, seed: int, seconds: float, traced: bool):
        self.workload = workload
        self.seconds = seconds
        self.traced = traced
        self.tracer = tr.Tracer()
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failures: list[str] = []
        self.passes: list[dict] = []

    # --- one operation -------------------------------------------------

    @contextmanager
    def _phase(self, rec: dict, op: str, name: str, spanned: bool):
        self.sc.setJobGroup(f"{op}:{name}", op)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name) if spanned else nullcontext():
                yield
        finally:
            rec[name + "_s"] = rec.get(name + "_s", 0.0) + time.perf_counter() - t0

    def _operation(self, op: str, spanned: bool, check: bool) -> dict:
        rec: dict = {"op": op}
        self.attempted += 1
        self.tracer.op = op
        phase = lambda name: self._phase(rec, op, name, spanned)  # noqa: E731
        cpu0, jit0 = tr.process_tree_cpu_s(os.getpid()), tr.jit_thread_ticks(self.jvm_pid)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(op) if spanned else nullcontext():
                result = self.workload.execute(self.spark, op, phase)
            rec["latency_s"] = time.perf_counter() - t0
            rec["cpu_s"] = (tr.process_tree_cpu_s(os.getpid()) - cpu0
                            - tr.jit_cpu_s(jit0, tr.jit_thread_ticks(self.jvm_pid)))
            rec.update(self.workload.op_stats(op, result))
        except Exception as exc:  # a failed operation is counted, not fatal
            rec["error"] = f"{op}: {type(exc).__name__}: {exc}"[:500]
        finally:
            self.sc.setJobGroup("perfbench", "harness")  # checks are not the op's
            self.tracer.op = None
        tr.wait_for_listeners(self.spark)
        rec["jobs"] = {g: self.jobs.collect(f"{op}:{g}") for g in self.workload.phases}
        if "error" not in rec and check:
            try:
                errs = self.workload.check(self.spark, op, result)
            except Exception as exc:  # noqa: BLE001 - a check that raises fails the op
                errs = [f"check raised {type(exc).__name__}: {exc}"[:500]]
            if errs:
                rec["error"] = f"{op}: wrong output: " + "; ".join(errs)
        if "error" in rec:
            self.failures.append(rec["error"])
        return rec

    def _pass(self, kind: str, spanned: bool = False, check: bool = False) -> None:
        self.workload.before_pass()
        order = self.workload.arrange(self.rng.sample(self.workload.ops, len(self.workload.ops)))
        mark = len(self.tracer.spans)
        counts0 = Counter(self.tracer.counts)
        streams0 = len(self.streams.batch_s)
        self.streams.state_rows.clear()
        check = check or self.workload.check_every_pass
        ops = [self._operation(op, spanned, check) for op in order]
        ok = [r for r in ops if "latency_s" in r]
        self.passes.append({
            "kind": kind,
            "pass_s": sum(r["latency_s"] for r in ok),
            "cpu_s": sum(r["cpu_s"] for r in ok),
            "latencies": [r["latency_s"] for r in ok],
            "ops": ops,
            "counts": self.tracer.counts - counts0,
            "span_mark": (mark, len(self.tracer.spans)),
            "batch_s": self.streams.batch_s[streams0:],
            "state_rows": sum(self.streams.state_rows.values()),
        })

    # --- the run -------------------------------------------------------

    def setup(self) -> None:
        from udacitydatawarehouseprj_spark import session as S

        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = S.get_spark(f"perfbench-{self.workload.name}")
        self.get_spark_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sc = self.spark.sparkContext
        self.jvm_pid = self.sc._gateway.proc.pid
        self.cores = self.sc.defaultParallelism
        warm_up(self.spark)
        self.setup_s = time.perf_counter() - t0
        self.rejected = rejected_confs(self.spark)
        self.jobs = tr.JobStats(self.spark)
        self.streams = tr.StreamStats()
        self.spark.streams.addListener(self.streams.listener())

    def wrap_engine(self) -> None:
        """Trace the engine's public functions from outside."""
        from udacitydatawarehouseprj_spark import session as S
        from udacitydatawarehouseprj_spark.plans import star_schema
        from udacitydatawarehouseprj_spark.sources import json_source, sinks

        t = self.tracer
        t.wrap(S, "configure", "session.configure")
        t.wrap(S, "load_table", "session.load_table")
        t.wrap(S, "shared_cache", lambda key, *_: "session.shared_cache."
               + ("hit" if key in S._SHARED_CACHES else "build"))
        t.wrap(star_schema, "build_star_schema", "plans.build_star_schema")
        t.wrap(sinks, "write_parquet", "sinks.write_parquet")
        t.wrap(json_source, "read_events_json", "sources.read_json")
        t.wrap(json_source, "read_songs_json", "sources.read_json")

    def execute(self) -> None:
        """First pass (cold, outputs checked), the settle passes, then the
        warm passes.

        Passes keep speeding up for several passes after the first, while
        the JVM compiles Spark's planning and execution code, so the
        settle passes run untimed before any pass counts. The number of
        warm passes is ``seconds`` over the workload's nominal warm pass
        time on four cores, at least three, so one ``seconds`` gives every
        run and every commit the same passes. A traced run alternates
        untraced and traced warm passes, so the trace overhead is measured
        in one process."""
        self._pass("first", check=True)
        for _ in range(SETTLE_PASSES):
            self._pass("settle")
        n = max(3, round(self.seconds / self.workload.nominal_pass_s))
        for i in range(2 * n if self.traced else n):
            if self.traced and i % 2 == 1:
                self.wrap_engine()
                try:
                    self._pass("traced", spanned=True)
                finally:
                    self.tracer.unwrap_all()
            else:
                self._pass("warm")
        self.peak_rss_mb = tr.process_tree_hwm_mb(os.getpid())

    # --- metrics -------------------------------------------------------

    def _kind(self, kind: str) -> list[dict]:
        return [p for p in self.passes if p["kind"] == kind]

    def op_latencies(self) -> dict[str, list[float]]:
        """Each operation's latencies over the untraced warm passes."""
        out: dict[str, list[float]] = {}
        for p in self._kind("warm"):
            for r in p["ops"]:
                if "latency_s" in r:
                    out.setdefault(r["op"], []).append(r["latency_s"])
        return out

    def end_to_end(self) -> dict[str, float]:
        """Metrics a user of the engine sees, from the untraced warm
        passes: set-up time, and the CPU seconds a pass costs the engine's
        processes (the Python driver, the JVM and Spark's Python workers),
        without the JVM's JIT-compiler threads. Wall-clock pass time moves
        with how much of the shared host the run gets; CPU time leaves out
        the waits for a processor, and the compiler threads' share is the
        JVM still warming up, which varies from run to run."""
        return {
            "setup_s": self.setup_s,
            "pass_cpu_s": statistics.median(p["cpu_s"] for p in self._kind("warm")),
        }

    def per_layer(self) -> dict[str, float]:
        """Per-layer metrics: medians over the traced passes of each
        pass's totals, except the wall-clock times and the row rate, which
        come from the untraced passes. In ``latency_p50_geomean_s`` every
        operation counts with the same weight whatever its cost, where a
        median over the pooled samples would follow whichever one or two
        operations hold the middle ranks. Layers a workload does not reach
        read 0."""
        traced = self._kind("traced")
        warm = self._kind("warm")
        cores = self.cores

        def med(f) -> float:
            return statistics.median(f(p) for p in traced)

        def spans(name):
            return lambda p: self.tracer.total(name, *p["span_mark"])

        def calls(name):
            return lambda p: p["counts"].get(name + "_calls", 0)

        def ops(key):
            return lambda p: sum(r.get(key, 0) for r in p["ops"])

        def jobs(key, groups=None):
            return lambda p: sum(c.get(key, 0) for r in p["ops"]
                                 for g, c in r["jobs"].items()
                                 if groups is None or g in groups)

        hits, builds = calls("session.shared_cache.hit"), calls("session.shared_cache.build")
        shared = lambda p: hits(p) + builds(p)  # noqa: E731
        stream_phases = ("streaming.landing_write_s", "streaming.stream_run_s")
        m = {
            "first_pass_s": self._kind("first")[0]["pass_s"],
            "pass_s": statistics.median(p["pass_s"] for p in warm),
            "latency_p50_geomean_s": median_latency_geomean(self.op_latencies()),
            "rows_per_s": statistics.median(
                self.workload.input_rows(p["ops"]) / p["pass_s"] for p in warm),
            "peak_rss_mb": self.peak_rss_mb,
            "session.get_spark_s": self.get_spark_s,
            "session.configure_calls": med(calls("session.configure")),
            "session.configure_s": med(spans("session.configure")),
            "session.load_table_calls": med(calls("session.load_table")),
            "session.load_table_s": med(spans("session.load_table")),
            "session.rejected_confs": len(self.rejected),
            "session.shared_cache_calls": med(shared),
            "session.shared_cache_builds": med(builds),
            "session.shared_cache_hit_ratio": med(
                lambda p: hits(p) / shared(p) if shared(p) else 0.0),
            "session.shared_build_s": med(spans("session.shared_cache.build")),
            "queries.build_s": med(ops("build_s")),
            "queries.build_share": med(lambda p: ops("build_s")(p) / p["pass_s"]),
            "queries.build_jobs": med(jobs("jobs", ("build",))),
            "queries.build_jobs_s": med(jobs("s", ("build",))),
        }
        for key in ("s", "jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
                    "executor_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
                    "spill_bytes", "jvm_gc_s", "input_bytes", "output_bytes"):
            m[f"exec.{key}"] = med(jobs(key))
        m["exec.cpu_util"] = med(lambda p: jobs("executor_cpu_s")(p) / (p["pass_s"] * cores))
        m.update({
            "pipeline.run_etl_s": med(ops("run_etl_s")),
            "pipeline.validation_counts_s": med(ops("validation_counts_s")),
            "plans.build_star_schema_s": med(spans("plans.build_star_schema")),
            "sinks.write_parquet_s": med(spans("sinks.write_parquet")),
            "sinks.files_written": med(ops("sinks.files_written")),
            "sinks.bytes_written": med(ops("sinks.bytes_written")),
            "sources.input_files": med(ops("sources.input_files")),
            "sources.input_bytes": med(ops("sources.input_bytes")),
            "stored_bytes_per_input_byte": med(
                lambda p: ops("sinks.bytes_written")(p) / ops("sources.input_bytes")(p)
                if ops("sources.input_bytes")(p) else 0.0),
            "streaming.landing_write_s": med(ops(stream_phases[0])),
            "streaming.stream_run_s": med(ops(stream_phases[1])),
            "streaming.readback_s": med(lambda p: sum(
                r["latency_s"] - sum(r.get(k, 0) for k in stream_phases)
                for r in p["ops"] if stream_phases[1] in r)),
            "streaming.batches": med(lambda p: len(p["batch_s"])),
            "streaming.batch_s_p50": med(
                lambda p: statistics.median(p["batch_s"]) if p["batch_s"] else 0.0),
            "streaming.state_rows": med(lambda p: p["state_rows"]),
            "bench.trace_overhead": statistics.median(p["pass_s"] for p in traced)
            / statistics.median(p["pass_s"] for p in warm) - 1,
            "error_rate": len(self.failures) / self.attempted,
        })
        return m
