"""Benchmark of the warehouse engine: one workload, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run generates its inputs from the
seed under ``.perfbench/`` in the checkout, builds the engine's session on
``local[nproc]``, runs one cold pass whose outputs are checked, two
untimed settle passes, then about ``--seconds`` of warm passes
(``--seconds`` over the workload's nominal warm pass time, so the count is
the same on every run). With ``--trace 0`` it reports the end-to-end
metrics; with ``--trace 1`` it alternates untraced and traced warm passes
and reports the per-layer metrics, writing the spans and each layer's self
time next to the report. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 0 only
when every operation ran and returned the right output.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "udacitydatawarehouseprj_spark"
REQUIRED = (os.path.join(PACKAGE, "__init__.py"), os.path.join("tools", "parity.py"))


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both; the
    JVM's Python workers exit with it."""
    from pyspark import SparkContext

    import spans

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # still running: stop it hard
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while spans.children_by_parent().get(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)


def isolate(work: str) -> int:
    """Keep what a run writes under ``work``, make the engine importable
    here and in Spark's Python workers (they inherit PYTHONPATH, not this
    process's sys.path), and size ``local[N]`` to the usable cpus, which
    it returns."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the JVM's own temp files (native libraries it unpacks, perf data)
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-XX:-UsePerfData"]
        + [os.environ.get("JAVA_TOOL_OPTIONS", "")]).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    return cpus


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources missing from {ROOT}: {missing}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    cpus = isolate(work)
    os.chdir(ROOT)

    import pyspark

    import runner
    import stats
    import spans as tr
    import workloads

    spec = _load_spec()
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    workload = workloads.WORKLOADS[args.workload]()
    run = runner.Run(workload, args.seed, args.seconds, traced=bool(args.trace))
    clock = [("start", time.perf_counter())]
    try:
        workload.prepare(work, args.seed)
        clock.append(("inputs", time.perf_counter()))
        run.setup()
        clock.append(("setup", time.perf_counter()))
        try:
            run.execute()
            clock.append(("passes", time.perf_counter()))
        finally:
            stop_spark(run.spark)
            clock.append(("teardown", time.perf_counter()))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = run.per_layer() if args.trace else run.end_to_end()
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    host = stats.host_block(ROOT, PACKAGE, cpus, pyspark.__version__, workload.scale, args.seed)
    warm_latencies = [x for p in run.passes if p["kind"] == "warm" for x in p["latencies"]]
    tail = stats.highest_supported_percentile(warm_latencies)
    report = {
        "workload": args.workload,
        "host": host,
        "seconds": args.seconds,
        "trace": args.trace,
        "metrics": metrics,
        "latency_samples": len(warm_latencies),
        "latency_tail": {"percentile": tail[0], "s": tail[1]} if tail else None,
        "attempted": run.attempted,
        "failures": run.failures,
        "rejected_confs": run.rejected,
        "wall_s": {b[0]: b[1] - a[1] for a, b in zip(clock, clock[1:])},
        "passes": [{"kind": p["kind"], "pass_s": p["pass_s"], "cpu_s": p["cpu_s"],
                    "ops": {r["op"]: r.get("latency_s") for r in p["ops"]}}
                   for p in run.passes],
    }
    out_dir = os.path.join(ROOT, ".perfbench", "reports")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(report, f, indent=1)
    if args.trace:
        with open(stem + "-spans.json", "w") as f:
            json.dump({"spans": run.tracer.spans,
                       "self_s": tr.self_times(run.tracer.spans),
                       "layer_self_s": tr.layer_self_times(run.tracer.spans)}, f)

    print(f"host: {json.dumps(host)}")
    print(f"{args.workload}: {len(run.passes)} passes, {run.attempted} operations, "
          f"{len(run.failures)} failed, error_rate {len(run.failures) / run.attempted:.4f}")
    print(f"latency: {len(warm_latencies)} warm samples; highest percentile with ten "
          "beyond: " + (f"p{tail[0]} = {tail[1]:.4f} s" if tail else "none"))
    print(f"rejected runtime confs: {run.rejected or 'none'}")
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    for failure in run.failures:
        print(f"FAILED {failure}")
    print(f"report: {stem}.json")
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }))
    return 0 if not run.failures else 1


if __name__ == "__main__":
    sys.exit(main())
