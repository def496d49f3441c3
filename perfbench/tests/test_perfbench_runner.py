import os
import random

import pytest

import runner
import spans
import workloads


def _pass(kind, **latencies):
    ops = [{"op": op, "latency_s": s, "cpu_s": 2 * s} for op, s in latencies.items()]
    return {"kind": kind, "pass_s": sum(latencies.values()),
            "cpu_s": sum(r["cpu_s"] for r in ops), "ops": ops}


def _run():
    run = runner.Run(workload=None, seed=1, seconds=1, traced=False)
    run.setup_s = 1.0
    run.passes = [
        _pass("first", a=9.0, b=9.0, c=9.0),
        _pass("settle", a=5.0, b=5.0, c=5.0),
        _pass("warm", a=0.1, b=1.0, c=2.0),
        _pass("warm", a=0.1, b=1.0, c=8.0),
        _pass("warm", a=0.1, b=9.0, c=9.0),
    ]
    return run


def test_end_to_end_counts_only_the_warm_passes():
    m = _run().end_to_end()
    assert m == {"setup_s": 1.0, "pass_cpu_s": pytest.approx(2 * 9.1)}


def test_latency_is_the_geometric_mean_of_per_operation_medians():
    latencies = _run().op_latencies()
    assert latencies == {"a": [0.1] * 3, "b": [1.0, 1.0, 9.0], "c": [2.0, 8.0, 9.0]}
    # per-op medians 0.1, 1.0, 8.0; the pooled median of the nine warm
    # samples would be c's fastest, 2.0
    assert runner.median_latency_geomean(latencies) == pytest.approx(0.8 ** (1 / 3))


def test_the_shared_cache_builder_runs_first_in_every_order():
    w = workloads.WarehouseWorkload()
    builder, reader = workloads.SHARED_PAIR
    rng = random.Random(7)
    for _ in range(50):
        order = w.arrange(rng.sample(w.ops, len(w.ops)))
        assert sorted(order) == sorted(w.ops)
        assert order.index(builder) < order.index(reader)


def test_process_tree_cpu_time_grows_with_work():
    before = spans.process_tree_cpu_s(os.getpid())
    sum(i * i for i in range(2_000_000))
    assert spans.process_tree_cpu_s(os.getpid()) > before >= 0


def test_jit_cpu_skips_retired_threads_and_counts_new_ones_whole():
    tick = os.sysconf("SC_CLK_TCK")
    before = {1: 100, 2: 50}
    after = {1: 130, 3: 20}  # thread 2 retired, thread 3 started
    assert spans.jit_cpu_s(before, after) == pytest.approx(50 / tick)


def test_no_jit_threads_outside_a_jvm():
    assert spans.jit_thread_ticks(os.getpid()) == {}
