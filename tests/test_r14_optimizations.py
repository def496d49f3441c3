"""Round-14 optimization pins: bench stdout-line size (driver-capture
contract) and shared-build visibility."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import bench  # noqa: E402
import bench_guard  # noqa: E402
from udacitydatawarehouseprj_spark import session as S  # noqa: E402


def _worst_case_reports():
    timings = {n: 9999.999 for n in bench.run_order()}
    return bench.build_reports(
        timings,
        {n: 99.999 for n in timings},
        {"streaming_hourly_sink_readback": {"stream_run": 9.9}},
        {"k" * 60: 99.9},
        {"name": bench.ANCHOR_NAME, "first_sec": 1.0, "last_sec": 1.0,
         "warm_samples": [1.0], "drift_ratio": 1.0},
        3,
        "0.1",
    )


def test_bench_stdout_line_fits_driver_capture():
    """VERDICT r13 item 2: the r10-r12 driver benches all have
    parsed:null — the stdout line outgrew the driver's output capture.
    r13's line (14,771 bytes, reconstructed from its parsed block) DID
    parse, so that length is a demonstrated-safe ceiling; pin the new
    line comfortably under it even with every timing at its widest
    (9999.999). The queries map itself (409 names, ~12.3 KB compact) is
    the irreducible floor — the contract forbids removing entries."""
    report, _full = _worst_case_reports()
    line = bench.stdout_line(report)
    assert "\n" not in line
    assert len(line) <= 14500, len(line)
    json.loads(line)  # stays valid JSON


def test_bench_stdout_line_omits_bulky_blocks():
    """phases/anchor/spreads/shared_builds live ONLY in the committed
    full report; the stdout line carries queries + totals."""
    report, full = _worst_case_reports()
    for bulky in ("phases", "anchor", "spreads", "shared_builds"):
        assert bulky not in report, bulky
        assert bulky in full, bulky
    # contract fields the driver parses
    for required in ("metric", "value", "unit", "queries", "sf"):
        assert required in report, required


def test_shared_build_regression_rule():
    """VERDICT r13 item 6: a shared build's cost is excluded from every
    median, so bench_guard compares the shared_builds blocks directly
    (>2x with >0.5 s absolute flags)."""
    ref = {"a": 1.0, "b": 0.1, "c": 2.0}
    # a: 3x and +2.0s -> flagged; b: 5x but +0.4s -> not; c: 1.5x -> not
    new = {"a": 3.0, "b": 0.5, "c": 3.0, "d": 9.9}
    out = bench_guard.classify_shared_builds(new, ref)
    assert [(r[1]) for r in out] == ["a"]
    assert out[0] == (3.0, "a", 1.0, 3.0)
    # either side missing the block -> no comparison, no crash
    assert bench_guard.classify_shared_builds(None, ref) == []
    assert bench_guard.classify_shared_builds(new, {}) == []
    ok, reasons = bench_guard.record_bar(0, 0, n_build_regressions=1)
    assert not ok and any("shared-build" in r for r in reasons)


def test_shared_build_timing_flag(spark, sf_dir):
    """TIME_SHARED_BUILDS=True materializes + records each build once;
    default (False) keeps builds lazy with no timing entries."""
    from pyspark.sql import functions as F

    S.release_shared_caches()
    assert S.SHARED_BUILD_SECONDS == {}
    built = []

    def build():
        built.append(1)
        return spark.range(10).select(F.col("id").alias("n"))

    df = S.shared_cache("r14-test-key", build)
    assert built == [1]
    assert "r14-test-key" not in S.SHARED_BUILD_SECONDS  # lazy by default
    S.release_shared_caches()

    S.TIME_SHARED_BUILDS = True
    try:
        df = S.shared_cache("r14-test-key", build)
        assert S.SHARED_BUILD_SECONDS.get("r14-test-key", -1) >= 0
        assert df.count() == 10
        # second consumer reuses the entry; no second build/timing
        t_first = S.SHARED_BUILD_SECONDS["r14-test-key"]
        S.shared_cache("r14-test-key", build)
        assert built == [1, 1]  # build ran exactly twice overall
        assert S.SHARED_BUILD_SECONDS["r14-test-key"] == t_first
    finally:
        S.TIME_SHARED_BUILDS = False
        S.release_shared_caches()
    assert S.SHARED_BUILD_SECONDS == {}  # teardown clears the block


@pytest.mark.parametrize("phases,builds,n_runs", [
    (None, False, 3),                # an ordinary query: `repeats` runs
    ({"stream_run": 1.0}, False, 1),  # records harness phases: one run
    ({"stream_run": 1.0}, True, None),  # ...that built a shared cache
])
def test_time_query_works_out_single_run_queries(monkeypatch, phases,
                                                 builds, n_runs):
    """bench runs a query once when its first run records harness phases,
    and refuses such a run if it absorbed a shared-cache build."""
    monkeypatch.setattr(bench, "run_one", lambda df: None)
    monkeypatch.setattr(bench.Q, "PHASE_TIMINGS", {})
    monkeypatch.setattr(S, "SHARED_BUILD_SECONDS", {})
    calls = []

    def query(spark, sf_dir):
        calls.append(sf_dir)
        if phases:
            bench.Q.PHASE_TIMINGS["q"] = dict(phases)
        if builds:
            S.SHARED_BUILD_SECONDS["k"] = 0.1

    if n_runs is None:
        with pytest.raises(RuntimeError, match="q runs once"):
            bench.time_query(None, "q", query, "sf", 3)
        return
    runs, ph = bench.time_query(None, "q", query, "sf", 3)
    assert (len(calls), len(runs), ph) == (n_runs, n_runs, phases)
