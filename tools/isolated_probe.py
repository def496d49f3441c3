"""Isolated-session single-query probe — the measurement primitive the
record-splice discipline (tools/bench_guard.py --record) and the sf100
ledger (SCALE.md) both use: ONE query, ONE fresh process, bench-style
warmup, N back-to-back repeats, one JSON line.

Why a separate process per query: round 10 found a shared tier session
contaminates successors (a released-late shared cache pushed an
unrelated query from ~2 s to 34–51 s in the same JVM), and round 11
found record medians poisoned by box state covering all three in-run
repeats. The honest re-measurement for a flagged median is a fresh
quiesced process, which this script is.

Usage:
  python tools/isolated_probe.py QUERY [SF_DIR] [REPEATS]
  # defaults: SF_DIR=/root/testdata/sf0.1, REPEATS=3

Output: {"query": ..., "sf_dir": ..., "runs": [...], "shared_builds": {...},
         "median": ..., "spread": ..., "anchor_sec": ...}
Runs are timed as bench.py times them (``bench.time_query``, sorted): a
query that records harness phases runs once, and each session-shared
cache is built and timed on its own (``S.TIME_SHARED_BUILDS``), so its
seconds land in ``shared_builds`` rather than hiding in one repeat.
The anchor (bench._anchor_workload — the dedicated synthetic shuffle
anchor — timed once after warmup AND one unmeasured warm pass, so it
samples the same steady-state quantity bench.py samples) records the
session floor so the probe itself is auditable against box state.
Splice probe outputs into a record candidate with
tools/splice_record.py (median AND spread as a unit).
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from udacitydatawarehouseprj_spark import queries as Q  # noqa: E402
from udacitydatawarehouseprj_spark import session as S  # noqa: E402


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    repeats = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    spark = S.get_spark("isolated-probe")
    spark.sparkContext.setLogLevel("ERROR")
    S.TIME_SHARED_BUILDS = True
    registry = Q.queries()

    bench.warmup(spark, sf_dir)
    # One unmeasured anchor pass first (round-12 advice: bench.py
    # discards the anchor's compile cost before sampling; the probe
    # must sample the same steady-state quantity or cross-tool floor
    # comparisons like SCALE.md's are apples-to-oranges).
    bench._time_anchor(spark)
    anchor_sec = bench._time_anchor(spark)

    runs, _ = bench.time_query(spark, name, registry[name], sf_dir, repeats)
    runs = [round(t, 3) for t in runs]
    print(json.dumps({
        "query": name,
        "sf_dir": sf_dir,
        "runs": runs,
        "shared_builds": dict(S.SHARED_BUILD_SECONDS),
        "median": round(statistics.median(runs), 3),
        "spread": round(runs[-1] - runs[0], 3),
        "anchor_sec": anchor_sec,
    }))


if __name__ == "__main__":
    main()
