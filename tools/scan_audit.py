"""Registry-wide duplicate-scan audit — the guardrail the round-13
learned-weights defect motivated.

That defect: a separate ``.agg`` training branch cross-joined back onto
its own source recomputed the whole BM25 + tokenize front-half (Spark
performs no common-subexpression reuse across DataFrame branches) —
2x the corpus scan at 100 TB, found only because sf10 timings were 10 s
above the fixed-weight twin. This audit makes that class of regression
visible STATICALLY: it builds every registry query's executed plan
(driver-side only, no jobs run) and counts how many times each source
parquet appears as a FileScan.

The counts are a RATCHET, not an absolute bar: many multi-scan shapes
are deliberate —

* unrolled oracle-exact iteration twins (pagerank, power_iteration,
  capture-recapture) re-reference their source per round and are
  priced-in verification tiers with cheaper production twins;
* the BM25 family's df/tf/avgdl scans each push a term filter into
  parquet, so N pruned scans beat 1 full scan + branch recompute;
* session-cached relations (minhash shingles) collapse at runtime but
  plan as FileScans before materialization;
* AQE ReusedExchange dedups identical subtrees at runtime, which a
  static count cannot see.

So the committed baseline (``SCAN_BASELINE.json``) records today's
count per (query, table), and the tests
(tests/test_plan_quality.py::test_scan_ratchet_logic and
::test_production_flagships_hold_scan_baseline) fail
only when a query's count INCREASES — the learned-weights shape: a
refactor that quietly adds another pass over a source. Decreases are
improvements; run this tool with --rebaseline to lock them in.

Usage:
  python tools/scan_audit.py               # print queries whose count
                                           # increased vs the baseline
  python tools/scan_audit.py --rebaseline  # rewrite SCAN_BASELINE.json
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASELINE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "SCAN_BASELINE.json",
)
#: plans are shape-stable at any sf; sf0.01 keeps plan building fast
SF_DIR = "/root/testdata/sf0.01"


def strip_cached_subtrees(plan: str) -> str:
    """Drop every InMemoryRelation subtree from a plan-tree string.

    A cached relation's build plan is printed inline under each consumer
    (and HOW it prints depends on session state: materialized vs pending,
    AQE final-vs-initial plan echoing), so counting raw text made the
    per-query counts flap across sessions — the committed baseline and a
    later identical-code sweep disagreed 3-4x on every shared-cache
    consumer. The cached build executes once per session and its scans
    are not the consumer's own passes; the ratchet's target (a refactor
    adding an UNCACHED duplicate branch — the learned-weights defect)
    shows up in the consumer's own subtree, which is what's left after
    the cut."""
    out_lines = []
    cut_col = None
    for line in plan.splitlines():
        col = len(line) - len(line.lstrip(" :+-"))
        if cut_col is not None:
            if col > cut_col:
                continue
            cut_col = None
        if "InMemoryRelation" in line:
            cut_col = col
            continue
        out_lines.append(line)
    return "\n".join(out_lines)


def collect_counts(spark, registry=None) -> dict[str, dict[str, int]]:
    """Build every registry plan (no execution) and count FileScan
    references per source parquet — the query's OWN scans only (cached
    subtrees stripped, see strip_cached_subtrees)."""
    from udacitydatawarehouseprj_spark import queries as Q

    registry = registry or Q.queries()
    out: dict[str, dict[str, int]] = {}
    for name, fn in sorted(registry.items()):
        df = fn(spark, SF_DIR)
        plan = strip_cached_subtrees(
            df._jdf.queryExecution().executedPlan().toString()
        )
        counts: dict[str, int] = {}
        for m in re.finditer(r"(\w+)\.parquet", plan):
            counts[m.group(1)] = counts.get(m.group(1), 0) + 1
        out[name] = counts
    return out


def regressions(counts: dict, baseline: dict) -> list[tuple[str, str, int, int]]:
    """(query, table, baseline_count, new_count) rows where the scan
    count increased vs the baseline. New queries (no baseline row) are
    NOT regressions — they get a row at the next --rebaseline."""
    rows = []
    for name, tables in counts.items():
        base = baseline.get(name)
        if base is None:
            continue
        for table, n in tables.items():
            b = base.get(table, 0)
            if n > b:
                rows.append((name, table, b, n))
    return sorted(rows)


def main() -> int:
    from udacitydatawarehouseprj_spark import session as S

    spark = S.get_spark("scan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    counts = collect_counts(spark)
    if "--rebaseline" in sys.argv:
        with open(BASELINE, "w", encoding="utf-8") as fh:
            json.dump(counts, fh, indent=1, sort_keys=True)
        print(json.dumps({"rebaselined": len(counts)}))
        return 0
    baseline = json.load(open(BASELINE))
    regs = regressions(counts, baseline)
    for name, table, b, n in regs:
        print(f"RATCHET {name}: {table} scans {b} -> {n}")
    print(json.dumps({"queries": len(counts), "regressions": len(regs)}))
    return 1 if regs else 0


if __name__ == "__main__":
    raise SystemExit(main())
