"""Pin the driver-window policy (queries.WINDOW_PRIORITY).

The driver's correctness harness records only the first DRIVER_WINDOW
entries of ``queries()``; rounds 1-2 showed that accidental registration
order silently decides which operators get the hard oracle signal. These
tests make the ordering an explicit, reviewed policy:

* the window is exactly WINDOW_PRIORITY (no accidental inserts/drops);
* every window entry has a DuckDB oracle (no rows-only entry wastes a
  hard-signal slot);
* registry growth cannot push an entry out of the window unnoticed.
"""

from __future__ import annotations

from udacitydatawarehouseprj_spark import queries as Q


def test_window_is_explicit_and_full():
    names = list(Q.queries())
    assert len(Q.WINDOW_PRIORITY) == Q.DRIVER_WINDOW
    assert len(set(Q.WINDOW_PRIORITY)) == Q.DRIVER_WINDOW, "duplicates"
    assert names[: Q.DRIVER_WINDOW] == Q.WINDOW_PRIORITY


def test_window_entries_exist_and_are_oracled():
    """Every window slot carries the full rows+schema+hash signal,
    EXCEPT the explicit WINDOW_ROWS_ONLY_SLOTS allowlist (VERDICT r12
    item 6): rows-only-by-construction names whose ledger row was an
    r02 fossil get one slot each for a driver rows-only refresh. The
    allowlist must stay small and every member must genuinely lack an
    oracle (an oracled name parked there would WASTE the stronger
    signal)."""
    oracles = Q.oracle_sql()
    rows_only_ok = set(Q.WINDOW_ROWS_ONLY_SLOTS)
    assert len(rows_only_ok) <= 4, "rows-only freshness slots must stay scarce"
    for name in rows_only_ok:
        assert name not in oracles, (
            f"{name} is oracled — remove it from WINDOW_ROWS_ONLY_SLOTS "
            "so its slot carries the full signal"
        )
    for name in Q.WINDOW_PRIORITY:
        assert name in Q.REGISTRY, f"{name} not registered"
        assert name in oracles or name in rows_only_ok, (
            f"{name} has no oracle (rows-only) — a window slot must carry "
            "the full rows+schema+hash signal unless allowlisted in "
            "WINDOW_ROWS_ONLY_SLOTS"
        )


def test_ordering_preserves_every_registered_query():
    assert set(Q.queries()) == set(Q.REGISTRY)
    assert len(Q.queries()) == len(Q.REGISTRY)


def test_oracle_sql_order_matches_queries_order():
    qnames = [n for n in Q.queries() if Q.REGISTRY[n].oracle]
    assert list(Q.oracle_sql()) == qnames


def test_rotate_window_tool_proposes_valid_window(tmp_path, monkeypatch):
    """The rotation tool must output DRIVER_WINDOW oracled names with the
    flagship first and never-verified queries prioritized."""
    import json
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "tools/rotate_window.py"],
        capture_output=True, text=True, cwd=".",
    )
    assert out.returncode == 0, out.stderr[-500:]
    names = [
        line.split('"')[1]
        for line in out.stdout.splitlines()
        if line.strip().startswith('"')
    ]
    assert len(names) == Q.DRIVER_WINDOW
    assert names[0] == "flagship_hourly_activity"
    assert len(set(names)) == Q.DRIVER_WINDOW
    oracled = set(Q.oracle_sql())
    assert set(names) <= oracled
    # queries needing signal (never green, OR latest driver row red —
    # a regression must not rotate out on the strength of an old green)
    # come first; stable greens fill the tail.
    import glob
    latest_green, latest_seen = {}, {}
    for path in glob.glob("CORRECTNESS_r*.json"):
        rnd = int(path.split("_r")[1].split(".")[0])
        for n, row in json.load(open(path)).items():
            latest_seen[n] = max(latest_seen.get(n, 0), rnd)
            if (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            ):
                latest_green[n] = max(latest_green.get(n, 0), rnd)

    def needs_signal(n):
        return n not in latest_green or latest_seen.get(n, 0) > latest_green[n]

    head = [n for n in names[1:] if needs_signal(n)]
    tail = [n for n in names[1:] if not needs_signal(n)]
    assert names[1:] == head + tail


def test_queries_md_is_fresh(tmp_path):
    """QUERIES.md must match a fresh regeneration from the registry —
    docs cannot drift from code (the generator is the contract)."""
    import subprocess
    import sys

    committed = open("QUERIES.md").read()  # BEFORE regeneration
    out = subprocess.run(
        [sys.executable, "tools/gen_queries_md.py"],
        capture_output=True, text=True, cwd=".",
    )
    assert out.returncode == 0, out.stderr[-300:]
    regenerated = open("QUERIES.md").read()
    assert committed == regenerated, (
        "QUERIES.md is stale — rerun tools/gen_queries_md.py"
    )


def test_readme_counts_match_registry():
    from udacitydatawarehouseprj_spark import queries as Q

    n = len(Q.REGISTRY)
    n_oracle = sum(1 for s in Q.REGISTRY.values() if s.oracle)
    readme = open("README.md").read()
    assert f"{n} queries, {n_oracle} with DuckDB" in readme, (
        f"README out of date: registry has {n}/{n_oracle}"
    )


def test_registry_bench_completeness():
    """bench runs HEADLINE first, then every other registered query
    exactly once — the registry is the only list of queries."""
    import bench

    order = bench.run_order()
    assert order[:len(bench.HEADLINE)] == bench.HEADLINE
    assert sorted(order) == sorted(Q.REGISTRY)


def test_scale_smoke_rosters_resolve():
    """Every tools/scale_smoke.py roster name must be a registered
    query, and every SMOKE100 entry must read ONLY documents/embeddings
    (the sf100 tier generates no other table — a roster entry that
    loads e.g. lineitem would crash the third-decade run at measure
    time instead of test time). Static source check, no Spark."""
    import importlib.util
    import os
    import re

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "scale_smoke", os.path.join(repo_root, "tools", "scale_smoke.py"))
    sm = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sm)

    for roster in (sm.SMOKE, sm.SMOKE10, sm.SMOKE100):
        unknown = sorted(set(roster) - set(Q.REGISTRY))
        assert not unknown, f"roster name not registered: {unknown}"

    src = open(os.path.join(
        repo_root, "udacitydatawarehouseprj_spark", "queries.py")).read()
    # transitive one-hop: the table loads in the query body plus the
    # bodies of any _helper(spark, sf_dir) it calls. The def-pattern
    # tolerates a line break after "(" — a wrapped signature (e.g.
    # doremi_lm_loss_reweight) must still match or the assertion below
    # would pass vacuously on an empty set.
    def loads(fn_name, depth=0):
        m = re.search(
            rf"\ndef {fn_name}\(\s*spark[^)]*\).*?(?=\n@_register|\ndef |\Z)",
            src, re.S)
        if depth == 0:
            assert m, (
                f"source for {fn_name} not found by the def-pattern — "
                "the table-usage check would pass vacuously")
        if not m or depth > 2:
            return set()
        body = m.group(0)
        tables = set(re.findall(r'_t\(spark, sf_dir, "(\w+)"\)', body))
        tables |= set(
            re.findall(r'load_table\(spark, sf_dir, "(\w+)"\)', body))
        for helper in set(re.findall(r"(_[a-z_0-9]+)\(spark, sf_dir", body)):
            if helper != "_t":
                tables |= loads(helper, depth + 1)
        return tables

    for name in sm.SMOKE100:
        used = loads(name)
        assert used <= {"documents", "embeddings"}, (
            f"SMOKE100 entry {name} reads {used} — sf100 tier only has"
            " documents/embeddings"
        )
