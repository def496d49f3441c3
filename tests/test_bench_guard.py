"""Unit-pin bench_guard's straggler classification and record bar
(pure Python, no Spark): the list that gates a record commit is
'stragglers' (median poisoned — the round-10 incident shape), not every
big within-run spread (structural first-repeat fixture costs are
'spready_ok'); entries with no committed reference are 'spready_new'
(visibly unvetted — round-11 advice); and with --record, ANY 3x outlier
or straggler fails the run (round-11 verdict: the spread rule cannot
see a disturbance covering all three repeats uniformly)."""

import importlib.util
import json
import os

import pytest


def _guard():
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "bench_guard", os.path.join(repo_root, "tools", "bench_guard.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_classify_spreads_partitions_poisoned_from_benign():
    g = _guard()
    spreads = {
        # the round-10 incident shape: spread huge AND median 10x ref
        "poisoned": 33.0,
        # structural fixture spread: big spread, healthy median
        "benign_fixture": 3.8,
        # spread below the 2s floor: not flagged at all
        "quiet": 1.5,
        # spread > 2s but NOT > its own median: not flagged
        "long_query": 5.0,
        # new query with no ref row: flagged, UNVETTED (spready_new)
        "new_query": 4.0,
    }
    new = {
        "poisoned": 12.97,
        "benign_fixture": 0.68,
        "quiet": 0.4,
        "long_query": 8.0,
        "new_query": 2.0,
    }
    ref = {
        "poisoned": 1.2,
        "benign_fixture": 0.66,
        "quiet": 0.4,
        "long_query": 7.5,
    }
    stragglers, spready_ok, spready_new = g.classify_spreads(
        spreads, new, ref)
    assert [r[1] for r in stragglers] == ["poisoned"]
    assert [r[1] for r in spready_ok] == ["benign_fixture"]
    # round-11 advice: a first-record-run spread entry must be visibly
    # unvetted, not silently routed into the benign list
    assert [r[1] for r in spready_new] == ["new_query"]


def test_classify_spreads_poison_needs_absolute_delta():
    g = _guard()
    # 2x the ref but only 0.4s absolute: short-query noise, not poison
    stragglers, spready_ok, spready_new = g.classify_spreads(
        {"short": 2.5}, {"short": 0.8}, {"short": 0.35})
    assert stragglers == []
    assert [r[1] for r in spready_ok] == ["short"]
    assert spready_new == []


def test_classify_spreads_none_means_unmeasured():
    g = _guard()
    stragglers, spready_ok, spready_new = g.classify_spreads(
        None, {"a": 1.0}, {"a": 1.0})
    assert stragglers == [] and spready_ok == [] and spready_new == []


def test_record_bar_fails_on_any_outlier():
    g = _guard()
    # the round-11 incident: 2 uniform-elevation outliers, 0 stragglers
    ok, reasons = g.record_bar(2, 0)
    assert not ok and any("outlier" in r for r in reasons)


def test_record_bar_fails_on_any_straggler_or_missing_spreads():
    g = _guard()
    ok, reasons = g.record_bar(0, 1)
    assert not ok and any("straggler" in r for r in reasons)
    # a record candidate without spreads is not auditable
    ok, reasons = g.record_bar(0, None)
    assert not ok and any("spreads" in r for r in reasons)


def test_record_bar_passes_clean():
    g = _guard()
    ok, reasons = g.record_bar(0, 0)
    assert ok and reasons == []


# ---- round-13 pins: record/ledger split, two-sided drift, folded ----
# ---- record-bar rules, median+spread splicing, stable anchor     ----


def _splicer():
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "splice_record", os.path.join(repo_root, "tools", "splice_record.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_drift_excessive_is_two_sided():
    """Round-12 advice: drift 0.08 (disturbed START, the r12 record's
    own shape) must flag exactly like drift 1.6 (degrading end)."""
    g = _guard()
    assert g.drift_excessive(0.08)
    assert g.drift_excessive(1.6)
    assert not g.drift_excessive(1.2)
    assert not g.drift_excessive(0.8)
    assert not g.drift_excessive(None)  # no anchor data != drift


def test_record_bar_fails_on_median_ratio_above_ceiling():
    """The anti-ratchet rule (VERDICT r12 item 1): a diffusely-elevated
    run (median 1.3, zero point outliers) can never become the record."""
    g = _guard()
    ok, reasons = g.record_bar(0, 0, median_ratio=1.3)
    assert not ok and any("anti-ratchet" in r for r in reasons)
    ok, reasons = g.record_bar(0, 0, median_ratio=1.04)
    assert ok and reasons == []


def test_record_bar_fails_on_anchor_drift_either_direction():
    g = _guard()
    ok, reasons = g.record_bar(0, 0, drift_ratio=0.08)
    assert not ok and any("drift" in r for r in reasons)
    ok, reasons = g.record_bar(0, 0, drift_ratio=2.1)
    assert not ok and any("drift" in r for r in reasons)
    ok, _ = g.record_bar(0, 0, drift_ratio=1.1)
    assert ok


def test_record_bar_fails_on_unvetted_spready_new():
    """Round-12 advice: a new query's first spread-flagged median must
    be probed in isolation before the run can become the reference."""
    g = _guard()
    ok, reasons = g.record_bar(0, 0, n_spready_new=1)
    assert not ok and any("unvetted" in r for r in reasons)


def test_record_bar_reports_every_failed_rule():
    """Round-12 advice: one overwritten verdict lost the stronger
    signal — the bar must return the FULL list of failed rules."""
    g = _guard()
    ok, reasons = g.record_bar(
        2, 1, median_ratio=1.3, drift_ratio=0.05, n_spready_new=2)
    assert not ok and len(reasons) == 5


def test_committed_record_falls_back_for_pre_split_revisions(tmp_path, monkeypatch):
    """Revisions predating the round-13 record/ledger split have no
    BENCH_record.json; the reader must fall back to that revision's
    BENCH_full_latest.json (the two were the same object then). The
    revision is a commit of a throw-away repository, so the test needs
    none of this checkout's history."""
    import subprocess

    g = _guard()
    record = {"queries": {"q_star": 0.52, "q_tpch": 1.7}, "value": 2.22}
    (tmp_path / "BENCH_full_latest.json").write_text(json.dumps(record))
    git = ["git", "-C", str(tmp_path), "-c", "user.name=t", "-c", "user.email=t@t",
           "-c", "commit.gpgsign=false"]
    subprocess.run(git + ["init", "-q"], check=True)
    subprocess.run(git + ["add", "BENCH_full_latest.json"], check=True)
    subprocess.run(git + ["commit", "-q", "-m", "pre-split record"], check=True)
    rev = subprocess.run(git + ["rev-parse", "--short", "HEAD"], check=True,
                         capture_output=True, text=True).stdout.strip()
    monkeypatch.setattr(g, "_repo_root", lambda: str(tmp_path))
    ref, source = g.committed_record(rev)
    assert source == "BENCH_full_latest.json"
    assert ref == record


def test_splice_replaces_median_and_spread_as_a_unit():
    """Round-12 advice: the r12 splice replaced medians but retained
    the rejected run's spreads, leaving mixed-provenance rows that
    classify_spreads would flag against themselves."""
    sp = _splicer()
    candidate = {
        "queries": {"q_poisoned": 12.97, "q_fine": 0.5},
        "spreads": {"q_poisoned": 33.0, "q_fine": 0.1},
        "value": 13.47,
    }
    probe = {"query": "q_poisoned", "median": 1.2, "spread": 0.3,
             "runs": [1.1, 1.2, 1.4], "anchor_sec": 0.9}
    out = sp.splice(candidate, [probe])
    assert out["queries"]["q_poisoned"] == 1.2
    assert out["spreads"]["q_poisoned"] == 0.3  # spread spliced too
    audit = out["spliced"]["q_poisoned"]
    assert audit["rejected_median"] == 12.97
    assert audit["rejected_spread"] == 33.0
    assert audit["probe_runs"] == [1.1, 1.2, 1.4]
    # untouched entries keep their values; original dict not mutated
    assert out["queries"]["q_fine"] == 0.5
    assert candidate["queries"]["q_poisoned"] == 12.97


def test_splice_allow_new_adds_post_seed_names():
    """Round 13: BENCH_record.json was seeded from f97ff0a, which
    predates the r12/r13 wave queries — those names have no row to
    replace. A plain splice must refuse them (missing name = typo for
    a full-run candidate); --allow-new ADDS them with an audit row
    marking the addition, so the record covers every registry name."""
    import pytest

    sp = _splicer()
    candidate = {"queries": {"q_old": 1.0}, "spreads": {"q_old": 0.2}}
    probe = {"query": "q_new_wave", "median": 2.1, "spread": 0.4,
             "runs": [2.5, 2.1, 2.0], "anchor_sec": 0.8}
    with pytest.raises(SystemExit):
        sp.splice(candidate, [probe])  # default: still an error
    out = sp.splice(candidate, [probe], allow_new=True)
    assert out["queries"]["q_new_wave"] == 2.1
    assert out["spreads"]["q_new_wave"] == 0.4
    audit = out["spliced"]["q_new_wave"]
    assert audit["added"] is True
    assert audit["rejected_median"] is None
    assert out["queries"]["q_old"] == 1.0


def test_stable_anchor_discards_unstable_prefix(monkeypatch):
    """Round-12 advice: a single warm pass does not reach steady state
    (r12 record: 10.91 s first vs 0.873 s last). The stable sampler
    must keep sampling until two consecutive timings agree and return
    the first steady-state reading, keeping every sample for audit."""
    import bench

    seq = iter([10.91, 2.3, 0.95, 0.87, 0.9])
    monkeypatch.setattr(bench, "_time_anchor", lambda spark: next(seq))
    value, samples = bench._stable_anchor(None)
    assert value == 0.87  # second of the first agreeing pair
    assert samples == [10.91, 2.3, 0.95, 0.87]


def test_stable_anchor_gives_up_after_max_tries(monkeypatch):
    import bench

    seq = iter([10.0, 5.0, 2.5, 1.2, 0.6, 0.55])
    monkeypatch.setattr(bench, "_time_anchor", lambda spark: next(seq))
    value, samples = bench._stable_anchor(None, max_tries=5)
    assert len(samples) == 5
    assert value == samples[-1]


def test_anchor_workload_is_not_a_registry_query():
    """Round-12 advice: the anchor must be DEDICATED — a registry query
    used as the anchor gets unmeasured pre-warm executions that bias
    its in-bucket median vs siblings measured cold."""
    import bench
    from udacitydatawarehouseprj_spark import queries as Q

    assert bench.ANCHOR_NAME not in Q.REGISTRY
    assert bench.ANCHOR_NAME not in bench.run_order()



@pytest.mark.parametrize("same_run", [True, False])
def test_side_file_recovery_is_reported(monkeypatch, tmp_path, capsys,
                                        same_run):
    """The stdout-line report lacks spreads/anchor; they come from the
    side file only when it records the same run. A side file from another
    run is reported on stderr and in the report, not a silent null."""
    g = _guard()
    new = {"value": 2.0, "queries": {"a": 1.0, "b": 1.0}}
    side = dict(new, spreads={"a": 0.0, "b": 0.0},
                anchor={"drift_ratio": 1.0}, shared_builds={"k": 1.0})
    if not same_run:
        side["queries"] = {"a": 9.0}
    (tmp_path / g.LATEST_FILE).write_text(json.dumps(side))
    (tmp_path / "new.json").write_text(json.dumps(new))
    monkeypatch.setattr(g, "_repo_root", lambda: str(tmp_path))
    monkeypatch.setattr(g, "committed_record", lambda rev: (dict(new), "ref"))
    monkeypatch.setattr("sys.argv", ["bench_guard", str(tmp_path / "new.json")])
    g.main()
    out, err = capsys.readouterr()
    report = json.loads(out)
    assert report["recovered_from_side_file"] is same_run
    assert report["anchor"] == (side["anchor"] if same_run else None)
    assert ("records a different run" in err) is not same_run


def test_report_at_another_scale_is_refused(monkeypatch, tmp_path, capsys):
    """A report taken at sf0.01 reads as a fast run against the sf0.1
    record; the guard refuses it instead of calling it CLEAN."""
    g = _guard()
    ref = {"value": 20.0, "sf": 0.1, "queries": {"a": 10.0, "b": 10.0}}
    new = dict(ref, value=2.0, sf=0.01, queries={"a": 1.0, "b": 1.0})
    (tmp_path / "new.json").write_text(json.dumps(new))
    monkeypatch.setattr(g, "_repo_root", lambda: str(tmp_path))
    monkeypatch.setattr(g, "committed_record", lambda rev: (ref, "ref"))
    monkeypatch.setattr("sys.argv", ["bench_guard", str(tmp_path / "new.json")])
    assert g.main() == 1
    out, err = capsys.readouterr()
    assert out == ""
    assert "sf 0.01" in err and "sf 0.1" in err
    monkeypatch.setattr(g, "committed_record",
                        lambda rev: (dict(ref, sf=0.01), "ref"))
    assert g.main() == 0
