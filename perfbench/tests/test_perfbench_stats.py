import json

import pytest

import compare
import stats


def test_percentile_needs_ten_samples_beyond():
    samples = [float(i) for i in range(1, 21)]
    # p90 has only two samples above it; the median has ten
    assert stats.highest_supported_percentile(samples) == (50, 10.0)


def test_percentile_picks_the_highest_supported():
    samples = [float(i) for i in range(100, 0, -1)]
    # p95 has five samples above it, p90 exactly ten
    assert stats.highest_supported_percentile(samples) == (90, 90.0)


def test_percentile_ties_are_not_beyond():
    assert stats.highest_supported_percentile([1.0] * 15 + [2.0] * 9) is None
    assert stats.highest_supported_percentile([1.0] * 30) is None
    assert stats.highest_supported_percentile([]) is None


def test_quartile_spread_is_relative_to_the_median():
    assert stats.quartile_spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx(1.0)
    assert stats.quartile_spread([10.0] * 10) == 0.0


def _report(**host):
    base = {"cpus": 4, "spark": "4.1.2", "python": "3.11.7", "java": "17",
            "git_sha": "a", "sf": "sf0.01", "seed": 1}
    base.update(host)
    return {"workload": "w", "host": base,
            "metrics": {"pass_s": {"value": 2.0, "unit": "s"}}}


def test_reports_of_two_commits_compare():
    stats.check_comparable(_report(), _report(git_sha="b"))


@pytest.mark.parametrize("field,value", [
    ("cpus", 32), ("spark", "3.5.1"), ("python", "3.12.0"), ("java", "21"),
    ("sf", "sf0.1"), ("seed", 2),
])
def test_reports_with_different_hosts_are_refused(field, value):
    with pytest.raises(stats.IncomparableReports, match=field):
        stats.check_comparable(_report(), _report(**{field: value}))


def test_report_without_host_is_refused():
    with pytest.raises(stats.IncomparableReports, match="no host"):
        stats.check_comparable({"workload": "w"}, _report())


def test_compare_refuses_with_the_reason(tmp_path, capsys):
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    a.write_text(json.dumps(_report()))
    b.write_text(json.dumps(_report(cpus=32)))
    assert compare.main([str(a), str(b)]) == 2
    assert "cpus: 4 != 32" in capsys.readouterr().err


def test_compare_prints_ratios(tmp_path, capsys):
    a, b = tmp_path / "a.json", tmp_path / "b.json"
    a.write_text(json.dumps(_report()))
    new = _report(git_sha="b")
    new["metrics"]["pass_s"]["value"] = 3.0
    b.write_text(json.dumps(new))
    assert compare.main([str(a), str(b)]) == 0
    assert "pass_s: 2 -> 3 s (1.500x)" in capsys.readouterr().out
