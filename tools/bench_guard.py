"""Bench contamination guard — validate a fresh bench report against
the committed RECORD before committing it.

Round-8 lesson: a full bench started on an apparently-idle box (0 java
processes) recorded headline 103 s vs the 25.5 s committed record —
median per-query ratio 1.19 with 5-10× outliers and huge min-max
spreads. A rerun 30 minutes later scored 27.9 s at median ratio 1.05.
Box-level contamination is not always visible in `ps`; the committed
record is the reliable reference.

Round-13 structural fix (VERDICT r12 "What's wrong" item 1 — the
guard-reference ratchet): the reference used to be
``BENCH_full_latest.json``, which the ROUND MACHINERY overwrites with
whatever the driver's latest run measured. Two noisy driver days in a
row silently inflated the reference by ~1.2-1.5×, ceding exactly that
much regression-detection headroom ("median ratio 1.017" vs an
already-poisoned reference). The guard reference is now a SEPARATE
file, ``BENCH_record.json`` at the repo root, with a one-way
promotion rule: it is only ever replaced by a run that passes the full
record bar below INCLUDING median-ratio ≤ 1.05 vs the CURRENT record
(``--record --promote``). Driver runs keep landing in
``BENCH_rNN.json`` / ``BENCH_full_latest.json`` as append-only
history; they are never the reference. For git revisions predating the
split, the reader falls back to that revision's
``BENCH_full_latest.json`` (the two files were the same object then).

Verdict rules (tuned to the repo's measured noise band, ±15%):
  CONTAMINATED if median per-query ratio > 1.15, or if more than 2%
  of queries regress > 3× (with >0.5 s absolute delta).
  Otherwise CLEAN.

Round-10 lesson (stragglers): a run can pass both verdict rules while
a mid-run host disturbance poisons a handful of entries — the round-10
record's first accepted run was CLEAN at median ratio 1.025 yet carried
4 entries whose min–max spread across the 3 repeats was 2.5–33 s
(disturbance longer than all three back-to-back repeats, so the median
couldn't mask it). The guard reports "stragglers": queries whose
within-run spread exceeds both 2 s and their own median AND whose
median is ALSO poisoned (> 2× the committed record with > 1 s absolute
delta). Spread-flagged entries with healthy medians are "spready_ok"
(structural first-repeat fixture costs — round-11 isolated A/B showed
these exist on every run, so an empty spread list is unreachable);
spread-flagged entries with NO committed reference are "spready_new"
(a brand-new query's first record run — visibly unvetted).

RECORD BAR (``--record``) — ALL rules must pass for a run to become
the new reference (round-12 advice: the bar used to check only
outliers/stragglers, so a candidate with median_ratio 1.3 but zero
outliers printed as if only outliers mattered):

  1. ZERO 3× outliers (any single one fails — the round-11 record
     carried 2 uniformly-elevated medians the >2% fraction rule let
     through);
  2. ZERO stragglers, and spreads must be PRESENT (a record carries
     its spreads);
  3. median ratio vs the current record ≤ 1.05 (the anti-ratchet rule:
     a diffusely-elevated run can never replace the reference, no
     matter how point-clean it is);
  4. anchor drift within 1.5× IN EITHER DIRECTION —
     ``max(d, 1/d) > 1.5`` fails (round-12 advice: the old one-sided
     ``d > 1.5`` test missed the r12 record's own disturbance, drift
     0.08 — a disturbed START is as disqualifying as a degrading end);
  5. ZERO spready_new entries — a new query's first spread-flagged
     median must be probed in isolation (tools/isolated_probe.py) and
     spliced (tools/splice_record.py) before the run can be the
     reference.

The discipline for a failed --record check: re-run each flagged query
in an ISOLATED session (fresh process, quiesced box,
tools/isolated_probe.py); if the re-run agrees with the prior record,
splice the honest value AND ITS SPREAD into the candidate
(tools/splice_record.py — round-12 advice: splicing the median while
retaining the rejected run's spread left mixed-provenance rows) before
committing; if it agrees with the candidate, the change is real —
accept it and say so in the commit message.

Both verdicts are always reported (round-12 advice: RECORD-BAR-FAIL
used to overwrite CONTAMINATED, losing the stronger signal):
``verdict`` is the contamination call, ``record_verdict`` /
``record_reasons`` the promotion call.

If the new report lacks "spreads" or "anchor", they and
"shared_builds" are recovered from ``BENCH_full_latest.json`` at the
REPO ROOT (resolved from this script's location, regardless of CWD)
when that file records the same run. Otherwise a warning goes to
stderr and the report says ``"recovered_from_side_file": false``.

Usage:
  python tools/bench_guard.py /tmp/bench_new.json            # vs HEAD
  python tools/bench_guard.py new.json --ref <git-rev>       # vs rev
  python tools/bench_guard.py new.json --record              # record bar
  python tools/bench_guard.py new.json --record --promote    # + write
      BENCH_record.json if (and only if) every record rule passes
Exit code 0 = clean (and record bar passed, if --record), 1 otherwise.
A report at a different scale factor (``sf``) than the reference is
refused with exit code 1 before any comparison.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

#: the guard reference file (repo root). Promotion-gated: only
#: --record --promote on a run passing ALL record rules writes it.
RECORD_FILE = "BENCH_record.json"
#: append-only side file bench.py writes every run (history, NOT the
#: reference).
LATEST_FILE = "BENCH_full_latest.json"

#: anti-ratchet promotion ceiling: a candidate whose median per-query
#: ratio vs the CURRENT record exceeds this can never become the record.
RECORD_MEDIAN_CEILING = 1.05
#: two-sided anchor-drift ceiling for a record candidate.
RECORD_DRIFT_CEILING = 1.5


def _repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def committed_record(rev: str) -> tuple[dict, str]:
    """The guard reference at ``rev``: ``BENCH_record.json``, falling
    back to ``BENCH_full_latest.json`` for revisions predating the
    round-13 record/ledger split. Returns (record, source_path)."""
    for path in (RECORD_FILE, LATEST_FILE):
        out = subprocess.run(
            ["git", "show", f"{rev}:{path}"],
            capture_output=True, text=True, cwd=_repo_root(),
        )
        if out.returncode == 0:
            return json.loads(out.stdout), path
    raise SystemExit(f"no committed record at {rev} "
                     f"(neither {RECORD_FILE} nor {LATEST_FILE})")


def classify_spreads(spreads, new_queries, ref_queries):
    """Partition spread-flagged queries (within-run spread > 2 s and >
    the query's own median) into ``stragglers`` — median ALSO poisoned
    (> 2× the committed record with > 1 s absolute delta, the round-10
    incident shape; must be EMPTY before a run becomes the record) —
    ``spready_ok`` — a slow repeat the median absorbed (structural
    first-repeat fixture costs land here) — and ``spready_new`` —
    no committed reference exists (a query's FIRST record run), so the
    median is UNVETTED: probe it in isolation before committing, it can
    never be auto-cleared (round-11 advice). Rows are
    (spread, name, new_median, ref_median), largest spread first."""
    stragglers = []
    spready_ok = []
    spready_new = []
    if spreads is None:
        return stragglers, spready_ok, spready_new
    for name, s in sorted(
        spreads.items(), key=lambda kv: kv[1], reverse=True
    ):
        q_med = new_queries.get(name, float("inf"))
        if not (s > 2.0 and s > q_med):
            continue
        rt = ref_queries.get(name)
        row = (round(s, 2), name, q_med, rt)
        if rt is None:
            spready_new.append(row)
        elif q_med > 2.0 * rt and q_med - rt > 1.0:
            stragglers.append(row)
        else:
            spready_ok.append(row)
    return stragglers, spready_ok, spready_new


def classify_shared_builds(new_builds, ref_builds):
    """Shared-build regression rule (VERDICT r13 item 6): build times
    are charged once per run and excluded from every median, so only
    this direct comparison can catch a build-pipeline regression.
    Returns [(ratio, key, ref_sec, new_sec), ...] for builds >2x the
    record with >0.5 s absolute delta; empty when either report
    predates the shared_builds block (no reference to compare)."""
    if not new_builds or not ref_builds:
        return []
    out = []
    for key, sec in new_builds.items():
        rt = ref_builds.get(key)
        if rt is None or rt <= 0:
            continue
        if sec > 2.0 * rt and sec - rt > 0.5:
            out.append((round(sec / rt, 1), key, rt, sec))
    return sorted(out, reverse=True)


def drift_excessive(drift_ratio, ceiling: float = RECORD_DRIFT_CEILING):
    """Two-sided anchor-drift test: True when the first/last anchor
    samples disagree by more than ``ceiling`` in EITHER direction
    (round-12 advice: drift 0.08 — a disturbed start — is as bad as
    drift 1.5+, a degrading end). None/0 drift → not excessive (no
    anchor data is reported separately by the record bar's spreads
    rule, not mis-flagged as drift)."""
    if not drift_ratio or drift_ratio <= 0:
        return False
    return max(drift_ratio, 1.0 / drift_ratio) > ceiling


def record_bar(n_outliers: int, n_stragglers, median_ratio=None,
               drift_ratio=None, n_spready_new: int = 0,
               n_build_regressions: int = 0):
    """The stricter bar a record-candidate must clear (--record).
    Returns (ok, reasons) — reasons is the FULL list of failed rules
    (round-12 advice: a single overwritten verdict lost the stronger
    signal). ``n_stragglers`` may be None (no spreads available) —
    that is a failure too: a record must carry its spreads."""
    reasons = []
    if n_outliers > 0:
        reasons.append(
            f"{n_outliers} outlier(s) >3x the committed record — re-run "
            "each in an isolated session; splice the honest value if the "
            "re-run agrees with the prior record")
    if n_stragglers is None:
        reasons.append("no spreads available — a record needs its spreads")
    elif n_stragglers > 0:
        reasons.append(f"{n_stragglers} straggler(s) with poisoned medians")
    if median_ratio is not None and median_ratio > RECORD_MEDIAN_CEILING:
        reasons.append(
            f"median ratio {median_ratio} > {RECORD_MEDIAN_CEILING} vs the "
            "current record — a diffusely-elevated run cannot become the "
            "reference (anti-ratchet rule)")
    if drift_excessive(drift_ratio):
        reasons.append(
            f"anchor drift {drift_ratio} outside [1/{RECORD_DRIFT_CEILING}, "
            f"{RECORD_DRIFT_CEILING}] — box state changed DURING the run")
    if n_spready_new > 0:
        reasons.append(
            f"{n_spready_new} unvetted new-query median(s) (spready_new) — "
            "probe each in isolation and splice before promoting")
    if n_build_regressions > 0:
        reasons.append(
            f"{n_build_regressions} shared-build regression(s) >2x the "
            "record — the build cost is invisible to every median; "
            "investigate the build pipeline before promoting")
    return not reasons, reasons


def recover_from_side_file(new) -> bool | None:
    """Fill the stdout-line report's missing spreads/anchor/shared_builds
    from the side file when it records the same run. Returns None when
    nothing was missing, else whether the blocks were recovered; a
    failure is also reported on stderr."""
    if new.get("spreads") is not None and new.get("anchor") is not None:
        return None
    try:
        with open(os.path.join(_repo_root(), LATEST_FILE),
                  encoding="utf-8") as fh:
            full = json.load(fh)
    except (OSError, ValueError) as exc:
        failure = str(exc)
    else:
        if full.get("queries") == new.get("queries"):
            for block in ("spreads", "anchor", "shared_builds"):
                if new.get(block) is None:
                    new[block] = full.get(block)
            return True
        failure = "it records a different run (its queries differ)"
    print(f"WARNING: spreads/anchor/shared_builds not recovered from "
          f"{LATEST_FILE}: {failure}", file=sys.stderr)
    return False


def main() -> int:
    args = sys.argv[1:]
    if not args:
        print(__doc__)
        return 2
    new = json.load(open(args[0]))
    rev = args[args.index("--ref") + 1] if "--ref" in args else "HEAD"
    record_mode = "--record" in args
    promote = "--promote" in args
    ref, ref_source = committed_record(rev)
    if new.get("sf") != ref.get("sf"):
        print(f"REFUSED: the report is at sf {new.get('sf')} but the "
              f"reference ({rev}:{ref_source}) is at sf {ref.get('sf')}; "
              "per-query times compare only at one scale factor",
              file=sys.stderr)
        return 1

    ratios = []
    outliers = []
    for name, t in new["queries"].items():
        rt = ref["queries"].get(name)
        if rt is None or rt <= 0.1:
            continue
        ratios.append(t / rt)
        if t / rt > 3.0 and t - rt > 0.5:
            outliers.append((round(t / rt, 1), name, rt, t))
    med = statistics.median(ratios)
    frac_out = len(outliers) / max(len(ratios), 1)
    verdict = "CLEAN"
    if med > 1.15 or frac_out > 0.02:
        verdict = "CONTAMINATED"

    recovered = recover_from_side_file(new)
    spreads = new.get("spreads")
    stragglers, spready_ok, spready_new = classify_spreads(
        spreads, new["queries"], ref["queries"]
    )

    anchor = new.get("anchor")
    drift = anchor.get("drift_ratio") if anchor else None
    # shared-build regression rule (VERDICT r13 item 6): a shared-cache
    # build's cost is excluded from every per-query median (it lands in
    # the first consumer's discarded first repeat), so a regression in a
    # BUILD would be invisible to the ratio rules — compare the report's
    # shared_builds block against the record's and flag >2x with >0.5 s
    # absolute. Skipped when either side predates the block.
    build_regressions = classify_shared_builds(
        new.get("shared_builds"), ref.get("shared_builds"))
    if record_mode:
        record_ok, record_reasons = record_bar(
            len(outliers),
            len(stragglers) if spreads is not None else None,
            median_ratio=round(med, 3),
            drift_ratio=drift,
            n_spready_new=len(spready_new),
            n_build_regressions=len(build_regressions),
        )
        record_verdict = "RECORD-OK" if record_ok else "RECORD-BAR-FAIL"
    else:
        record_ok, record_reasons, record_verdict = None, [], None

    promoted = False
    if record_mode and promote and record_ok and verdict == "CLEAN":
        with open(os.path.join(_repo_root(), RECORD_FILE), "w",
                  encoding="utf-8") as fh:
            json.dump(dict(new, spreads=spreads), fh, indent=1,
                      sort_keys=True)
        promoted = True

    print(json.dumps({
        "verdict": verdict,
        "record_verdict": record_verdict,
        "median_ratio": round(med, 3),
        "n_compared": len(ratios),
        "n_outliers_3x": len(outliers),
        "worst": sorted(outliers, reverse=True)[:8],
        "n_stragglers": len(stragglers) if spreads is not None else None,
        "stragglers": stragglers[:8],
        "n_spready_ok": len(spready_ok) if spreads is not None else None,
        "spready_ok": spready_ok[:8],
        "n_spready_new": len(spready_new) if spreads is not None else None,
        "spready_new": spready_new[:8],
        "anchor": anchor,
        "anchor_drift": drift,
        "recovered_from_side_file": recovered,
        "n_shared_build_regressions": len(build_regressions),
        "shared_build_regressions": build_regressions[:8],
        "record_mode": record_mode,
        "record_reasons": record_reasons,
        "promoted": promoted,
        "headline_new": new["value"],
        "headline_ref": ref["value"],
        "ref_rev": rev,
        "ref_source": ref_source,
    }))
    if drift_excessive(drift):
        print(f"WARNING: anchor drift {drift}x (two-sided) — box state "
              "changed during the run; bucket medians suspect",
              file=sys.stderr)
    ok = verdict == "CLEAN" and (record_ok is None or record_ok)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
