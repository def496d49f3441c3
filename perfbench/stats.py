"""Summary statistics and the host block of a benchmark report."""

from __future__ import annotations

import hashlib
import os
import platform
import statistics
import subprocess

#: Fields of the host block that must match before two reports compare.
HOST_KEYS = ("cpus", "spark", "python", "java", "git_sha", "sf", "seed")


#: Percentiles a report may give, highest first.
PERCENTILES = (99, 95, 90, 75, 50)


def highest_supported_percentile(samples: list[float]) -> tuple[int, float] | None:
    """The highest of ``PERCENTILES`` with at least ten samples strictly
    above it, as ``(percentile, value)``; None when even the median has
    fewer than ten samples above it.

    The value is the nearest-rank percentile, so it is always one of the
    samples."""
    ordered = sorted(samples)
    n = len(ordered)
    for pct in PERCENTILES:
        if n == 0:
            break
        value = ordered[max(1, -(-pct * n // 100)) - 1]  # ceil(pct*n/100)-th
        if sum(1 for s in ordered if s > value) >= 10:
            return pct, value
    return None


def quartile_spread(values: list[float]) -> float:
    """Interquartile range as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def _java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True,
                             text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    lines = [x for x in (out.stderr + out.stdout).splitlines() if " version " in x]
    return lines[0].strip() if lines else "unknown"


def source_digest(root: str, package: str) -> str:
    """Git sha of the checkout, or a digest of the package sources when
    the checkout is not a git repository."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                             capture_output=True, text=True, timeout=30)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    h = hashlib.sha1()
    for dirpath, dirnames, filenames in os.walk(os.path.join(root, package)):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(f for f in filenames if f.endswith(".py")):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return "src:" + h.hexdigest()


def host_block(root: str, package: str, cpus: int, spark_version: str,
               sf: str, seed: int) -> dict:
    return {
        "cpus": cpus,
        "spark": spark_version,
        "python": platform.python_version(),
        "java": _java_version(),
        "git_sha": source_digest(root, package),
        "sf": sf,
        "seed": seed,
    }


class IncomparableReports(ValueError):
    """Two reports were taken under different host blocks."""


def check_comparable(a: dict, b: dict) -> None:
    """Raise IncomparableReports naming every host field that differs,
    except ``git_sha``: comparing two commits is the point of a
    comparison."""
    ha, hb = a.get("host"), b.get("host")
    if not ha or not hb:
        raise IncomparableReports("a report has no host block")
    if a.get("workload") != b.get("workload"):
        raise IncomparableReports(
            f"workloads differ: {a.get('workload')!r} != {b.get('workload')!r}")
    diffs = [f"{k}: {ha.get(k)!r} != {hb.get(k)!r}"
             for k in HOST_KEYS if k != "git_sha" and ha.get(k) != hb.get(k)]
    if diffs:
        raise IncomparableReports("host blocks differ (" + "; ".join(diffs) + ")")
