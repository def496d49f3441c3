"""Time individual registry queries with the bench's methodology (noop
sink, N repeats, median) without running the whole bench.

Usage: python tools/time_queries.py [-r REPEATS] <query> [query ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.

Same warmup and timing as bench.py (bench.warmup, bench.time_query) so
the first timed query is not charged JVM/Arrow startup. Shared session caches
are NOT released between repeats — matching bench.py, where a shared
relation's build cost lands in its first consumer's first repeat and the
median reflects the steady state.
"""

from __future__ import annotations

import os
import statistics
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import bench  # noqa: E402
from udacitydatawarehouseprj_spark import queries as Q  # noqa: E402
from udacitydatawarehouseprj_spark import session as S  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    repeats = 3
    if args and args[0] == "-r":
        repeats = int(args[1])
        args = args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = S.get_spark("time-queries")
    spark.sparkContext.setLogLevel("ERROR")
    registry = Q.queries()
    bench.warmup(spark, sf_dir)

    for name in args:
        spark.sparkContext.setJobDescription(f"time: {name}")
        runs, _ = bench.time_query(spark, name, registry[name], sf_dir, repeats)
        print(
            f"{name}: median {statistics.median(runs):.3f}s "
            f"(min {runs[0]:.3f} max {runs[-1]:.3f}, n={len(runs)})"
        )
    S.release_shared_caches()


if __name__ == "__main__":
    main()
