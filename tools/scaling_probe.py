"""Diagnose WHERE a query's wall-clock goes at the current core count.

For each named query: run it once warm (cache-steady), then once timed
inside a dedicated job group, and report wall seconds plus the number of
Spark jobs, stages and tasks the action scheduled (statusTracker — works
with the UI disabled). A query whose c8/c32 bench ratio is < 1 is either
(a) scheduling many tiny tasks/AQE waves (tasks ≫ rows warrant) or
(b) paying per-job fixed overhead × many jobs (broadcast builds etc.);
the two need different fixes, and this tells them apart.

Usage: SPARK_GRAFT_CPUS=32 python tools/scaling_probe.py <query> [...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import bench  # noqa: E402
from udacitydatawarehouseprj_spark import queries as Q  # noqa: E402
from udacitydatawarehouseprj_spark import session as S  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = S.get_spark("scaling-probe")
    spark.sparkContext.setLogLevel("ERROR")
    registry = Q.queries()
    bench.warmup(spark, sf_dir)

    st = spark.sparkContext.statusTracker()
    out = {}
    for name in names:
        # warm pass: shared-cache builds + codegen land here
        bench.timed_run(spark, registry[name], sf_dir)
        group = f"probe-{name}"
        spark.sparkContext.setJobGroup(group, name)
        sec = bench.timed_run(spark, registry[name], sf_dir)
        spark.sparkContext._jsc.clearJobGroup()  # pyspark wraps no clearJobGroup
        job_ids = st.getJobIdsForGroup(group)
        n_stages = 0
        n_tasks = 0
        for jid in job_ids:
            ji = st.getJobInfo(jid)
            if ji is None:
                continue
            for sid in ji.stageIds:
                si = st.getStageInfo(sid)
                if si is not None and si.numTasks > 0 and si.numCompletedTasks > 0:
                    n_stages += 1
                    n_tasks += si.numTasks
        out[name] = {
            "sec": round(sec, 3),
            "jobs": len(job_ids),
            "stages_run": n_stages,
            "tasks": n_tasks,
        }
        print(json.dumps({name: out[name]}), flush=True)
    print("SUMMARY " + json.dumps(out))


if __name__ == "__main__":
    main()
