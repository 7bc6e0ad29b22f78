"""Per-twin streaming timing table (r14 verdict #6).

Runs every registered `stream_*` query once (fresh collect, its full
micro-batch drain) at $SPARK_GRAFT_SF_DIR, each under a job group named
after it, and prints one JSON line with {twin: seconds} and the twin's
Spark job counts. Job counts do not depend on the host, so two trees
compare on them without resting on wall time: `jobs` counts every job
started during the twin; `group_jobs` counts those of its job group
(getJobIdsForGroup), which leaves out the micro-batch jobs because
Structured Streaming runs each query under a job group of its own.

This is a ROUND-DOC artifact, not part of the headline bench: the twins
exercise the micro-batch/state-store machinery end-to-end and their
drain cost is deliberately unbenched (r14 rationale) — but it must be
visible round-over-round so a regression in the streaming path
cannot hide. Any twin regressing >25% against the previous round's
table gets a plan diff in the round doc.

Usage: python scripts/stream_twin_bench.py [name ...]
"""

from __future__ import annotations

import json
import os
import pathlib
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from iq_to_hdl_migration_spark.queries import load_all
    from iq_to_hdl_migration_spark.session import get_spark
    from iq_to_hdl_migration_spark.sources.tables import stage_warehouse

    spark = get_spark("stream_twin_bench")
    spark.sparkContext.setLogLevel("ERROR")
    if os.environ.get("SPARK_GRAFT_STAGE", "1") != "0":
        wh = os.environ.get("SPARK_GRAFT_WAREHOUSE_DIR",
                            "/tmp/spark_graft_warehouse")
        stage_warehouse(spark, sf_dir, wh)
        os.environ["SPARK_GRAFT_WAREHOUSE"] = wh

    registry = load_all()
    names = sys.argv[1:] or sorted(
        n for n in registry if n.startswith("stream_"))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    out: dict[str, float] = {}
    jobs: dict[str, int] = {}
    group_jobs: dict[str, int] = {}
    for name in names:
        spec = registry[name]
        sc.setJobGroup(name, f"twin:{name}")
        job0 = sc._jsc.sc().dagScheduler().numTotalJobs()
        t0 = time.perf_counter()
        spec.fn(spark, sf_dir).collect()
        out[name] = round(time.perf_counter() - t0, 2)
        jobs[name] = sc._jsc.sc().dagScheduler().numTotalJobs() - job0
        group_jobs[name] = len(tracker.getJobIdsForGroup(name))
        print(f"{name}: {out[name]}s {jobs[name]} jobs "
              f"({group_jobs[name]} in its group)", file=sys.stderr)
    print(json.dumps({"sf_dir": sf_dir, "load_1m": os.getloadavg()[0],
                      "twins": out, "jobs": jobs,
                      "group_jobs": group_jobs}))


if __name__ == "__main__":
    main()
