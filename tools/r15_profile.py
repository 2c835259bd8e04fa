"""Per-query profiling for the r15 optimization round.

For each named query: build time (Python DataFrame construction),
first-execution and warm noop-sink times, and the job/stage count of
the warm run (statusTracker over a job group) — the stage-count-bound
diagnosis tool for local[32] sub-second queries (LESSONS #48).

Usage:
    python tools/r15_profile.py [--sf DIR] [--cpus N] name [name ...]
    python tools/r15_profile.py --plans DIR name ...   # also dump
        explain("formatted") per query to DIR/<name>.txt
    python tools/r15_profile.py --conf k=v [--conf k=v ...] name ...
        # override session confs for the profiling session
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", default="32")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", default=None, help="dir for explain dumps")
    ap.add_argument("--conf", action="append", default=[], help="k=v")
    args = ap.parse_args()

    from etl_8x8_spark.session import get_spark

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    spark = get_spark(
        "r15_profile",
        cpus=args.cpus,
        shuffle_partitions=int(args.cpus),
        extra_conf=dict(kv.split("=", 1) for kv in args.conf),
    )
    spark.range(1000).selectExpr("sum(id)").collect()
    sc = spark.sparkContext

    for name in args.names:
        if name not in qs:
            print(json.dumps({"q": name, "err": "unknown"}))
            continue
        runs = []
        jobs = stages = 0
        for run in range(args.runs):
            group = f"{name}-{run}"
            sc.setJobGroup(group, name)
            t0 = time.time()
            df = qs[name](spark, args.sf)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            runs.append((round(t1 - t0, 3), round(t2 - t1, 3)))
            if run == args.runs - 1:
                tracker = sc.statusTracker()
                job_ids = tracker.getJobIdsForGroup(group)
                jobs = len(job_ids)
                stages = sum(
                    len(tracker.getJobInfo(j).stageIds or []) for j in job_ids
                )
                if args.plans:
                    os.makedirs(args.plans, exist_ok=True)
                    with open(os.path.join(args.plans, f"{name}.txt"), "w") as fh:
                        fh.write(
                            df._sc._jvm.PythonSQLUtils.explainString(
                                df._jdf.queryExecution(), "formatted"
                            )
                        )
            sc.setJobGroup("", "")
            spark.catalog.clearCache()
        import gc

        gc.collect()
        sc._jvm.System.gc()
        warm = min(b + e for b, e in runs[1:]) if len(runs) > 1 else None
        print(
            json.dumps(
                {
                    "q": name,
                    "runs": runs,  # (build_s, exec_s) per run
                    "warm_total": warm,
                    "jobs": jobs,
                    "stages": stages,
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
