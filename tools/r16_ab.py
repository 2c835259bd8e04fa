"""Alternating A/B of named queries under a toggled session conf.

The r16 adjudication harness (VERDICT r15 item 1): run each query
under variant A and variant B of one session conf in ALTERNATING
fresh sessions (A,B,A,B...) so slow host drift cancels across blocks,
with the bench methodology inside each block (cold + two warm noop
sink runs, best warm recorded, clearCache after every run outside the
timed region, dual-heap GC between queries).

Usage:
    python tools/r16_ab.py --conf spark.sql.join.preferSortMergeJoin \
        --vals true,false --blocks 2 embed_mrl_truncate agg_roc_auc_rank
"""

from __future__ import annotations

import argparse
import gc
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
    ap.add_argument("--conf", required=True)
    ap.add_argument("--vals", required=True, help="comma-separated variant values")
    ap.add_argument("--blocks", type=int, default=2)
    args = ap.parse_args()

    from etl_8x8_spark.session import get_spark

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    vals = args.vals.split(",")
    results: dict[str, dict[str, list[float]]] = {
        n: {v: [] for v in vals} for n in args.names
    }
    for block in range(args.blocks):
        for val in vals:
            spark = get_spark(
                f"r16_ab_{val}",
                cpus=args.cpus,
                shuffle_partitions=int(args.cpus),
                extra_conf={args.conf: val},
            )
            spark.range(1000).selectExpr("sum(id)").collect()
            for name in args.names:
                per_run = []
                try:
                    for _ in range(3):
                        t0 = time.time()
                        df = qs[name](spark, args.sf)
                        df.write.format("noop").mode("overwrite").save()
                        per_run.append(round(time.time() - t0, 3))
                        spark.catalog.clearCache()
                except Exception as exc:  # noqa: BLE001
                    print(
                        json.dumps(
                            {"q": name, "val": val, "err": str(exc)[:200]}
                        ),
                        flush=True,
                    )
                    spark.catalog.clearCache()  # the failed run skipped its clear
                    continue
                warm = min(per_run[1:])
                results[name][val].append(warm)
                print(
                    json.dumps(
                        {
                            "block": block,
                            "q": name,
                            "val": val,
                            "cold": per_run[0],
                            "warm": warm,
                            "runs": per_run,
                            "load": round(os.getloadavg()[0], 2),
                        }
                    ),
                    flush=True,
                )
                gc.collect()
                spark.sparkContext._jvm.System.gc()
            spark.stop()
    for name in args.names:
        summary = {
            v: results[name][v] for v in vals if results[name][v]
        }
        if len(summary) == len(vals) and all(summary.values()):
            best = {v: min(r) for v, r in summary.items()}
            print(
                json.dumps(
                    {"summary": name, "best_warm": best, "all": summary}
                ),
                flush=True,
            )


if __name__ == "__main__":
    main()
