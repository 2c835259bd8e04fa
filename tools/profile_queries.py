"""Per-query profile and alternating A/B over ``bench.run_query``.

Every query runs through the bench's own loop: three runs, each split
into ``build_s`` (the builder, with any job it runs eagerly) and
``exec_s`` (the noop write), with the run's job and stage counts, the
cache cleared after every run and both heaps collected after the
query. The sf dir and core count come from ``SPARK_GRAFT_SF_DIR`` and
``SPARK_GRAFT_CPUS``, as for ``bench.py``.

A profile is an A/B with one variant and one block. ``--ab key=v1,v2``
runs every query under each value of one session conf in alternating
fresh sessions (v1, v2, v1, v2, ... for ``--blocks`` blocks), so slow
host drift cancels across blocks, and ends with one summary line per
query.

``--ab`` compares session confs only. A static conf such as
``spark.sql.codegen.cache.maxEntries`` is fixed when the JVM starts:
each variant's fresh session runs in the same JVM, whose codegen class
cache keeps the size it started with, so both variants would measure
the same cache. Compare such a conf across processes instead, one
process per value.

Usage:
    python tools/profile_queries.py name [name ...]
    python tools/profile_queries.py --plans DIR name ...
        # also write explain("formatted") to DIR/<name>[.<value>].txt
    python tools/profile_queries.py --conf k=v [--conf k=v ...] name ...
    python tools/profile_queries.py \
        --ab spark.sql.join.preferSortMergeJoin=true,false --blocks 2 \
        embed_mrl_truncate agg_roc_auc_rank

Prints one JSON line per query and session: {"block", "q", "ab" (the
variant's value, null without --ab), "runs" (one {"s", "build_s",
"exec_s", "jobs", "stages", "compiles"} per run; ``compiles`` counts
the classes codegen compiled during the run), "cold", "warm", "load"}, or
{"block", "q", "ab", "err"} for a query that failed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--plans", help="dir for explain dumps")
    ap.add_argument("--conf", action="append", default=[], help="k=v")
    ap.add_argument("--ab", help="key=v1,v2: one variant per value of a conf")
    ap.add_argument("--blocks", type=int, default=1)
    args = ap.parse_args()

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    unknown = [n for n in args.names if n not in qs]
    if unknown:
        ap.error(f"unknown queries: {unknown}")
    sf_dir, cpus = bench.bench_env()
    conf = dict(kv.split("=", 1) for kv in args.conf)
    key, vals = None, [None]
    if args.ab:
        key, _, spec = args.ab.partition("=")
        vals = spec.split(",")

    warm: dict[str, dict] = {n: {v: [] for v in vals} for n in args.names}
    for block in range(args.blocks):
        for val in vals:
            extra = conf if key is None else {**conf, key: val}
            spark = bench.warm_session("profile", cpus, extra_conf=extra)
            for name in args.names:
                line = {"block": block, "q": name, "ab": val}
                try:
                    runs = bench.run_query(spark, qs[name], sf_dir)
                except Exception as exc:  # noqa: BLE001 — report, go on
                    line["err"] = f"{type(exc).__name__}: {exc}"[:200]
                    print(json.dumps(line), flush=True)
                    continue
                best = bench.best_warm(runs)["s"]
                warm[name][val].append(best)
                line.update(
                    runs=runs,
                    cold=runs[0]["s"],
                    warm=best,
                    load=round(os.getloadavg()[0], 2),
                )
                print(json.dumps(line), flush=True)
                if args.plans:
                    # one more build, untimed, whose plan is dumped
                    df = qs[name](spark, sf_dir)
                    suffix = "" if val is None else f".{val}"
                    os.makedirs(args.plans, exist_ok=True)
                    out = os.path.join(args.plans, f"{name}{suffix}.txt")
                    with open(out, "w") as fh:
                        fh.write(
                            df._sc._jvm.PythonSQLUtils.explainString(
                                df._jdf.queryExecution(), "formatted"
                            )
                        )
                    spark.catalog.clearCache()
            bench.stop_session(spark)
    if key is not None:
        for name, per_val in warm.items():
            if all(per_val.values()):
                best = {v: min(r) for v, r in per_val.items()}
                print(
                    json.dumps(
                        {"summary": name, "best_warm": best, "all": per_val}
                    ),
                    flush=True,
                )


if __name__ == "__main__":
    main()
