"""N× scale-up experiment: replicate sf0.1 with shifted keys and
re-run the heavy operators, reporting per-query ratios vs sf0.1.

The replica grows the data the way production data grows — MORE keys,
not fatter keys:

- lineitem/orders: orderkeys shift per copy (join fanout constant);
- events: event_id AND user_id shift (more users, same per-user
  history — per-task window state stays bounded);
- documents: doc_id shifts and every word is tagged with the copy
  index, so cross-copy docs share NO shingles — the duplicate RATE
  stays constant instead of every doc gaining N-1 near-dups (which
  would grow candidate pairs quadratically and measure the data, not
  the engine);
- embeddings: vec_id shifts, components get small deterministic
  per-copy noise (no degenerate ties in top-k).

Usage: python tools/scale_experiment.py [--copies 10] [--queries a,b]
Prints one JSON line per query: {query, base_s, scaled_s, ratio}, where
each time is the best warm run of ``bench.run_query`` on
``local[$SPARK_GRAFT_CPUS]``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402

BASE_SF = "/root/testdata/sf0.1"

DEFAULT_QUERIES = [
    "agg_hash_group",
    "join_hash_equi",
    "join_asof_event",
    "window_rank_topn_per_group",
    "window_sessionize",
    "dedup_exact",
    "dedup_minhash_near",
    "text_tfidf_terms",
    "text_analysis_stats",
    "sim_search_topk",
    "sim_knn_join",
    "jwt_verify",
]

_KEY_OFF = 100_000_000
_FACTS = ("lineitem", "orders", "events", "documents", "embeddings")
_DIMS = ("region", "nation", "customer", "supplier", "part")


def build_replica(spark, copies: int) -> str:
    """The ``copies``-fold replica of ``BASE_SF``, a derived dir that
    a changed shifting rule or base table rebuilds."""
    from etl_8x8_spark.sources.readers import derived, load_table

    def write(out: str) -> None:
        def shifted(name: str, copy: int):
            df = load_table(spark, BASE_SF, name)
            off = copy * _KEY_OFF
            if name == "lineitem":
                return df.withColumn("l_orderkey", F.col("l_orderkey") + off)
            if name == "orders":
                return df.withColumn("o_orderkey", F.col("o_orderkey") + off)
            if name == "events":
                return df.withColumn(
                    "event_id", F.col("event_id") + off
                ).withColumn("user_id", F.col("user_id") + copy * 1_000_000)
            if name == "documents":
                # tag every word with the copy index: cross-copy docs
                # share no shingles, within-copy near-dup structure is
                # preserved
                if copy == 0:
                    return df
                tagged = F.array_join(
                    F.transform(
                        F.split(F.col("text"), " "),
                        lambda w: F.concat(w, F.lit(f"_c{copy}")),
                    ),
                    " ",
                )
                return df.withColumn(
                    "doc_id", F.col("doc_id") + off
                ).withColumn("text", tagged)
            if name == "embeddings":
                if copy == 0:
                    return df
                noisy = F.transform(
                    F.col("embedding"),
                    lambda x, j: (
                        x
                        + F.sin(F.col("vec_id") * 31 + j * 7 + F.lit(copy))
                        * F.lit(0.01)
                    ).cast("float"),
                )
                return df.withColumn(
                    "vec_id", F.col("vec_id") + off
                ).withColumn("embedding", noisy)
            return df

        for name in _FACTS:
            path = os.path.join(out, f"{name}.parquet")
            for copy in range(copies):
                mode = "overwrite" if copy == 0 else "append"
                shifted(name, copy).write.mode(mode).parquet(path)
        # dims: single copy (dims don't grow with fact volume)
        for name in _DIMS:
            load_table(spark, BASE_SF, name).write.parquet(
                os.path.join(out, f"{name}.parquet")
            )

    return derived(BASE_SF, f"scale{copies}x", _FACTS + _DIMS, write)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--queries", type=str, default=",".join(DEFAULT_QUERIES))
    ap.add_argument("--skew", action="store_true",
                    help="run the skewed-join AQE on/off experiment instead")
    args = ap.parse_args()
    if args.skew:
        skew_experiment(args.copies)
        return

    from etl_8x8_spark.session import get_spark

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    names = [n for n in args.queries.split(",") if n in qs]

    # shuffle partitions sized up with the data (32 -> 80 at 10x),
    # capped at 256: past that, per-task scheduling overhead on a
    # 32-thread local JVM dominates any spill relief (the 100x run's
    # 6M-row shuffles fit comfortably in 256 x ~25 MB partitions)
    spark = get_spark(
        "scale_experiment",
        cpus=bench.bench_env()[1],
        shuffle_partitions=min(max(32, 8 * args.copies), 256),
    )
    replica = build_replica(spark, args.copies)

    results = {}
    for name in names:
        base = bench.best_warm(bench.run_query(spark, qs[name], BASE_SF))["s"]
        scaled = bench.best_warm(bench.run_query(spark, qs[name], replica))["s"]
        ratio = round(scaled / base, 1) if base > 0 else None
        results[name] = {"base_s": base, "scaled_s": scaled, "ratio": ratio}
        print(json.dumps({"query": name, **results[name]}), flush=True)
    print(
        json.dumps(
            {"metric": "scale_experiment", "copies": args.copies, "queries": results}
        )
    )


def skew_experiment(copies: int = 10) -> None:
    """Skewed-join demonstration: a replica where ~30% of all events
    belong to ONE user, joined (sort-merge) against a user dimension.
    Measures the same join with AQE skew-join splitting ON vs OFF —
    the runtime re-plan that salvages the straggler task — and prints
    both. Salting (join_salted_skew) remains the manual fallback for
    the shapes AQE can't split (aggregations, broadcast-ineligible
    plans).
    """
    import json
    import time

    from pyspark.sql import functions as F

    from etl_8x8_spark.session import get_spark
    from etl_8x8_spark.sources.readers import derived, load_table

    spark = get_spark(
        "skew_experiment",
        cpus=bench.bench_env()[1],
        shuffle_partitions=max(32, 8 * copies),
    )

    def write(out: str) -> None:
        path = os.path.join(out, "events.parquet")
        for copy in range(copies):
            df = load_table(spark, BASE_SF, "events").withColumn(
                "event_id", F.col("event_id") + copy * _KEY_OFF
            )
            if copy == 0:
                skewed = df
            else:
                # ~30% of every non-base copy lands on user 7
                skewed = df.withColumn(
                    "user_id",
                    F.when(F.col("event_id") % 3 == 0, F.lit(7)).otherwise(
                        F.col("user_id") + copy * 1_000_000
                    ),
                )
            skewed.write.mode("overwrite" if copy == 0 else "append").parquet(
                path
            )
        (
            spark.read.parquet(path)
            .select("user_id")
            .distinct()
            .withColumn("segment", F.col("user_id") % 100)
            .write.parquet(os.path.join(out, "users.parquet"))
        )

    out = derived(BASE_SF, f"skew{copies}x", ["events"], write)

    # the shuffled payload must be INCOMPRESSIBLE: skew detection works
    # on compressed shuffle-block bytes, and a hot partition of repeated
    # key values compresses to nothing and never crosses the threshold
    # (found the hard way: a constant 200-char payload showed zero skew)
    events = spark.read.parquet(os.path.join(out, "events.parquet")).withColumn(
        "payload", F.sha2(F.col("event_id").cast("string"), 256)
    )
    users = spark.read.parquet(os.path.join(out, "users.parquet"))

    # thresholds scaled to the replica (defaults target cluster sizes)
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2MB"
    )
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1MB")

    def run_join():
        j = (
            events.hint("merge")
            .join(users.hint("merge"), "user_id")
            .select(F.sum(F.length("payload")).alias("s"))
        )
        t0 = time.time()
        j.collect()
        el = round(time.time() - t0, 3)
        plan = j._jdf.queryExecution().executedPlan().toString()
        return el, ("and skewed" in plan)

    results = {}
    for flag in ("false", "true"):
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", flag)
        run_join()  # warm
        el, split = run_join()
        results[f"aqe_skew_{flag}"] = el
        results[f"split_applied_{flag}"] = split
    print(json.dumps({"metric": "skew_experiment", "copies": copies, **results}))


if __name__ == "__main__":
    main()
