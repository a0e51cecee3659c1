"""Skew evidence: one conversation holding ~half of all turns (the
hot-key regime the north rule's salted-key splitting targets).

Compares wall time of the window strategy (whole hot key in one task)
vs the bucketed skew-splitting strategy for each temporal operator and
for the whole ``materialize_features`` chain. Appends one run (host
cores, input size, table) to BENCH/SKEW.md.

    python scripts/skew_bench.py [n_convs] [hot_factor]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from didtool_spark.data.transcripts import generate_transcripts
from didtool_spark.operators.temporal import (
    asof_join,
    forward_fill,
    sessionize,
    with_lags,
    with_rolling,
)
from didtool_spark.plans.materialize import materialize_features
from didtool_spark.session import get_spark


def timed(fn):
    t0 = time.time()
    fn()
    return round(time.time() - t0, 2)


def main() -> None:
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    hot_factor = int(sys.argv[2]) if len(sys.argv) > 2 else 20000
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", 32))
    spark = get_spark("skew-bench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")

    tr = generate_transcripts(
        spark, n_convs=n_convs, avg_turns=50, n_hot=1, hot_factor=hot_factor
    )
    tr.write.mode("overwrite").parquet("/dev/shm/skew_input")
    tr = spark.read.parquet("/dev/shm/skew_input")
    n = tr.count()
    hot = tr.groupBy("conv_id").count().orderBy(F.desc("count")).first()
    print(f"turns={n}, hottest conv={hot['count']} ({100*hot['count']/n:.0f}%)")

    anchors = tr.where(F.col("role") == "user").select("conv_id", "turn_idx", "ts")
    feats = tr.where(F.col("role") == "tool").select(
        "conv_id", "ts", F.length("text").cast("double").alias("score")
    )

    def run_asof(strategy):
        asof_join(
            anchors, feats, keys="conv_id", value_cols=["score"],
            strategy=strategy, n_buckets=64,
        ).write.format("noop").mode("overwrite").save()

    def run_sess(strategy):
        sessionize(tr, strategy=strategy, bucket_seconds=6 * 3600).write.format(
            "noop"
        ).mode("overwrite").save()

    feat = tr.withColumn("text_len", F.length("text"))
    BW = 6 * 3600

    def run_lags(strategy):
        with_lags(
            feat, ["text_len"], lags=[1, 3], leads=[1],
            strategy=strategy, bucket_seconds=BW,
        ).write.format("noop").mode("overwrite").save()

    def run_roll_rows(strategy):
        with_rolling(
            feat, [("text_len", "sum", 5), ("text_len", "avg", 5)],
            strategy=strategy, bucket_seconds=BW,
        ).write.format("noop").mode("overwrite").save()

    def run_roll_time(strategy):
        with_rolling(
            feat, [("text_len", "sum", 1800)], ts_col="ts",
            strategy=strategy, bucket_seconds=BW,
        ).write.format("noop").mode("overwrite").save()

    def run_ffill(strategy):
        forward_fill(
            tr, ["tool"], strategy=strategy, bucket_seconds=BW
        ).write.format("noop").mode("overwrite").save()

    def run_materialize(strategy):
        materialize_features(
            tr, strategy=strategy, bucket_seconds=BW
        ).write.format("noop").mode("overwrite").save()

    runners = {
        "asof": run_asof,
        "sessionize": run_sess,
        "lags": run_lags,
        "rolling_rows": run_roll_rows,
        "rolling_time": run_roll_time,
        "ffill": run_ffill,
        "materialize": run_materialize,
    }
    # warm both plans once
    for fn in runners.values():
        for s in ("window", "bucketed"):
            fn(s)

    results = {}
    for name, fn in runners.items():
        for s in ("window", "bucketed"):
            results[f"{name}_{s}"] = timed(lambda fn=fn, s=s: fn(s))
    print(results)

    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/SKEW.md", "a") as f:
        f.write(
            f"""
## Run {time.strftime("%Y-%m-%d")}: local[{cores}] on a {os.cpu_count()}-core host

Input: {n:,} turns (`skew_bench.py {n_convs} {hot_factor}`); the
hottest conversation holds {hot['count']:,} ({100 * hot['count'] / n:.0f}%).
Bucket width {BW // 3600} h. Wall seconds of one noop write, after one
warm run of each plan.

| operator | window strategy (s) | bucketed skew-split (s) |
|---|---|---|
| as-of join | {results['asof_window']} | {results['asof_bucketed']} |
| sessionize | {results['sessionize_window']} | {results['sessionize_bucketed']} |
| lag/lead (x3) | {results['lags_window']} | {results['lags_bucketed']} |
| rolling rows (sum+avg last5) | {results['rolling_rows_window']} | {results['rolling_rows_bucketed']} |
| rolling time (sum 1800s) | {results['rolling_time_window']} | {results['rolling_time_bucketed']} |
| forward fill | {results['ffill_window']} | {results['ffill_bucketed']} |
| materialize_features (all four) | {results['materialize_window']} | {results['materialize_bucketed']} |
"""
        )

if __name__ == "__main__":
    main()
