"""segments units: the bucketed global rank must equal a plain global
row_number (including ties and tiny bucket counts), NTILE replication
must match DuckDB's builtin on random data, and the RFM / Pareto
outputs must satisfy their invariants.

Each ``_global_rank`` test runs on both paths: the driver path its
small tables take by default, and the bucketed path forced by
``force_distributed``."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from didtool_spark.operators.segments import (
    _global_rank,
    _ntile_from_rank,
    pareto_curve,
    rfm_segments,
)

RNG = np.random.default_rng(11)


def _both_paths(force_distributed):
    """Loop once on the driver path, once on the bucketed path."""
    yield "driver"
    with force_distributed():
        yield "bucketed"


def test_global_rank_equals_window_row_number(spark, force_distributed):
    n = 500
    pdf = pd.DataFrame(
        {
            "k": [f"e{i:04d}" for i in range(n)],
            # heavy ties: only 25 distinct values
            "v": RNG.integers(0, 25, n).astype(float),
        }
    )
    df = spark.createDataFrame(pdf)
    for path in _both_paths(force_distributed):
        for descending in (False, True):
            for n_buckets in (2, 7, 64):
                got, total = _global_rank(
                    df, "v", ["k"], descending=descending, n_buckets=n_buckets
                )
                assert total == n
                order = (
                    F.col("v").desc() if descending else F.col("v").asc()
                )
                w = Window.partitionBy(F.lit(1)).orderBy(order, "k")
                ref = df.withColumn("__ref", F.row_number().over(w))
                j = got.join(ref, ["k", "v"]).toPandas()
                assert (j["__rank"] == j["__ref"]).all(), (
                    f"{path} desc={descending} buckets={n_buckets}"
                )


def test_global_rank_cumsum(spark, force_distributed):
    pdf = pd.DataFrame(
        {"k": list("abcdef"), "v": [3.0, 1.0, 2.0, 5.0, 4.0, 0.5]}
    )
    df = spark.createDataFrame(pdf)
    for path in _both_paths(force_distributed):
        got, _ = _global_rank(
            df, "v", ["k"], descending=True, n_buckets=3, sum_col="v"
        )
        out = got.toPandas().sort_values("__rank")
        np.testing.assert_allclose(out["__cum"], out["v"].cumsum())


def test_ntile_replication_vs_duckdb(spark, force_distributed):
    n = 137
    pdf = pd.DataFrame(
        {"k": range(n), "v": RNG.integers(0, 9, n).astype(float)}
    )
    df = spark.createDataFrame(pdf)
    for path in _both_paths(force_distributed):
        for tiles in (3, 5, 10):
            got, total = _global_rank(df, "v", ["k"], n_buckets=8)
            mine = (
                got.withColumn(
                    "tile", _ntile_from_rank(F.col("__rank"), total, tiles)
                )
                .toPandas()
                .sort_values("k")
                .reset_index(drop=True)
            )
            ref = duckdb.sql(
                f"SELECT k, ntile({tiles}) OVER (ORDER BY v, k) AS tile "
                "FROM pdf ORDER BY k"
            ).df()
            assert (mine.tile.to_numpy() == ref.tile.to_numpy()).all()


def test_rfm_invariants(spark):
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    out = rfm_segments(
        orders, key="o_custkey", ts_col="o_orderdate",
        amount_col="o_totalprice", n=5,
    ).toPandas()
    n = len(out)
    assert out.key.is_unique
    for c in ("r_score", "f_score", "m_score"):
        counts = out[c].value_counts()
        assert set(counts.index) <= {1, 2, 3, 4, 5}
        # NTILE balance: sizes differ by at most 1
        assert counts.max() - counts.min() <= 1
    # the most recent entity must hold the top r_score
    assert out.loc[out.recency_days.idxmin(), "r_score"] == 5
    assert out.loc[out.monetary.idxmax(), "m_score"] == 5
    assert set(out.segment) <= {
        "champion", "at_risk", "hibernating", "loyal", "big_spender",
        "recent", "regular",
    }
    assert n == out.key.nunique()


def test_pareto_invariants(spark):
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    out = (
        pareto_curve(orders, "o_custkey", "o_totalprice")
        .toPandas()
        .sort_values("rank")
        .reset_index(drop=True)
    )
    assert (out["rank"].to_numpy() == np.arange(1, len(out) + 1)).all()
    # amounts non-increasing down the ranking
    assert (np.diff(out.amount.to_numpy()) <= 1e-6).all()
    # cumulative share strictly increasing to 1
    assert (np.diff(out.cum_share.to_numpy()) > 0).all()
    assert abs(out.cum_share.iloc[-1] - 1.0) < 1e-9
    assert abs(out.frac_keys.iloc[-1] - 1.0) < 1e-12
    # concentration: the top half holds more than half the value
    half = out.iloc[: len(out) // 2]
    assert half.cum_share.iloc[-1] > 0.5


def test_global_rank_nulls_last(spark, force_distributed):
    """NULL values rank LAST in either direction — matching both
    engines' SQL default and the oracle's NULLS LAST."""
    pdf = pd.DataFrame(
        {"k": list("abcd"), "v": [3.0, None, 1.0, None]}
    )
    df = spark.createDataFrame(pdf)
    for path in _both_paths(force_distributed):
        for descending in (False, True):
            got, total = _global_rank(
                df, "v", ["k"], descending=descending, n_buckets=4
            )
            out = got.toPandas().set_index("k")["__rank"]
            assert total == 4
            # the two NULL rows take the last two ranks, tiebreak by key
            assert out["b"] == 3 and out["d"] == 4
            if descending:
                assert out["a"] == 1 and out["c"] == 2
            else:
                assert out["c"] == 1 and out["a"] == 2


def test_global_rank_approx_fit_still_exact_ranks(spark, force_distributed):
    """approx=True changes only bucket PLACEMENT — ranks stay the
    exact global row_number (re-based by real counts)."""
    n = 400
    pdf = pd.DataFrame(
        {"k": [f"e{i:04d}" for i in range(n)],
         "v": RNG.normal(0, 1, n)}
    )
    df = spark.createDataFrame(pdf)
    for path in _both_paths(force_distributed):
        got, total = _global_rank(df, "v", ["k"], n_buckets=16, approx=True)
        w = Window.partitionBy(F.lit(1)).orderBy(F.col("v").asc(), "k")
        ref = df.withColumn("__ref", F.row_number().over(w))
        j = got.join(ref, ["k", "v"]).toPandas()
        assert total == n
        assert (j["__rank"] == j["__ref"]).all()
