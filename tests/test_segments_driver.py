"""r6: the bounded driver path of _global_ranks (numpy lexsort) must be
bit-identical to the bucketed decomposition — ranks, NTILE scores, the
running cum column, and NULL/NaN placement."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from didtool_spark.operators.segments import (
    _global_ranks,
    pareto_curve,
    rfm_segments,
)


def _per_table(spark, with_nulls=False):
    rng = np.random.RandomState(11)
    n = 4000
    vals = np.round(rng.exponential(100, n), 2)
    # force heavy ties so the tiebreak path is exercised
    vals[rng.rand(n) < 0.4] = np.round(vals[rng.rand(n) < 0.4].mean(), 2)
    amt = np.round(rng.exponential(50, n), 2)
    pdf = pd.DataFrame({"key": np.arange(n, dtype=np.int64), "v": vals,
                        "amount": amt})
    if with_nulls:
        pdf.loc[pdf.index % 17 == 0, "v"] = None
    return spark.createDataFrame(pdf)


def _ranks_both(force_distributed, df, desc, sum_col=None):
    def run():
        got, total = _global_ranks(
            df,
            [("v", desc, "rk")],
            tiebreak=["key"],
            sum_col=sum_col,
        )
        cols = ["key", "rk"] + (["__cum"] if sum_col else [])
        return got.select(*cols).toPandas().sort_values("key").reset_index(
            drop=True
        )

    drv = run()
    with force_distributed():  # bucketed path
        return drv, run()


def test_driver_ranks_match_bucketed_asc_desc(spark, force_distributed):
    df = _per_table(spark)
    for desc in (False, True):
        a, b = _ranks_both(force_distributed, df, desc)
        pd.testing.assert_frame_equal(a, b)


def test_driver_ranks_nulls_last_match(spark, force_distributed):
    df = _per_table(spark, with_nulls=True)
    for desc in (False, True):
        a, b = _ranks_both(force_distributed, df, desc)
        pd.testing.assert_frame_equal(a, b)


def test_driver_cum_matches_bucketed_rounded(spark, force_distributed):
    df = _per_table(spark)
    a, b = _ranks_both(force_distributed, df, True, sum_col="amount")
    pd.testing.assert_frame_equal(
        a[["key", "rk"]], b[["key", "rk"]]
    )
    # cum differs only in float association; 6-decimal rounding (what
    # every gate query applies) must be identical
    assert (np.round(a["__cum"], 6) == np.round(b["__cum"], 6)).all()


def _orders(spark):
    rng = np.random.RandomState(5)
    n = 20000
    return spark.createDataFrame(pd.DataFrame({
        "o_custkey": rng.randint(0, 1500, n).astype(np.int64),
        "o_orderdate": pd.to_datetime("2024-01-01")
        + pd.to_timedelta(rng.randint(0, 365, n), unit="D"),
        "o_totalprice": np.round(rng.exponential(120, n), 2),
    }))


def test_rfm_driver_vs_bucketed_bitexact(spark, force_distributed):
    orders = _orders(spark)
    a = rfm_segments(orders).toPandas()
    with force_distributed():
        b = rfm_segments(orders).toPandas()
    key = ["key"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_pareto_driver_vs_bucketed_rounded(spark, force_distributed):
    orders = _orders(spark)
    a = pareto_curve(orders, "o_custkey", "o_totalprice").toPandas()
    with force_distributed():
        b = pareto_curve(orders, "o_custkey", "o_totalprice").toPandas()
    a = a.sort_values("key").reset_index(drop=True)
    b = b.sort_values("key").reset_index(drop=True)
    pd.testing.assert_frame_equal(a[["key", "amount", "rank"]],
                                  b[["key", "amount", "rank"]])
    for c in ("cum_share", "frac_keys"):
        assert (np.round(a[c], 6) == np.round(b[c], 6)).all(), c
