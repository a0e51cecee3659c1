"""Golden tests ported from reference tests/metric_test.py and
tests/stats_test.py, plus AUC/KS checks vs hand-computed oracles."""

import os

import numpy as np
import pandas as pd
import pytest

from didtool_spark.operators.metrics import auc, iv, iv_all, ks, psi, psi_all

SAMPLES = "/root/reference/tests/samples.csv"
needs_samples = pytest.mark.skipif(
    not os.path.exists(SAMPLES), reason="reference samples.csv not available"
)

X_IV = [0, 0, 0, 1, 1, 1, 2, 2, 2, 3, 3, 3, 4, 4, 4,
        5, 5, 5, 6, 6, 6, 7, 7, 7, 8, 8, 8, 9, 9, 9,
        10, 10, 10, 11, 11, 11, np.nan, np.nan, np.nan]
Y_IV = [0, 0, 0, 0, 0, 1, 0, 1, 1, 1, 1, 1, 0, 0, 1,
        0, 0, 0, 0, 0, 1, 0, 1, 1, 1, 1, 1, 0, 0, 1,
        0, 0, 0, 0, 0, 1, 0, 1, 1]


@pytest.fixture(scope="module")
def iv_df(spark):
    return spark.createDataFrame(
        [(float(x) if not np.isnan(x) else None, int(y)) for x, y in zip(X_IV, Y_IV)],
        "x double, target int",
    )


def test_iv_goldens(spark, iv_df):
    # reference metric_test.py:11-30 (no chi variant there; 5 methods)
    assert abs(iv(iv_df, "x", "target", False) - 1.3981884852309596) < 1e-9
    assert abs(iv(iv_df, "x", "target", True) - 1.4057157347824798) < 1e-9
    assert abs(iv(iv_df, "x", "target", True, cut_method="step") - 1.4974950271838132) < 1e-9
    assert abs(iv(iv_df, "x", "target", True, cut_method="quantile") - 1.3755617026195848) < 1e-9
    assert abs(iv(iv_df, "x", "target", True, cut_method="lgb") - 1.4057157347824798) < 1e-9


def test_psi_golden(spark):
    e = spark.createDataFrame([(float(v),) for v in [0, 0, 0, 1, 1, 1, 2, 2, 2]], "x double")
    a = spark.createDataFrame([(float(v),) for v in [0, 0, 1, 1, 1, 2, 2, 2, 2]], "x double")
    assert abs(psi(e, a, "x", n_bins=3) - 0.07701635339554946) < 1e-9


def test_iv_all_golden(spark, iv_df):
    # stats_test.py:11-33: x1 continuous(auto: ratio<0.5 but flag True
    # default), x2 categorical
    df = iv_df.withColumnRenamed("x", "x1").withColumn("x2", __import__("pyspark").sql.functions.col("x1"))
    got = iv_all(df, ["x1", "x2"], "target", categorical_cols=["x2"])
    assert abs(got.loc["x1", "iv"] - 1.405716) < 1e-6
    assert abs(got.loc["x2", "iv"] - 1.398188) < 1e-6

    got2 = iv_all(df, ["x1", "x2"], "target", categorical_cols=["x2"], cut_method="step")
    assert abs(got2.loc["x1", "iv"] - 1.497495) < 1e-6
    assert abs(got2.loc["x2", "iv"] - 1.398188) < 1e-6


@pytest.fixture(scope="module")
def nulls_df(spark):
    """Two continuous features with NULLs and repeated values."""
    rng = np.random.RandomState(11)
    rows = []
    for _ in range(400):
        x = float(np.round(rng.normal(), 1))
        z = float(np.round(rng.exponential(2.0), 2))
        y = int(rng.rand() < 1.0 / (1.0 + np.exp(-x)))
        rows.append((None if rng.rand() < 0.1 else x, None if rng.rand() < 0.05 else z, y))
    return spark.createDataFrame(rows, "x double, z double, target int")


@pytest.mark.parametrize("cap", [None, 5], ids=["inside_cap", "above_cap"])
@pytest.mark.parametrize("method", ["dt", "lgb", "chi", "step", "quantile"])
def test_iv_all_continuous_matches_iv_and_woe(nulls_df, tiny_driver_cap, method, cap):
    """iv_all's continuous IV, per-feature iv() and the WOE fit's var_iv
    bin the same way; only summation order may differ."""
    import contextlib

    from didtool_spark.operators.woe import SingleWOETransformer

    scope = tiny_driver_cap(cap) if cap else contextlib.nullcontext()
    with scope:
        got = iv_all(nulls_df, ["x", "z"], "target", cut_method=method, n_bins=6)
        for f_ in ["x", "z"]:
            one = iv(nulls_df, f_, "target", cut_method=method, n_bins=6)
            woe = SingleWOETransformer(method, 6).fit(nulls_df, f_, "target").var_iv
            assert one > 0
            assert abs(got.loc[f_, "iv"] - one) < 1e-12, (f_, got.loc[f_, "iv"], one)
            assert abs(woe - one) < 1e-12, (f_, woe, one)


def test_all_null_label_value_counts_in_neither_class(spark):
    """x=3's only label is NULL: it counts as (0, 0), as a NULL label in
    a mixed group does, instead of making the fits raise TypeError."""
    from didtool_spark.operators.woe import SingleWOETransformer

    df = spark.createDataFrame(
        list(zip([1.0, 1.0, 2.0, 2.0, 3.0, 4.0, 5.0], [0, 1, 1, 0, None, 1, 0])),
        "x double, target int",
    )
    no_null = df.where("target IS NOT NULL")
    for cont in (True, False):
        assert iv(df, "x", "target", cont, n_bins=3) == pytest.approx(
            iv(no_null, "x", "target", cont, n_bins=3), abs=1e-12
        )
    got = iv_all(df, ["x"], "target", n_bins=3)
    assert np.isfinite(got.loc["x", "iv"])
    woe = SingleWOETransformer("dt", 3).fit(df, "x", "target")
    assert np.isfinite(woe.var_iv)


@needs_samples
def test_psi_all_goldens(spark):
    pdf = pd.read_csv(SAMPLES)
    pdf["month"] = ["m%02d" % (i % 6 + 1) for i in range(len(pdf))]
    df = spark.createDataFrame(pdf)
    features = ["v%d" % i for i in range(1, 21)]

    got = psi_all(df, features, group_col="month", categorical_cols=["v5"])
    assert abs(got.loc["v5", "m02"] - 0.000192) < 1e-6
    assert abs(got.loc["v5", "m03"] - 0.000192) < 1e-6
    assert abs(got.loc["v5", "m04"] - 0.000192) < 1e-6
    assert abs(got.loc["v5", "m05"] - 0.015468) < 1e-6
    assert abs(got.loc["v5", "m06"] - 0.036753) < 1e-6
    assert abs(got.loc["v2", "m04"] - 0.578705) < 1e-6

    expected = df.where(df.month < "m04")
    got2 = psi_all(df, features, group_col="month", expected=expected,
                   categorical_cols=["v5"])
    assert abs(got2.loc["v5", "m01"] - 0.000021) < 1e-6
    assert abs(got2.loc["v5", "m05"] - 0.017849) < 1e-6
    assert abs(got2.loc["v5", "m06"] - 0.003370) < 1e-6
    assert abs(got2.loc["v2", "m04"] - 0.254352) < 1e-6


def test_auc_ks_vs_oracle(spark):
    rng = np.random.RandomState(3)
    y = (rng.rand(2000) < 0.3).astype(int)
    s = np.clip(y * 0.25 + rng.rand(2000) * 0.8, 0, 1).round(3)  # ties exist
    df = spark.createDataFrame(
        [(int(a), float(b)) for a, b in zip(y, s)], "y int, s double"
    )

    # oracle AUC: rank statistic with average ranks (pandas)
    ser = pd.DataFrame({"y": y, "s": s})
    ranks = ser["s"].rank(method="average")
    n1 = ser["y"].sum()
    n0 = len(ser) - n1
    auc_exp = (ranks[ser["y"] == 1].sum() - n1 * (n1 + 1) / 2) / (n0 * n1)
    assert abs(auc(df, "y", "s") - auc_exp) < 1e-12

    # oracle KS over thresholds
    t = ser.groupby("s").agg(n=("y", "size"), n1=("y", "sum")).sort_index(ascending=False)
    cum_bad = t["n1"].cumsum() / n1
    cum_good = (t["n"] - t["n1"]).cumsum() / n0
    ks_exp = (cum_bad - cum_good).abs().max()
    assert abs(ks(df, "y", "s") - ks_exp) < 1e-12


def test_exact_auc_plan_has_no_single_partition(spark):
    """The exact path now chunks distinct scores on approx-quantile
    ranges: its cumulative window must be partitioned (no
    SinglePartition exchange), and the chunked prefix sums must equal a
    pandas global cumsum exactly — including NULL and NaN scores, which
    keep the old global-sort ordering (nulls first, NaN last)."""
    from contextlib import redirect_stdout
    from io import StringIO

    from didtool_spark.operators.metrics import (
        _score_table, _with_cum_before_exact)

    rng = np.random.RandomState(7)
    y = (rng.rand(800) < 0.3).astype(int)
    s = rng.rand(800).round(2).astype(object)  # heavy ties
    s[::97] = None
    s[5::151] = float("nan")
    df = spark.createDataFrame(
        [(int(a), None if b is None else float(b)) for a, b in zip(y, s)],
        "y int, s double",
    )
    cum, n, n1 = _with_cum_before_exact(_score_table(df, "y", "s"))
    buf = StringIO()
    with redirect_stdout(buf):
        cum.explain("formatted")
    assert "SinglePartition" not in buf.getvalue(), buf.getvalue()[:3000]

    got = cum.toPandas()
    assert n == got["n"].sum() and n1 == got["n1"].sum()
    # NULL scores group to ONE row in chunk -1 and sort before
    # everything (cum_n_before == 0); NaN groups to one row after every
    # finite score (both map to pandas NaN, so tell them apart by chunk)
    null_row = got[got["chunk"] == -1]
    nan_row = got[got["s"].isna() & (got["chunk"] != -1)]
    assert len(null_row) == 1 and len(nan_row) == 1
    assert null_row["cum_n_before"].iloc[0] == 0.0
    assert nan_row["cum_n_before"].iloc[0] == n - nan_row["n"].iloc[0]
    # finite rows: cum values equal a global pandas cumsum in score order
    fin = got[got["s"].notna()].sort_values("s").reset_index(drop=True)
    n_null = null_row["n"].iloc[0]
    exp_n = fin["n"].cumsum().shift(1, fill_value=0.0) + n_null
    exp_n1 = fin["n1"].cumsum().shift(1, fill_value=0.0) + null_row["n1"].iloc[0]
    assert list(fin["cum_n_before"]) == list(exp_n)
    assert list(fin["cum_n1_before"]) == list(exp_n1)


def test_binned_auc_ks_scale_path(spark):
    """The n_score_bins path: agrees with exact to ~1/n_score_bins and
    its cumulative plan has no single-partition stage."""
    rng = np.random.RandomState(11)
    y = (rng.rand(4000) < 0.3).astype(int)
    s = np.clip(y * 0.2 + rng.rand(4000), 0, 2)  # continuous: all distinct
    df = spark.createDataFrame(
        [(int(a), float(b)) for a, b in zip(y, s)], "y int, s double"
    )
    a_exact, a_binned = auc(df, "y", "s"), auc(df, "y", "s", n_score_bins=2000)
    k_exact, k_binned = ks(df, "y", "s"), ks(df, "y", "s", n_score_bins=2000)
    assert abs(a_exact - a_binned) < 1e-3
    assert abs(k_exact - k_binned) < 1e-3

    from didtool_spark.operators.metrics import _score_table, _with_cum_before
    from io import StringIO
    import contextlib

    cum, _, _ = _with_cum_before(_score_table(df, "y", "s", 2000))

    def plan(d):
        buf = StringIO()
        with contextlib.redirect_stdout(buf):
            d.explain("formatted")
        return buf.getvalue()

    assert "SinglePartition" not in plan(cum), plan(cum)[:3000]


def test_binned_curves_match_exact_shape(spark):
    rng = np.random.RandomState(5)
    y = (rng.rand(3000) < 0.25).astype(int)
    s = np.clip(y * 0.3 + rng.rand(3000), 0, 2)
    df = spark.createDataFrame(
        [(int(a), float(b)) for a, b in zip(y, s)], "y int, s double"
    )
    from didtool_spark.operators.metrics import ks_curve, pr_curve, roc_curve

    r = roc_curve(df, "y", "s", n_score_bins=500)
    assert len(r) <= 500 and r["tpr"].iloc[-1] == 1.0 and r["fpr"].iloc[-1] == 1.0
    assert r["tpr"].is_monotonic_increasing

    p = pr_curve(df, "y", "s", n_score_bins=500)
    assert abs(p["recall"].iloc[-1] - 1.0) < 1e-9
    # precision at full recall == base rate
    assert abs(p["precision"].iloc[-1] - y.mean()) < 1e-9

    kc = ks_curve(df, "y", "s", n_points=50, n_score_bins=500)
    assert len(kc) <= 51
    assert abs(kc["ks"].max() - ks(df, "y", "s", n_score_bins=500)) < 1e-9


def test_binned_auc_ks_property(spark):
    """Property sweep: binned AUC/KS track exact within ~1/n_score_bins
    across label skews and score distributions (fixed seeds — a full
    hypothesis engine adds Spark-session health-check friction for no
    extra coverage here)."""
    for seed, rate, scale in [(0, 0.5, 1.0), (1, 0.05, 3.0), (2, 0.9, 0.1)]:
        rng = np.random.RandomState(seed)
        y = (rng.rand(3000) < rate).astype(int)
        s = y * 0.3 * scale + rng.rand(3000) * scale
        df = spark.createDataFrame(
            [(int(a), float(b)) for a, b in zip(y, s)], "y int, s double"
        )
        assert abs(auc(df, "y", "s") - auc(df, "y", "s", n_score_bins=2000)) < 2e-3
        assert abs(ks(df, "y", "s") - ks(df, "y", "s", n_score_bins=2000)) < 2e-3
