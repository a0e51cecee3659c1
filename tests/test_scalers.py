"""Units for scalers.py (scaling / imputation / winsorization) vs
numpy-pandas oracles, plus fit/apply-split and NULL-edge invariants.
Driver-gate oracles: SQL_SCALE_FEATURES / SQL_IMPUTE / SQL_WINSORIZE."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from didtool_spark.operators.scalers import (
    apply_imputer,
    apply_scaler,
    fit_imputer,
    fit_scaler,
    winsorize,
)


def _num_df(spark, seed=5, n=200):
    rng = np.random.default_rng(seed)
    a = rng.normal(10, 3, n)
    b = rng.exponential(2, n)
    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(a, b))]
    rows.append((n, None, None))  # NULLs drop out of the fit
    return spark.createDataFrame(rows, "i long, a double, b double"), a, b


@pytest.mark.parametrize("method", ["standard", "minmax", "robust"])
def test_scaler_matches_numpy(spark, method):
    df, a, b = _num_df(spark)
    stats = fit_scaler(df, ["a", "b"], method=method)
    got = {r["feature"]: (r["center"], r["scale"]) for r in stats.collect()}
    for name, x in (("a", a), ("b", b)):
        if method == "standard":
            exp = (x.mean(), x.std(ddof=1))
        elif method == "minmax":
            exp = (x.min(), x.max() - x.min())
        else:
            q = np.quantile(x, [0.25, 0.5, 0.75])
            exp = (q[1], q[2] - q[0])
        assert abs(got[name][0] - exp[0]) < 1e-9, (method, name)
        assert abs(got[name][1] - exp[1]) < 1e-9, (method, name)
    out = {r["i"]: r for r in apply_scaler(df, stats).collect()}
    c, s = got["a"]
    assert abs(out[0]["a_scaled"] - (a[0] - c) / s) < 1e-9
    assert out[200]["a_scaled"] is None  # NULL input stays NULL


def test_scaler_constant_column_zero(spark):
    df = spark.createDataFrame([(1.0,), (1.0,), (1.0,)], "x double")
    stats = fit_scaler(df, ["x"], method="standard")
    out = apply_scaler(df, stats).collect()
    assert all(r["x_scaled"] == 0.0 for r in out)


def test_imputer_mean_and_mode(spark):
    rows = [
        (0, 1.0, "a"), (1, None, "b"), (2, 3.0, None),
        (3, None, "a"), (4, 8.0, "b"),
    ]
    df = spark.createDataFrame(rows, "i long, x double, c string")
    stats = fit_imputer(df, num_cols=["x"], cat_cols=["c"])
    st = {r["feature"]: r for r in stats.collect()}
    assert abs(st["x"]["fill_num"] - 4.0) < 1e-12  # mean(1,3,8)
    assert st["c"]["fill_cat"] == "a"  # tie a/b x2 -> lexicographic min
    out = {r["i"]: r for r in apply_imputer(df, stats).collect()}
    assert out[1]["x"] == 4.0 and out[3]["x"] == 4.0
    assert out[2]["c"] == "a"
    assert out[0]["x"] == 1.0 and out[0]["c"] == "a"  # untouched


def test_imputer_median_and_all_null(spark):
    rows = [(0, 1.0, None), (1, 5.0, None), (2, 100.0, None), (3, None, None)]
    df = spark.createDataFrame(rows, "i long, x double, c string")
    stats = fit_imputer(df, num_cols=["x"], cat_cols=["c"], num_strategy="median")
    st = {r["feature"]: r for r in stats.collect()}
    assert st["x"]["fill_num"] == 5.0
    assert st["c"]["fill_cat"] is None  # all-NULL categorical
    out = {r["i"]: r for r in apply_imputer(df, stats).collect()}
    assert out[3]["x"] == 5.0
    assert all(out[i]["c"] is None for i in range(4))  # nothing to fill with


def test_winsorize_matches_numpy(spark):
    df, a, b = _num_df(spark, seed=9)
    out = {r["i"]: r for r in winsorize(df, ["a", "b"], 0.1, 0.9).collect()}
    lo, hi = np.quantile(a, [0.1, 0.9])
    for i, x in enumerate(a):
        assert abs(out[i]["a_w"] - min(max(x, lo), hi)) < 1e-9, i
    assert out[200]["a_w"] is None  # NULL passes through


def test_winsorize_train_serve_split_is_pure_expr(spark):
    # the clip must be literal-inlined: applying to a DIFFERENT frame
    # uses the fitted bounds, and the plan has no exchange
    import re

    from tests.test_plan_shape import plan_str

    df = spark.createDataFrame([(float(i),) for i in range(100)], "x double")
    out = winsorize(df, ["x"], 0.05, 0.95)
    assert not re.findall(r"\(\d+\) Exchange", plan_str(out))


def test_exact_percentiles_bit_identical_to_spark_percentile(spark, force_distributed):
    """The r6 histogram percentile (exact_percentiles) must reproduce
    F.percentile BIT-exactly: same ordinals, same two-sided
    interpolation, same equal-key short-circuits — over duplicates,
    skewed counts, negative values, and single-row groups."""
    import random

    from pyspark.sql import functions as F

    from didtool_spark.operators.scalers import _melt_num, exact_percentiles

    rng = random.Random(31)
    cases = [
        [rng.uniform(-1e6, 1e6) for _ in range(rng.randint(1, 60))],
        [rng.choice([1.5, 2.25, -3.0, 7.125]) for _ in range(50)],  # dups
        [5.0] * 17,                                                  # constant
        [float(i % 7) for i in range(33)],                           # few keys
    ]
    probs = [0.0, 0.05, 1 / 3, 0.5, 0.77, 0.95, 1.0]
    for vals in cases:
        df = spark.createDataFrame([(v,) for v in vals], "a double")
        m = _melt_num(df, ["a"])
        got = exact_percentiles(m, probs)["a"]
        exp = df.agg(
            F.percentile("a", F.array(*[F.lit(p) for p in probs])).alias("q")
        ).collect()[0]["q"]
        assert got == list(exp), (vals[:5], got, exp)

    # all-NULL column: absent from the result (winsorize maps it to
    # (None, None) bounds, preserving the F.percentile NULL contract)
    dfn = spark.createDataFrame([(None,), (None,)], "a double")
    assert exact_percentiles(_melt_num(dfn, ["a"]), [0.5]) == {}

    # the window-based distributed fallback must agree with the numpy
    # path exactly
    vals = [rng.uniform(-100, 100) for _ in range(40)] + [3.5] * 5
    df = spark.createDataFrame([(v,) for v in vals], "a double")
    m = _melt_num(df, ["a"])
    fast = exact_percentiles(m, probs)
    with force_distributed():
        slow = exact_percentiles(m, probs)
    assert fast == slow
