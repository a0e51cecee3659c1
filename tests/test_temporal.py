"""Temporal core vs pandas oracles (merge_asof, groupby-window)."""

import datetime

import numpy as np
import pandas as pd
import pytest

from didtool_spark.data.transcripts import generate_transcripts
from pyspark.sql.functions import col as F_col, length as F_length, max as F_max
from didtool_spark.operators.temporal import (
    asof_join,
    forward_fill,
    sessionize,
    with_lags,
    with_rolling,
)

GAP = 1800


@pytest.fixture(scope="module")
def tr(spark):
    df = generate_transcripts(spark, n_convs=40, avg_turns=15, n_hot=2, hot_factor=20)
    df.cache()
    return df


@pytest.fixture(scope="module")
def tr_pd(tr):
    pdf = tr.toPandas()
    return pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def test_generator_deterministic(spark, tr, tr_pd):
    df2 = generate_transcripts(
        spark, n_convs=40, avg_turns=15, n_hot=2, hot_factor=20, partitions=7
    )
    pdf2 = df2.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    # per-turn text equality under stable turn ordering, any parallelism
    pd.testing.assert_frame_equal(tr_pd, pdf2)
    assert tr_pd["ts"].notna().all()
    # skew present: hot convs much longer than median
    sizes = tr_pd.groupby("conv_id").size()
    assert sizes.max() >= 10 * sizes.median()


def test_sessionize_matches_pandas(tr, tr_pd):
    got = (
        sessionize(tr, gap_seconds=GAP)
        .select("conv_id", "turn_idx", "session_id")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )

    def sess(g):
        gaps = g["ts"].diff().dt.total_seconds()
        return (gaps.isna() | (gaps > GAP)).cumsum() - 1

    expect = tr_pd.groupby("conv_id", group_keys=False).apply(sess).astype("int64")
    assert (got["session_id"].values == expect.values).all()
    assert got["session_id"].max() > 0  # real session boundaries exist


def test_lags_and_rolling_match_pandas(tr, tr_pd):
    feat = tr.withColumn("text_len", __import__("pyspark").sql.functions.length("text"))
    feat = with_lags(feat, ["text_len"], lags=[1, 3], leads=[1])
    feat = with_rolling(feat, [("text_len", "sum", 5), ("text_len", "avg", 5)])
    got = (
        feat.select(
            "conv_id", "turn_idx", "text_len_lag1", "text_len_lag3",
            "text_len_lead1", "text_len_sum_last5", "text_len_avg_last5",
        )
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    p = tr_pd.assign(text_len=tr_pd["text"].str.len())
    g = p.groupby("conv_id")["text_len"]
    exp_lag1 = g.shift(1)
    exp_lag3 = g.shift(3)
    exp_lead1 = g.shift(-1)
    exp_sum5 = g.apply(lambda s: s.shift(1).rolling(5, min_periods=1).sum()).reset_index(
        level=0, drop=True
    )
    exp_avg5 = g.apply(lambda s: s.shift(1).rolling(5, min_periods=1).mean()).reset_index(
        level=0, drop=True
    )
    np.testing.assert_array_equal(got["text_len_lag1"].values, exp_lag1.values)
    np.testing.assert_array_equal(got["text_len_lag3"].values, exp_lag3.values)
    np.testing.assert_array_equal(got["text_len_lead1"].values, exp_lead1.values)
    np.testing.assert_allclose(
        got["text_len_sum_last5"].astype(float).values, exp_sum5.values
    )
    np.testing.assert_allclose(
        got["text_len_avg_last5"].astype(float).values, exp_avg5.values
    )


def test_forward_fill_matches_pandas(tr, tr_pd):
    got = (
        forward_fill(tr, ["tool"])
        .select("conv_id", "turn_idx", "tool_ffill")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    expect = tr_pd.groupby("conv_id")["tool"].ffill()
    assert (
        got["tool_ffill"].fillna("∅").values == expect.fillna("∅").values
    ).all()
    assert got["tool_ffill"].notna().sum() > tr_pd["tool"].notna().sum()


def _asof_oracle(anchors_pd, feats_pd, strict):
    res = pd.merge_asof(
        anchors_pd.sort_values("ts", kind="mergesort"),
        feats_pd.sort_values("ts", kind="mergesort"),
        on="ts",
        by="conv_id",
        allow_exact_matches=not strict,
        direction="backward",
    )
    return res.sort_values(["conv_id", "ts", "turn_idx"]).reset_index(drop=True)


@pytest.mark.parametrize("strategy", ["window", "bucketed"])
@pytest.mark.parametrize("strict", [False, True])
def test_asof_join_matches_merge_asof(tr, tr_pd, strict, strategy):
    # features: tool turns carry a score; anchors: user turns
    from pyspark.sql import functions as F

    feats = tr.where(F.col("role") == "tool").select(
        "conv_id", "ts", F.length("text").cast("double").alias("tool_score")
    )
    anchors = tr.where(F.col("role") == "user").select("conv_id", "turn_idx", "ts")
    got = (
        asof_join(
            anchors, feats, keys="conv_id", ts_col="ts",
            value_cols=["tool_score"], strict=strict,
            strategy=strategy, n_buckets=16,
        )
        .toPandas()
        .sort_values(["conv_id", "ts", "turn_idx"])
        .reset_index(drop=True)
    )
    fp = tr_pd[tr_pd["role"] == "tool"][["conv_id", "ts"]].assign(
        tool_score=tr_pd[tr_pd["role"] == "tool"]["text"].str.len().astype(float)
    )
    ap = tr_pd[tr_pd["role"] == "user"][["conv_id", "turn_idx", "ts"]]
    expect = _asof_oracle(ap, fp, strict)
    assert len(got) == len(expect)
    np.testing.assert_allclose(
        got["tool_score"].values, expect["tool_score"].values, equal_nan=True
    )
    assert got["tool_score"].notna().any()


@pytest.mark.parametrize("strategy", ["window"])
@pytest.mark.parametrize(
    "direction, strict, tolerance",
    [
        ("forward", False, None),
        ("forward", True, None),
        ("nearest", False, None),
        ("nearest", True, None),
        ("backward", False, 600.0),
        ("forward", False, 600.0),
        ("nearest", False, 600.0),
    ],
)
def test_asof_direction_tolerance_matches_merge_asof(
    tr, tr_pd, strategy, direction, strict, tolerance
):
    """direction='forward'/'nearest' and tolerance replicate
    pandas.merge_asof exactly (incl. the equidistant-tie-goes-backward
    rule) on the window strategy."""
    from pyspark.sql import functions as F

    feats = tr.where(F.col("role") == "tool").select(
        "conv_id", "ts", F.length("text").cast("double").alias("tool_score")
    )
    anchors = tr.where(F.col("role") == "user").select("conv_id", "turn_idx", "ts")
    got = (
        asof_join(
            anchors, feats, keys="conv_id", ts_col="ts",
            value_cols=["tool_score"], strict=strict, strategy=strategy,
            direction=direction, tolerance=tolerance,
        )
        .toPandas()
        .sort_values(["conv_id", "ts", "turn_idx"])
        .reset_index(drop=True)
    )
    fp = tr_pd[tr_pd["role"] == "tool"][["conv_id", "ts"]].assign(
        tool_score=tr_pd[tr_pd["role"] == "tool"]["text"].str.len().astype(float)
    )
    ap = tr_pd[tr_pd["role"] == "user"][["conv_id", "turn_idx", "ts"]]
    expect = pd.merge_asof(
        ap.sort_values("ts", kind="mergesort"),
        fp.sort_values("ts", kind="mergesort"),
        on="ts",
        by="conv_id",
        allow_exact_matches=not strict,
        direction=direction,
        tolerance=None if tolerance is None else pd.Timedelta(seconds=tolerance),
    ).sort_values(["conv_id", "ts", "turn_idx"]).reset_index(drop=True)
    assert len(got) == len(expect)
    np.testing.assert_allclose(
        got["tool_score"].values, expect["tool_score"].values, equal_nan=True
    )
    assert got["tool_score"].notna().any()
    if tolerance is not None:
        assert got["tool_score"].isna().any()  # tolerance must bite


def test_asof_nearest_tie_goes_backward(spark):
    """Equidistant before/after features: the backward one wins (the
    pandas rule, probed empirically)."""
    anchors = spark.createDataFrame(
        [("k", datetime.datetime(2026, 1, 1, 0, 0, 10))], "conv_id string, ts timestamp"
    )
    feats = spark.createDataFrame(
        [
            ("k", datetime.datetime(2026, 1, 1, 0, 0, 5), 1.0),
            ("k", datetime.datetime(2026, 1, 1, 0, 0, 15), 2.0),
        ],
        "conv_id string, ts timestamp, v double",
    )
    out = asof_join(
        anchors, feats, keys="conv_id", value_cols=["v"], direction="nearest",
    ).collect()
    assert out[0]["v"] == 1.0


def test_asof_bucketed_rejects_non_backward():
    # signature-level guard: raises before touching the DataFrames
    with pytest.raises(ValueError, match="bucketed"):
        asof_join(None, None, strategy="bucketed", direction="forward")
    with pytest.raises(ValueError, match="bucketed"):
        asof_join(None, None, strategy="bucketed", tolerance=5.0)
    with pytest.raises(ValueError, match="direction"):
        asof_join(None, None, direction="sideways")


def test_sessionize_bucketed_equals_window(tr):
    """Carry-trick skew-splitting sessionization must be bit-identical
    to the single-window form (small buckets force many carries)."""
    a = (
        sessionize(tr, gap_seconds=GAP, strategy="window")
        .select("conv_id", "turn_idx", "session_id")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    b = (
        sessionize(tr, gap_seconds=GAP, strategy="bucketed", bucket_seconds=3600)
        .select("conv_id", "turn_idx", "session_id")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert (a["session_id"].values == b["session_id"].values).all()


@pytest.mark.parametrize("bucket_seconds", [3600, 7200])
def test_lags_bucketed_equals_window(tr, bucket_seconds):
    """Carry-prefix bucketed lag/lead must be identical to the
    single-window form (small buckets force many boundary reads)."""
    from pyspark.sql import functions as F

    feat = tr.withColumn("text_len", F.length("text"))
    kw = dict(cols=["text_len", "tool"], lags=[1, 3, 7], leads=[1, 2])
    a = (
        with_lags(feat, **kw)
        .select("conv_id", "turn_idx", "text_len_lag1", "text_len_lag3",
                "text_len_lag7", "text_len_lead1", "text_len_lead2",
                "tool_lag1", "tool_lag3", "tool_lag7", "tool_lead1", "tool_lead2")
        .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    b = (
        with_lags(feat, strategy="bucketed", bucket_seconds=bucket_seconds, **kw)
        .select(*a.columns)
        .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_rolling_bucketed_rows_equals_window(tr):
    from pyspark.sql import functions as F

    feat = tr.withColumn("text_len", F.length("text")).withColumn(
        "score", F.when(F.col("turn_idx") % 5 != 0, F.length("text").cast("double"))
    )
    specs = [
        ("text_len", "sum", 5), ("text_len", "avg", 5), ("text_len", "count", 5),
        ("score", "min", 7), ("score", "max", 7), ("score", "sum", 3),
        ("score", "stddev", 7),
    ]
    sel = ["conv_id", "turn_idx"] + [f"{c}_{a}_last{k}" for c, a, k in specs]
    for include_current in (False, True):
        a = (
            with_rolling(feat, specs, include_current=include_current)
            .select(*sel)
            .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        )
        b = (
            with_rolling(feat, specs, include_current=include_current,
                         strategy="bucketed", bucket_seconds=3600)
            .select(*sel)
            .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(a, b, check_exact=False, atol=1e-9, rtol=1e-9)


def test_rolling_bucketed_time_equals_window(tr):
    from pyspark.sql import functions as F

    feat = tr.withColumn("text_len", F.length("text"))
    specs = [("text_len", "sum", 1800), ("text_len", "avg", 900),
             ("text_len", "count", 3600)]
    sel = ["conv_id", "turn_idx"] + [f"{c}_{a}_{k}s" for c, a, k in specs]
    a = (
        with_rolling(feat, specs, ts_col="ts")
        .select(*sel)
        .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    b = (
        with_rolling(feat, specs, ts_col="ts", strategy="bucketed",
                     bucket_seconds=3600)
        .select(*sel)
        .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


@pytest.mark.parametrize("bucket_seconds", [1800, 3600])
def test_forward_fill_bucketed_equals_window(tr, bucket_seconds):
    a = (
        forward_fill(tr, ["tool"])
        .select("conv_id", "turn_idx", "tool_ffill")
        .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    b = (
        forward_fill(tr, ["tool"], strategy="bucketed",
                     bucket_seconds=bucket_seconds)
        .select("conv_id", "turn_idx", "tool_ffill")
        .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_materialize_bucketed_equals_window(tr):
    from didtool_spark.plans.materialize import materialize_features

    a = (
        materialize_features(tr)
        .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    b = (
        materialize_features(tr, strategy="bucketed", bucket_seconds=3600)
        .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        a, b[a.columns], check_exact=False, atol=1e-9, rtol=1e-9, check_like=True
    )


# ------------------------------------------------- build_training_set

def test_build_training_set_single_exchange_and_values(spark, tr, tr_pd):
    """Multi-table point-in-time join: window strategy must match a
    chain of pairwise as-of joins AND a pandas merge_asof oracle, with
    mixed per-table strictness; the single-pass plan must shuffle once
    however many tables join."""
    from didtool_spark.operators.temporal import FeatureTable, build_training_set

    anchors = tr.where(F_col("role") == "user").select("conv_id", "turn_idx", "ts")
    # two feature tables, deduped at (conv_id, ts) for deterministic ties
    t_len = (
        tr.where(F_col("role") == "assistant")
        .groupBy("conv_id", "ts")
        .agg(F_max(F_length("text")).alias("alen"))
    )
    t_tool = (
        tr.where(F_col("tool").isNotNull())
        .groupBy("conv_id", "ts")
        .agg(F_max("turn_idx").alias("tool_turn"))
    )

    tables = {
        "al": FeatureTable(t_len),                 # inclusive (<=)
        "tl": FeatureTable(t_tool, strict=True),   # strict (<)
    }
    got = (
        build_training_set(anchors, tables, keys="conv_id", ts_col="ts")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )

    chain = (
        build_training_set(
            anchors, tables, keys="conv_id", ts_col="ts", strategy="chain"
        )
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["conv_id", "turn_idx", "al_alen", "tl_tool_turn"]],
        chain[["conv_id", "turn_idx", "al_alen", "tl_tool_turn"]],
        check_dtype=False,
    )

    # pandas oracle
    a_pd = got[["conv_id", "turn_idx"]].merge(
        tr_pd[tr_pd["role"] == "user"][["conv_id", "turn_idx", "ts"]],
        on=["conv_id", "turn_idx"],
    ).sort_values("ts", kind="mergesort")
    l_pd = (
        tr_pd[tr_pd["role"] == "assistant"]
        .assign(alen=lambda d: d["text"].str.len())
        .groupby(["conv_id", "ts"], as_index=False)["alen"].max()
        .sort_values("ts", kind="mergesort")
    )
    o_pd = (
        tr_pd[tr_pd["tool"].notna()]
        .groupby(["conv_id", "ts"], as_index=False)["turn_idx"].max()
        .rename(columns={"turn_idx": "tool_turn"})
        .sort_values("ts", kind="mergesort")
    )
    exp = pd.merge_asof(
        a_pd, l_pd, on="ts", by="conv_id", direction="backward",
        allow_exact_matches=True,
    )
    exp = pd.merge_asof(
        exp, o_pd, on="ts", by="conv_id", direction="backward",
        allow_exact_matches=False,
    ).sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert np.allclose(
        got["al_alen"].astype(float), exp["alen"].astype(float), equal_nan=True
    )
    assert np.allclose(
        got["tl_tool_turn"].astype(float), exp["tool_turn"].astype(float),
        equal_nan=True,
    )

    # exactly ONE Exchange in the single-pass plan however many tables
    # join (the chain pays one per table) — measured over literal
    # (exchange-free) inputs so only the operator's own shuffles count
    spark = tr.sparkSession
    lit_a = spark.createDataFrame(
        [("c1", 1, datetime.datetime(2026,1,1))], "conv_id string, turn_idx int, ts timestamp"
    )
    lit_t = {
        "al": FeatureTable(
            spark.createDataFrame(
                [("c1", datetime.datetime(2026,1,1), 3)],
                "conv_id string, ts timestamp, alen int",
            )
        ),
        "tl": FeatureTable(
            spark.createDataFrame(
                [("c1", datetime.datetime(2026,1,1), 0)],
                "conv_id string, ts timestamp, tool_turn int",
            ),
            strict=True,
        ),
    }

    def n_exchanges(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("Exchange hashpartitioning")

    single = build_training_set(lit_a, lit_t, keys="conv_id", ts_col="ts")
    chained = build_training_set(
        lit_a, lit_t, keys="conv_id", ts_col="ts", strategy="chain"
    )
    assert n_exchanges(single) == 1
    assert n_exchanges(chained) == 2


# ------------------------------------------------------------ interval_join

def test_interval_join_matches_theta_join(spark):
    """Bucketed containment join must equal the raw theta join on
    random points/intervals, incl. overlapping intervals, inclusive
    bounds, and points in no interval (left mode)."""
    import datetime as dt
    import random

    from pyspark.sql import functions as F

    from didtool_spark.operators.temporal import interval_join

    random.seed(21)
    t0 = dt.datetime(2024, 1, 1)
    pts = [("k%d" % (i % 3), i,
            t0 + dt.timedelta(seconds=random.randrange(0, 40000)))
           for i in range(200)]
    ivs = []
    for j in range(30):
        s = random.randrange(0, 36000)
        ivs.append(("k%d" % (j % 3), j,
                    t0 + dt.timedelta(seconds=s),
                    t0 + dt.timedelta(seconds=s + random.choice([60, 3600, 7200]))))
    p = spark.createDataFrame(pts, "conv_id string, pid int, ts timestamp")
    iv = spark.createDataFrame(
        ivs, "conv_id string, iid int, start_ts timestamp, end_ts timestamp"
    )
    got = {
        (r["pid"], r["iid"])
        for r in interval_join(p, iv, keys="conv_id",
                               bucket_seconds=1800).collect()
    }
    want = {
        (r["pid"], r["iid"])
        for r in p.alias("p").join(
            iv.alias("i"),
            (F.col("p.conv_id") == F.col("i.conv_id"))
            & (F.col("p.ts") >= F.col("i.start_ts"))
            & (F.col("p.ts") <= F.col("i.end_ts")),
        ).select("p.pid", "i.iid").collect()
    }
    assert got == want and len(want) > 20

    left = interval_join(p, iv, keys="conv_id", bucket_seconds=1800,
                         how="left")
    matched_pids = {a for a, _ in want}
    rows = left.collect()
    assert len(rows) == len(want) + (200 - len(matched_pids))
    assert all(r["iid"] is None for r in rows if r["pid"] not in matched_pids)


def test_interval_join_guard_and_validation(spark):
    import datetime as dt

    import pytest

    from didtool_spark.operators.temporal import interval_join

    t0 = dt.datetime(2024, 1, 1)
    p = spark.createDataFrame([("a", t0)], "conv_id string, ts timestamp")
    iv = spark.createDataFrame(
        [("a", t0, t0 + dt.timedelta(days=400))],
        "conv_id string, start_ts timestamp, end_ts timestamp",
    )
    with pytest.raises(Exception, match="spans more than"):
        interval_join(p, iv, bucket_seconds=60,
                      max_buckets_per_interval=100).collect()
    with pytest.raises(ValueError, match="how"):
        interval_join(p, iv, how="outer")


def test_interval_join_subsecond_boundaries(spark):
    """A point 0.3s before a same-second interval start must NOT match
    (the residual filter compares raw timestamps, not the truncated
    epochs that place rows into buckets)."""
    import datetime as dt

    from didtool_spark.operators.temporal import interval_join

    t0 = dt.datetime(2024, 1, 1)
    p = spark.createDataFrame(
        [("a", 1, t0 + dt.timedelta(seconds=10, microseconds=200000)),
         ("a", 2, t0 + dt.timedelta(seconds=10, microseconds=700000))],
        "conv_id string, pid int, ts timestamp",
    )
    iv = spark.createDataFrame(
        [("a", 7, t0 + dt.timedelta(seconds=10, microseconds=500000),
          t0 + dt.timedelta(seconds=40))],
        "conv_id string, iid int, start_ts timestamp, end_ts timestamp",
    )
    got = {r["pid"] for r in
           interval_join(p, iv, keys="conv_id", bucket_seconds=60).collect()}
    assert got == {2}
