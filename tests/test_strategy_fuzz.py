"""Property-based (hypothesis) fuzzers for every window-vs-bucketed
strategy pair (VERDICT r3 item 10).

The hand-built fixtures in test_temporal.py / test_transcript_ops.py /
test_ts_features.py pin known boundary cases; these tests generate
RANDOM transcripts — ragged conversation lengths, zero inter-arrival
gaps (order ties broken by turn_idx), NULL/empty text, NULL roles,
NULL tools, NULL values, heavy text repeats — and assert the bucketed
hot-key strategy is output-identical to the single-window strategy on
each draw.  Tiny bucket sizes (2 turns / 30 minutes) force many carry
boundaries per conversation.  One conversation may have a NULL key (the
window strategy groups NULL keys as one key, so the bucketed stitch must
too); ``NULL_KEY_ROWS`` pins that case on every test.
"""

from __future__ import annotations

import datetime

import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F

from didtool_spark.operators.labels import (
    with_future_label,
    with_time_to_event,
)
from didtool_spark.operators.seq_features import (
    transition_counts,
    with_turn_novelty,
)
from didtool_spark.operators.temporal import (
    asof_join,
    forward_fill,
    sessionize,
    with_lags,
    with_rolling,
)
from didtool_spark.operators.transcript import (
    attach_outcome,
    loop_stats,
    role_stats,
    truncate_conversations,
)
from didtool_spark.operators.ts_features import (
    with_cusum,
    with_decayed,
    with_rolling_distinct,
    with_zscore,
)
from didtool_spark.plans.materialize import materialize_features

BASE = datetime.datetime(2026, 1, 1, 12, 0, 0)
TEXTS = ["hi", "run the tool", "", None, "ok", "try again", "loop loop", "hi"]
ROLES = ["user", "assistant", "tool", None]
TOOLS = ["search", "exec", None]

FUZZ = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@st.composite
def transcripts(draw):
    """Rows (conv_id, turn_idx, role, text, tool, ts, value): 1-3
    ragged conversations, gaps in [0, 3600]s (ties included), nullable
    everything except the order columns; the last conversation's key
    may be NULL."""
    rows = []
    n_convs = draw(st.integers(1, 3))
    null_last = draw(st.booleans())
    for ci in range(n_convs):
        n_turns = draw(st.integers(1, 8))
        gaps = draw(
            st.lists(
                st.sampled_from([0, 1, 30, 600, 1799, 1800, 1801, 3600]),
                min_size=n_turns, max_size=n_turns,
            )
        )
        t = 0
        for ti in range(n_turns):
            t += gaps[ti]
            rows.append(
                (
                    None if null_last and ci == n_convs - 1 else f"c{ci}",
                    ti,
                    draw(st.sampled_from(ROLES)),
                    draw(st.sampled_from(TEXTS)),
                    draw(st.sampled_from(TOOLS)),
                    BASE + datetime.timedelta(seconds=t),
                    draw(
                        st.one_of(
                            st.none(),
                            st.floats(-100, 100, allow_nan=False, width=32),
                        )
                    ),
                )
            )
    return rows


def _null_key_rows():
    """Six turns under conv_id NULL next to six under "a", 20 minutes
    apart: every 30-minute bucket boundary needs a carry."""
    rows = []
    for key in ("a", None):
        for ti in range(6):
            rows.append(
                (
                    key, ti, ROLES[ti % 3], TEXTS[ti], TOOLS[ti % 2],
                    BASE + datetime.timedelta(seconds=1200 * ti),
                    None if ti == 2 else float(ti),
                )
            )
    return rows


NULL_KEY_ROWS = _null_key_rows()


def _long_rows():
    """28 turns under "a" and 14 under NULL, 0 to 1801 s apart: 30-minute
    buckets of 1 to 11 turns, so the K=10 tail of the bucketed
    materialize chain both spans several buckets and is cut at K."""
    gaps = [0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1801, 600, 1799, 1801, 30]
    rows = []
    for key, n in (("a", 28), (None, 14)):
        t = 0
        for ti in range(n):
            t += gaps[ti % len(gaps)]
            rows.append(
                (
                    key, ti, ROLES[ti % 4], TEXTS[ti % len(TEXTS)], TOOLS[ti % 3],
                    BASE + datetime.timedelta(seconds=t),
                    None if ti % 5 == 2 else float(ti),
                )
            )
    return rows


LONG_ROWS = _long_rows()

SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp, value double"
)


def _cmp(a_df, b_df, sort_cols):
    cols = sorted(a_df.columns)
    a = (
        a_df.toPandas()[cols]
        .sort_values(sort_cols, na_position="last")
        .reset_index(drop=True)
    )
    b = (
        b_df.toPandas()[cols]
        .sort_values(sort_cols, na_position="last")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b, check_exact=False, atol=1e-9, rtol=1e-9)


@FUZZ
@given(rows=transcripts())
@example(rows=NULL_KEY_ROWS)
def test_temporal_bucketed_equals_window_fuzz(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    _cmp(
        sessionize(df, gap_seconds=1800, strategy="window"),
        sessionize(df, gap_seconds=1800, strategy="bucketed",
                   bucket_seconds=1800),
        ["conv_id", "turn_idx"],
    )
    feat = df.withColumn("text_len", F.length("text"))
    kw = dict(cols=["text_len", "tool"], lags=[1, 3], leads=[1])
    _cmp(
        with_lags(feat, **kw),
        with_lags(feat, strategy="bucketed", bucket_seconds=1800, **kw),
        ["conv_id", "turn_idx"],
    )
    specs = [("value", "sum", 3), ("value", "avg", 2), ("value", "stddev", 4),
             ("value", "min", 3), ("value", "count", 5)]
    _cmp(
        with_rolling(feat, specs),
        with_rolling(feat, specs, strategy="bucketed", bucket_seconds=1800),
        ["conv_id", "turn_idx"],
    )
    tspecs = [("value", "sum", 1800), ("value", "count", 900)]
    _cmp(
        with_rolling(feat, tspecs, ts_col="ts"),
        with_rolling(feat, tspecs, ts_col="ts", strategy="bucketed",
                     bucket_seconds=1800),
        ["conv_id", "turn_idx"],
    )
    _cmp(
        forward_fill(df, ["tool", "value"]),
        forward_fill(df, ["tool", "value"], strategy="bucketed",
                     bucket_seconds=1800),
        ["conv_id", "turn_idx"],
    )
    # as-of: every turn is an anchor, so anchors share timestamps with
    # features; features are one row per (key, ts) — two features at one
    # instant would make "the latest" a tie — with NULL values kept, and
    # the user turns they skip leave anchor-only buckets
    feats = (
        df.where(F.col("role").isin("assistant", "tool"))
        .groupBy("conv_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    anchors = df.select("conv_id", "turn_idx", "ts")
    for strict in (False, True):
        kw = dict(keys="conv_id", value_cols=["value"], strict=strict)
        _cmp(
            asof_join(anchors, feats, **kw),
            asof_join(anchors, feats, strategy="bucketed", bucket_seconds=600,
                      **kw),
            ["conv_id", "turn_idx"],
        )


@FUZZ
@given(rows=transcripts())
@example(rows=NULL_KEY_ROWS)
@example(rows=LONG_ROWS)
def test_materialize_bucketed_equals_window_fuzz(spark, rows):
    """The fused bucketed chain (sessionize, lags, rolling and
    forward_fill in one scan) equals the window strategy, with 30-minute
    buckets that hold fewer rows than the K=10 rolling tail."""
    df = spark.createDataFrame(rows, SCHEMA)
    _cmp(
        materialize_features(df),
        materialize_features(df, strategy="bucketed", bucket_seconds=1800),
        ["conv_id", "turn_idx"],
    )


@FUZZ
@given(rows=transcripts(), keep=st.sampled_from(["head", "tail"]),
       budget=st.sampled_from([0, 5, 12, 40]))
@example(rows=NULL_KEY_ROWS, keep="head", budget=12)
def test_transcript_bucketed_equals_window_fuzz(spark, rows, keep, budget):
    df = spark.createDataFrame(rows, SCHEMA)
    _cmp(
        loop_stats(df),
        loop_stats(df, strategy="bucketed", bucket_size=2),
        ["conv_id"],
    )
    _cmp(
        role_stats(df),
        role_stats(df, strategy="bucketed", bucket_size=2),
        ["conv_id"],
    )
    _cmp(
        attach_outcome(df),
        attach_outcome(df, strategy="bucketed", bucket_size=2),
        ["conv_id", "turn_idx"],
    )
    toks = df.withColumn("n_tokens", F.length("text"))
    _cmp(
        truncate_conversations(toks, budget=budget, keep=keep),
        truncate_conversations(toks, budget=budget, keep=keep,
                               strategy="bucketed", bucket_size=2),
        ["conv_id", "turn_idx"],
    )


@FUZZ
@given(rows=transcripts())
@example(rows=NULL_KEY_ROWS)
def test_feature_bucketed_equals_window_fuzz(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    _cmp(
        transition_counts(df, "tool"),
        transition_counts(df, "tool", strategy="bucketed",
                          bucket_seconds=1800),
        ["conv_id", "from", "to"],
    )
    _cmp(
        with_turn_novelty(df, "text"),
        with_turn_novelty(df, "text", strategy="bucketed",
                          bucket_seconds=1800),
        ["conv_id", "turn_idx"],
    )
    specs = [("value", "sum", 1800), ("value", "count", 900)]
    _cmp(
        with_future_label(df, specs),
        with_future_label(df, specs, strategy="bucketed",
                          bucket_seconds=1800),
        ["conv_id", "turn_idx"],
    )
    tte_kw = dict(event=F.col("role") == "tool", horizon_s=1800)
    _cmp(
        with_time_to_event(df, **tte_kw),
        with_time_to_event(df, strategy="bucketed", bucket_seconds=600,
                           **tte_kw),
        ["conv_id", "turn_idx"],
    )
    _cmp(
        with_decayed(df, [("value", "sum"), ("value", "count")],
                     half_life_s=600),
        with_decayed(df, [("value", "sum"), ("value", "count")],
                     half_life_s=600, strategy="bucketed",
                     bucket_seconds=1800),
        ["conv_id", "turn_idx"],
    )
    _cmp(
        with_rolling_distinct(df, "tool", seconds=1800),
        with_rolling_distinct(df, "tool", seconds=1800, strategy="bucketed",
                              bucket_seconds=1800),
        ["conv_id", "turn_idx"],
    )
    _cmp(
        with_zscore(df, "value", k=4),
        with_zscore(df, "value", k=4, strategy="bucketed",
                    bucket_seconds=1800),
        ["conv_id", "turn_idx"],
    )
    ckw = dict(value_col="value", target=1.0, slack=0.2, threshold=5.0)
    _cmp(
        with_cusum(df, **ckw),
        with_cusum(df, strategy="bucketed", bucket_seconds=1800, **ckw),
        ["conv_id", "turn_idx"],
    )


@FUZZ
@given(rows=transcripts())
@example(rows=NULL_KEY_ROWS)
def test_scd2_bucketed_equals_window_fuzz(spark, rows):
    """SCD2 run compression: the bucketed carry-in run numbering must
    reproduce the window strategy on ragged, tie-heavy, NULL-valued
    streams — tiny buckets force empty-bucket carries."""
    from didtool_spark.operators.scd import scd2_compress

    df = spark.createDataFrame(rows, SCHEMA)
    w = scd2_compress(
        df, ["role", "tool"], keys="conv_id", order=("ts", "turn_idx"),
        ts_col="ts", strategy="window",
    )
    b = scd2_compress(
        df, ["role", "tool"], keys="conv_id", order=("ts", "turn_idx"),
        ts_col="ts", strategy="bucketed", bucket_seconds=60,
    )
    # two runs can share a valid_from under zero gaps — sort on every
    # column so the compare is unambiguous
    _cmp(w, b, sorted(w.columns))
