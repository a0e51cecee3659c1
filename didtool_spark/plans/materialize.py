"""Flagship feature-materialization job: transcripts -> point-in-time
feature table.

One shuffle on conv_id; every window shares the same partitioning so
Catalyst plans a single sort + chained window operators (check with
``.explain("formatted")`` — there must be exactly one Exchange before
the window chain). Text features are pure JVM expressions (no Python
in the row path).
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..functions.utils import persisted
from ..operators.temporal import (
    _bucketed_scan,
    _ffill_step,
    _rolling_step,
    _session_step,
    _shift_step,
    forward_fill,
    sessionize,
    with_lags,
    with_rolling,
)

ORDER = ("ts", "turn_idx")
LAG_COLS, LAGS = ["text_len", "n_tokens"], [1, 2]
ROLLING = [
    ("text_len", "sum", 5),
    ("text_len", "avg", 5),
    ("n_tokens", "sum", 5),
    ("is_tool", "sum", 10),
    ("is_user", "sum", 10),
]


def _n_tokens() -> Column:
    """Token count of ``text`` as spaces + 1, via char ops instead of a
    regex split — ~4x cheaper in the hot path and identical on
    single-space text (didtool_spark.operators.text keeps the
    regex/BPE-ish counts for document analysis where exact tokenization
    matters)."""
    return (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        + F.lit(1)
    )


def turn_features(df: DataFrame) -> DataFrame:
    """Per-turn text/turn features (stateless column expressions)."""
    return (
        df.withColumn("text_len", F.length("text"))
        .withColumn("n_tokens", _n_tokens())
        .withColumn("is_user", (F.col("role") == "user").cast("int"))
        .withColumn("is_assistant", (F.col("role") == "assistant").cast("int"))
        .withColumn("is_tool", (F.col("role") == "tool").cast("int"))
        .withColumn("has_tool", F.col("tool").isNotNull().cast("int"))
    )


def materialize_features(
    df: DataFrame,
    gap_seconds: int = 1800,
    strategy: str = "window",
    bucket_seconds: int = 86400,
) -> DataFrame:
    """transcripts (conv_id, turn_idx, role, text, tool, ts) ->
    leakage-free per-turn feature vectors.

    strategy="window" (default): every step shares one partitioning, so
    Catalyst plans a single Exchange+Sort with chained window operators
    — the optimal plan when no conversation is hot.
    strategy="bucketed": the four steps run as ``_Step``s of one
    ``temporal._bucketed_scan`` — one carry join in all (task size
    bounded by ``bucket_seconds`` regardless of key size), the only
    form that survives an arbitrarily hot key. BENCH/SKEW.md, local[4]
    on a 4-core host, 1.12M turns with 89% in one conversation: 11.56 s
    bucketed vs 10.44 s window (at that size the window's one hot task
    still fits).

    Shuffle-byte layout: Tungsten's UnsafeRow gives every fixed-width
    field a full 8-byte slot, so each column kept out of the pre-window
    projection is 8 bytes/row off the one Exchange.  ``text`` collapses
    to the two int features pre-shuffle, the three role flags collapse
    to one ``__role_code`` tinyint (unpacked into identical is_*
    columns post-shuffle, where they feed the rolling sums), and
    ``has_tool`` is re-derived post-shuffle from ``tool`` — 7 fields
    cross the wire instead of 10 (~20% fewer uncompressed shuffle
    bytes/row; on the bandwidth-capped 16-core host this is the lever
    that scales, not more partitions)."""
    pre = (
        df.withColumn("text_len", F.length("text"))
        .withColumn("n_tokens", _n_tokens())
        .withColumn(
            # NULL-role note (ADVICE r5): a NULL role falls to the
            # otherwise(3) "other" code, so is_user/is_assistant/
            # is_tool read 0 — whereas turn_features' bare
            # (role == 'user').cast("int") would yield NULL.  This is
            # the DOCUMENTED behavior of the packed path: a null role
            # is "some other role", not "unknown flags".  Transcript
            # sources in this repo never emit null roles (generator
            # and parquet schema are non-null), so the two paths are
            # byte-identical on every real input.
            "__role_code",
            F.when(F.col("role") == "user", 0)
            .when(F.col("role") == "assistant", 1)
            .when(F.col("role") == "tool", 2)
            .otherwise(3)
            .cast("tinyint"),
        )
        .drop("text", "role")
    )
    base_cols = [c for c in pre.columns if c != "__role_code"]

    def with_flags(frame: DataFrame) -> DataFrame:
        return (
            frame.withColumn("is_user", (F.col("__role_code") == 0).cast("int"))
            .withColumn("is_assistant", (F.col("__role_code") == 1).cast("int"))
            .withColumn("is_tool", (F.col("__role_code") == 2).cast("int"))
            .withColumn("has_tool", F.col("tool").isNotNull().cast("int"))
        )

    if strategy == "bucketed":
        # every step reads only the flagged input, so the four run as
        # one bucketed scan with one carry join
        flagged, order = with_flags(pre), list(ORDER)
        out = _bucketed_scan(
            flagged, ["conv_id"], order, "ts", bucket_seconds,
            [
                _session_step(gap_seconds, "ts", order, "session_id"),
                _shift_step(LAG_COLS, LAGS),
                _rolling_step(flagged, ROLLING, upper=-1),
                _ffill_step(["tool"], order, "_ffill"),
            ],
        )
    else:
        kw = dict(keys="conv_id", order=ORDER)
        # the first window (sessionize's cumulative session ids) triggers
        # the single conv_id Exchange; everything added after it is
        # computed post-shuffle
        out = with_flags(sessionize(pre, gap_seconds=gap_seconds, **kw))
        out = with_lags(out, LAG_COLS, lags=LAGS, **kw)
        out = with_rolling(out, ROLLING, **kw)
        out = forward_fill(out, ["tool"], **kw)
    # restore the canonical column order (turn features before
    # session/lag/rolling outputs — the r4 schema, byte-for-byte)
    flags = ["is_user", "is_assistant", "is_tool", "has_tool"]
    head = base_cols + flags
    tail = [c for c in out.columns if c not in set(head) and c != "__role_code"]
    return out.select(*head, *tail)


def run_throughput(
    spark: SparkSession,
    n_convs: int,
    avg_turns: int = 50,
    out_path: str | None = None,
    gap_seconds: int = 1800,
    stage_path: str | None = None,
    warm_passes: int = 0,
    timed_passes: int = 1,
) -> dict:
    """Materialize features over a deterministic synthetic transcript
    table and report turns/sec (generation excluded from the timing).

    With ``stage_path`` the input is first written to parquet and the
    timed section reads it back — the production shape (columnar scan ->
    shuffle -> windows) rather than an in-memory cache scan."""
    from ..data.transcripts import generate_transcripts

    tr = generate_transcripts(spark, n_convs=n_convs, avg_turns=avg_turns)
    if stage_path:
        import json as _json
        import os as _os

        # the generator is deterministic (seeded xxhash64 expressions),
        # so a staged copy whose parameters match can be reused across
        # processes — scaling runs interleave N/4N children over the
        # same input and should stage it once
        meta_path = _os.path.join(stage_path, "_STAGE_META.json")
        want = {"n_convs": n_convs, "avg_turns": avg_turns}
        have = None
        if _os.path.exists(meta_path) and _os.path.exists(
            _os.path.join(stage_path, "_SUCCESS")
        ):
            try:
                with open(meta_path) as fh:
                    have = _json.load(fh)
            except (OSError, ValueError):
                have = None
        if have != want:
            tr.write.mode("overwrite").parquet(stage_path)
            with open(meta_path, "w") as fh:
                _json.dump(want, fh)
        tr = spark.read.parquet(stage_path)
    with persisted() as keep:
        if not stage_path:
            tr = keep(tr)
        n_turns = tr.count()  # force generation before the timed section
        feats = materialize_features(tr, gap_seconds=gap_seconds)
        for _ in range(warm_passes):  # hot-JIT/steady-state measurement
            feats.write.format("noop").mode("overwrite").save()
        dt = None
        for _ in range(max(1, timed_passes)):  # best-of-k vs scheduler noise
            t0 = time.time()
            if out_path:
                feats.write.mode("overwrite").parquet(out_path)
            else:
                # noop sink computes every column (count() would let
                # Catalyst prune the windows and fake the throughput)
                feats.write.format("noop").mode("overwrite").save()
            d = time.time() - t0
            dt = d if dt is None else min(dt, d)
    return {
        "n_turns": n_turns,
        "n_out": n_turns,
        "sec": dt,
        "turns_per_sec": n_turns / dt if dt > 0 else float("inf"),
    }
