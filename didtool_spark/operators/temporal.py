"""Point-in-time temporal operators: sessionize, lag/lead, bounded
rolling aggregates, forward-fill (backfill), and the as-of join.

These are the engine's temporal core (SURVEY.md §2.9): didtool assumes
a pre-built flat feature matrix; this module builds that matrix from
(conv_id, turn_idx, role, text, tool, ts) transcripts with zero
temporal leakage — every feature at anchor (entity, ts) reads only rows
with ts' <= ts (strictly earlier for lag-style features).

Scale notes:
- All operators are pure ``pyspark.sql`` Window/DataFrame expressions —
  whole-stage-codegen'd, one shuffle on the partition keys, no Python
  in the row path.
- Hot entities (a conversation with millions of turns) break a naive
  ``Window.partitionBy(conv_id)``: EVERY operator here accepts
  ``strategy="bucketed"``, which range-splits time into buckets per key
  (``_bucketize``) so no single task ever sees a whole hot key, and
  stitches bucket boundaries with one of three shared helpers:

  - ``_carry_in``: a per-(key, bucket) summary, a window over buckets
    on that small table, joined back (sessionize, forward_fill,
    asof_join; also cusum, transcript carries and scd run offsets);
  - ``_tail_prefix``: the ≤K rows preceding each bucket (with_lags,
    with_rolling rows mode);
  - ``_range_frame``: a time-range frame whose rows are also copied
    into the adjacent bucket as context (with_rolling time mode, and
    the rolling-distinct and future-label operators).

  Output is identical to the window strategy; NULL keys group together
  on both (the stitch joins are null-safe).
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window, WindowSpec

__all__ = [
    "epoch_seconds",
    "ordered_window",
    "sessionize",
    "with_lags",
    "with_rolling",
    "forward_fill",
    "asof_join",
    "interval_join",
    "FeatureTable",
    "build_training_set",
]


def epoch_seconds(col: Column | str) -> Column:
    """Epoch seconds (floor) for TIMESTAMP and TIMESTAMP_NTZ alike —
    TIMESTAMP_NTZ has no direct long cast in Spark 4; route through a
    session-UTC timestamp."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("timestamp").cast("long")


def ordered_window(
    keys: Sequence[str] | str = "conv_id",
    order: Sequence[str] | str = ("ts", "turn_idx"),
) -> WindowSpec:
    """Per-entity event-order window. ``order`` must make row order stable
    (ts alone is not unique: duplicate-second bursts are tie-broken by
    turn_idx)."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    order = [order] if isinstance(order, str) else list(order)
    return Window.partitionBy(*keys).orderBy(*order)


def sessionize(
    df: DataFrame,
    gap_seconds: int = 1800,
    keys: Sequence[str] | str = "conv_id",
    ts_col: str = "ts",
    order: Sequence[str] | str = ("ts", "turn_idx"),
    out_col: str = "session_id",
    strategy: str = "window",
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time since
    the previous event exceeds ``gap_seconds``.

    strategy="window": session_id = cumulative sum of is-new-session
    indicators over the per-key ordered window (0-based). One shuffle on
    ``keys``; each key is one task — fine until a key is hot.

    strategy="bucketed" (hot keys — a conversation with millions of
    turns): the cumulative sum runs per (key, ``bucket_seconds`` bucket);
    one ``_carry_in`` of each bucket's first/last event and in-bucket
    break count gives every bucket its predecessor event and its offset
    of earlier sessions. Identical output to the window strategy.
    """
    keys_l = [keys] if isinstance(keys, str) else list(keys)
    order_l = [order] if isinstance(order, str) else list(order)

    def breaks(t: Column, prev: Column) -> Column:
        return prev.isNull() | (
            epoch_seconds(t) - epoch_seconds(prev) > F.lit(gap_seconds)
        )

    if strategy == "window":
        w = ordered_window(keys_l, order_l)
        is_new = breaks(F.col(ts_col), F.lag(F.col(ts_col)).over(w)).cast("int")
        cum = w.rowsBetween(Window.unboundedPreceding, 0)
        return df.withColumn(out_col, F.sum(is_new).over(cum) - F.lit(1))

    if strategy != "bucketed":
        raise ValueError(f"unknown sessionize strategy {strategy!r}")

    b = df.withColumn("__bucket", _bucketize(epoch_seconds(ts_col), bucket_seconds))
    wb = Window.partitionBy(*keys_l, "__bucket").orderBy(*order_l)
    # in-bucket gap flags; NULL on each bucket's first row, whose
    # predecessor is the previous bucket's last event
    prev = F.lag(ts_col).over(wb)
    b = b.withColumn("__gap", F.when(prev.isNotNull(), breaks(F.col(ts_col), prev)))
    ends = F.struct(*order_l, F.col(ts_col).alias("__t"))
    b = _carry_in(
        b,
        keys_l,
        [
            F.min(ends)["__t"].alias("__first"),
            F.max(ends)["__t"].alias("__last"),
            F.count(F.when(F.col("__gap"), 1)).alias("__n"),
        ],
        lambda w: ["__first", "__n", F.lag("__last").over(w).alias("__prev_ts")],
        # sessions started in earlier buckets offset the in-bucket count
        lambda w: [
            "__prev_ts",
            _sum_before(
                F.col("__n") + breaks(F.col("__first"), F.col("__prev_ts")).cast("long"), w
            ).alias("__offset"),
        ],
    )
    is_new = F.coalesce(F.col("__gap"), breaks(F.col(ts_col), F.col("__prev_ts")))
    cum = F.sum(is_new.cast("long")).over(wb.rowsBetween(Window.unboundedPreceding, 0))
    out = b.withColumn(out_col, (F.col("__offset") + cum - 1).cast("long"))
    return out.drop("__bucket", "__gap", "__prev_ts", "__offset")


def _bucketize(t: Column, width: int) -> Column:
    """Bucket id of ``t`` (epoch seconds, micros or an order value) for
    buckets ``width`` units wide."""
    return F.floor(t / F.lit(int(width)))


def _keyed(df: DataFrame, keys: list[str]) -> DataFrame:
    """Add ``__kk`` = struct(keys): never NULL, and equal whenever the
    keys are equal null-safely, so grouping and joining on it treats
    NULL keys as one key — as the window strategy does. A plain
    equi-join on it keeps the planner's distinct-key size estimate,
    which an ``eqNullSafe`` join loses."""
    return df.withColumn("__kk", F.struct(*keys))


def _carry_in(
    b: DataFrame,
    keys: list[str],
    per_bucket: list[Column],
    *across,
) -> DataFrame:
    """The bucketed strategies' boundary stitch: group ``b`` by (keys,
    ``__bucket``) with the ``per_bucket`` aggregates, run each ``across``
    pass — ``w -> [Column]`` over ``w`` = the per-key window in bucket
    order — as one select on that small table (keys x buckets rows),
    and left-join the last pass's columns back onto ``b``. Keys are
    matched null-safely (``_keyed``)."""
    b = _keyed(b, keys)
    w = Window.partitionBy("__kk").orderBy("__bucket")
    carry = b.groupBy("__kk", "__bucket").agg(*per_bucket)
    for cols in across:
        carry = carry.select("__kk", "__bucket", *cols(w))
    return b.join(carry, ["__kk", "__bucket"], "left").drop("__kk")


def _sum_before(col: Column | str, w: WindowSpec) -> Column:
    """Exclusive prefix sum over the buckets before this one (0 first)."""
    return F.coalesce(
        F.sum(col).over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
    )


def _range_frame(
    df: DataFrame,
    keys: list[str],
    t: Column,
    reach: int,
    bucket_width: int | None,
    add,
    forward: bool = False,
) -> DataFrame:
    """A time-range frame for both strategies: ``add(frame, w)`` attaches
    the caller's aggregates over ``w``, a per-key window ordered by
    ``__t`` (= ``t``), whose range frame spans at most ``reach`` units
    back (ahead when ``forward``).

    ``bucket_width=None`` is the window strategy. Otherwise ``w`` is
    partitioned by (keys, bucket) with buckets >= ``reach`` wide, and
    every row is also copied as context into the next bucket (the
    previous one when ``forward``), so each frame is complete inside its
    own bucket; the context rows are dropped afterwards."""
    frame = df.withColumn("__t", t)
    if bucket_width is None:
        return add(frame, Window.partitionBy(*keys).orderBy("__t")).drop("__t")
    own = _bucketize(F.col("__t"), max(int(bucket_width), int(reach)))
    u = frame.withColumn("__bucket", own).withColumn("__ctx", F.lit(False))
    ctx = frame.withColumn("__bucket", own + (-1 if forward else 1))
    u = u.unionByName(ctx.withColumn("__ctx", F.lit(True)))
    u = add(u, Window.partitionBy(*keys, "__bucket").orderBy("__t"))
    return u.where(~F.col("__ctx")).drop("__t", "__bucket", "__ctx")


def _tail_prefix(
    b: DataFrame,
    keys_l: list[str],
    order_l: list[str],
    payload_cols: list[str],
    K: int,
    descending: bool = False,
) -> DataFrame:
    """Per-(keys, __bucket) carry table with ``__prefix``: an array of up
    to ``K`` structs — the K rows immediately *preceding* the bucket in
    event order (immediately *following* when ``descending``), nearest
    row last (``element_at(__prefix, -1)`` is the adjacent row).

    Memory is bounded by K, never by bucket or key size: per-bucket tails
    come from a row_number over the reversed order + filter (no
    whole-bucket collect), and the cross-bucket stitch only flattens the
    previous K non-empty buckets' ≤K-row tails (each non-empty bucket
    contributes ≥1 row, so K buckets back always suffices)."""
    rev = [
        F.col(c).asc() if descending else F.col(c).desc() for c in order_l
    ]
    w_rev = Window.partitionBy(*keys_l, "__bucket").orderBy(*rev)
    row_struct = F.struct(
        *[F.col(c).alias(f"__o{i}") for i, c in enumerate(order_l)],
        *[F.col(c).alias(f"__p_{c}") for c in payload_cols],
    )
    tail_rows = (
        b.select(
            *keys_l,
            "__bucket",
            row_struct.alias("__r"),
            F.row_number().over(w_rev).alias("__rne"),
        )
        .where(F.col("__rne") <= K)
        .drop("__rne")
    )
    sorted_tail = F.array_sort(F.collect_list("__r"))
    if descending:
        sorted_tail = F.reverse(sorted_tail)
    tails = tail_rows.groupBy(*keys_l, "__bucket").agg(sorted_tail.alias("__tail"))
    bucket_ord = F.col("__bucket").desc() if descending else F.col("__bucket").asc()
    wc = (
        Window.partitionBy(*keys_l)
        .orderBy(bucket_ord)
        .rowsBetween(-K, -1)
    )
    flat = F.flatten(F.collect_list("__tail").over(wc))
    return tails.select(
        *keys_l,
        "__bucket",
        F.slice(
            flat, F.greatest(F.lit(1), F.size(flat) - F.lit(K) + 1), F.lit(K)
        ).alias("__prefix"),
    )


def _bucketed_shift(
    df: DataFrame,
    cols: list[str],
    ks: list[int],
    keys_l: list[str],
    order_l: list[str],
    ts_col: str,
    bucket_seconds: int,
    descending: bool,
    name: str,
) -> DataFrame:
    """Bucketed lag (lead when ``descending``): in-bucket F.lag over the
    per-(key, bucket) window; the first k rows of each bucket read the
    carry prefix instead (``__prefix[rn - k - 1]``, negative = from the
    end). No task ever scans a whole hot key."""
    K = max(ks)
    b = _keyed(df, keys_l).withColumn(
        "__bucket", _bucketize(epoch_seconds(ts_col), bucket_seconds)
    )
    prefix = _tail_prefix(b, ["__kk"], order_l, cols, K, descending)
    joined = b.join(prefix, ["__kk", "__bucket"], "left").drop("__kk")
    ord_cols = [
        F.col(c).desc() if descending else F.col(c).asc() for c in order_l
    ]
    wb = Window.partitionBy(*keys_l, "__bucket").orderBy(*ord_cols)
    joined = joined.withColumn("__rn", F.row_number().over(wb))
    for c in cols:
        for k in ks:
            in_bucket = F.lag(c, k).over(wb)
            from_prefix = F.try_element_at(
                F.col("__prefix"), F.col("__rn") - F.lit(k) - F.lit(1)
            )[f"__p_{c}"]
            joined = joined.withColumn(
                f"{c}_{name}{k}",
                F.when(F.col("__rn") > k, in_bucket).otherwise(from_prefix),
            )
    return joined.drop("__bucket", "__prefix", "__rn")


def with_lags(
    df: DataFrame,
    cols: Iterable[str],
    lags: Iterable[int] = (1,),
    leads: Iterable[int] = (),
    keys: Sequence[str] | str = "conv_id",
    order: Sequence[str] | str = ("ts", "turn_idx"),
    strategy: str = "window",
    ts_col: str = "ts",
    bucket_seconds: int = 86400,
) -> DataFrame:
    """lag/lead feature columns ``{col}_lag{k}`` / ``{col}_lead{k}``.

    Lags are leakage-safe (strictly past rows); leads read the future by
    definition and must only feed *labels*, never features.

    strategy="window": one shuffle on ``keys``; each key is one task.
    strategy="bucketed": the carry-in trick for hot keys — time is
    range-split into ``bucket_seconds`` buckets; each bucket shifts
    locally and its first k rows read a tiny per-(key, bucket) carry
    prefix (the K=max(k) trailing rows of earlier buckets). Identical
    output, task size bounded by bucket not key.
    """
    keys_l = [keys] if isinstance(keys, str) else list(keys)
    order_l = [order] if isinstance(order, str) else list(order)
    lags_l, leads_l = sorted(set(lags)), sorted(set(leads))
    cols_l = list(cols)

    if strategy == "window":
        w = ordered_window(keys_l, order_l)
        out = df
        for c in cols_l:
            for k in lags_l:
                out = out.withColumn(f"{c}_lag{k}", F.lag(c, k).over(w))
            for k in leads_l:
                out = out.withColumn(f"{c}_lead{k}", F.lead(c, k).over(w))
        return out

    if strategy != "bucketed":
        raise ValueError(f"unknown with_lags strategy {strategy!r}")

    out = df
    if lags_l:
        out = _bucketed_shift(
            out, cols_l, lags_l, keys_l, order_l, ts_col, bucket_seconds,
            descending=False, name="lag",
        )
    if leads_l:
        out = _bucketed_shift(
            out, cols_l, leads_l, keys_l, order_l, ts_col, bucket_seconds,
            descending=True, name="lead",
        )
    return out


_AGG = {
    "sum": F.sum,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "count": F.count,
    "stddev": F.stddev,
}


def _is_integral(df: DataFrame, col: str) -> bool:
    return df.schema[col].dataType.simpleString() in (
        "tinyint", "smallint", "int", "bigint", "long",
    )


def _prefix_vals(c: str):
    # closure factories: pyspark HOF lambdas count every python param,
    # so default-arg capture would change the lambda's arity.
    return lambda x: x[f"__p_{c}"]


def _notnull():
    return lambda v: v.isNotNull()


def _sum_merge(cast_t: str):
    return lambda acc, v: acc + v.cast(cast_t)


def _sumsq_merge():
    return lambda acc, v: acc + v.cast("double") * v.cast("double")


def with_rolling(
    df: DataFrame,
    specs: Iterable[tuple[str, str, int]],
    keys: Sequence[str] | str = "conv_id",
    order: Sequence[str] | str = ("ts", "turn_idx"),
    include_current: bool = False,
    ts_col: str | None = None,
    strategy: str = "window",
    bucket_ts_col: str = "ts",
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Bounded trailing rolling aggregates.

    specs: (col, agg, k) -> column ``{col}_{agg}_last{k}`` over the
    trailing k rows (or k seconds when ``ts_col`` is set, using a
    rangeBetween frame on unix seconds). ``include_current=False`` keeps
    the frame strictly historical (leakage-safe for same-row targets).

    strategy="window": one shuffle on ``keys``; each key is one task.
    strategy="bucketed" bounds task size by bucket, not key:

    - rows mode: per-(key, ``bucket_ts_col``-bucket) window aggregate,
      combined on the first k rows of each bucket with an aggregate over
      the tiny carry prefix (the trailing K=max(k) rows of earlier
      buckets): sums/counts add, min/max take least/greatest, avg and
      stddev recombine from (count, sum, sum-of-squares). Exact for
      sum/count/min/max/avg; stddev recombination is algebraically exact
      but may differ from the window form in the last float ulps.
    - time mode: ``_range_frame`` — each row is also copied into the
      next bucket (width >= max k) as context. Exact, at 2x shuffle
      volume on the value columns.
    """
    upper = 0 if include_current else -1
    keys_l = [keys] if isinstance(keys, str) else list(keys)
    order_l = [order] if isinstance(order, str) else list(order)
    specs_l = [(c, a, int(k)) for c, a, k in specs]
    if strategy not in ("window", "bucketed"):
        raise ValueError(f"unknown with_rolling strategy {strategy!r}")

    if ts_col is not None:
        def add(frame: DataFrame, base: WindowSpec) -> DataFrame:
            for col, agg, k in specs_l:
                w = base.rangeBetween(-k, upper)
                frame = frame.withColumn(f"{col}_{agg}_{k}s", _AGG[agg](col).over(w))
            return frame

        return _range_frame(
            df, keys_l, epoch_seconds(ts_col), max((k for _, _, k in specs_l), default=0),
            bucket_seconds if strategy == "bucketed" else None, add,
        )

    out = df
    if strategy == "window":
        base = Window.partitionBy(*keys_l).orderBy(*order_l)
        for col, agg, k in specs_l:
            w = base.rowsBetween(-int(k), upper)
            out = out.withColumn(f"{col}_{agg}_last{k}", _AGG[agg](col).over(w))
        return out

    # rows mode: in-bucket window + carry-prefix recombination
    K = max(k for _, _, k in specs_l)
    payload = sorted({c for c, _, _ in specs_l})
    b = _keyed(out, keys_l).withColumn(
        "__bucket", _bucketize(epoch_seconds(bucket_ts_col), bucket_seconds)
    )
    prefix = _tail_prefix(b, ["__kk"], order_l, payload, K, descending=False)
    j = b.join(prefix, ["__kk", "__bucket"], "left").drop("__kk")
    wb = Window.partitionBy(*keys_l, "__bucket").orderBy(*order_l)
    j = j.withColumn("__rn", F.row_number().over(wb))
    drop_cols = ["__bucket", "__prefix", "__rn"]

    # per-k slice of the prefix: the last m = k - rn + 1 rows (only
    # meaningful when rn <= k; empty otherwise)
    ks = sorted({k for _, _, k in specs_l})
    for k in ks:
        m = F.lit(k) - F.col("__rn") + F.lit(1)
        sl = F.when(
            m > 0,
            F.slice(
                F.col("__prefix"),
                F.greatest(F.lit(1), F.size("__prefix") - m + 1),
                F.greatest(m, F.lit(1)),
            ),
        ).otherwise(F.slice(F.col("__prefix"), 1, 0))
        j = j.withColumn(f"__sl_{k}", sl)
        drop_cols.append(f"__sl_{k}")

    for col, agg, k in specs_l:
        w = wb.rowsBetween(-k, upper)
        nn = F.filter(
            F.transform(F.col(f"__sl_{k}"), _prefix_vals(col)), _notnull()
        )
        pre_cnt = F.size(nn).cast("long")
        in_cnt = F.count(col).over(w)
        total_cnt = in_cnt + pre_cnt
        name = f"{col}_{agg}_last{k}"
        if agg == "count":
            j = j.withColumn(name, total_cnt)
            continue
        if agg in ("min", "max"):
            in_v = (F.min(col) if agg == "min" else F.max(col)).over(w)
            pre_v = F.array_min(nn) if agg == "min" else F.array_max(nn)
            j = j.withColumn(
                name, F.least(in_v, pre_v) if agg == "min" else F.greatest(in_v, pre_v)
            )
            continue
        cast_t = "long" if _is_integral(df, col) else "double"
        zero = F.lit(0).cast(cast_t)
        in_sum = F.sum(F.col(col).cast(cast_t)).over(w)
        pre_sum = F.aggregate(nn, zero, _sum_merge(cast_t))
        total_sum = F.coalesce(in_sum, zero) + pre_sum
        if agg == "sum":
            j = j.withColumn(
                name, F.when(total_cnt > 0, total_sum).otherwise(F.lit(None))
            )
        elif agg == "avg":
            j = j.withColumn(
                name,
                F.when(
                    total_cnt > 0,
                    total_sum.cast("double") / total_cnt.cast("double"),
                ).otherwise(F.lit(None)),
            )
        elif agg == "stddev":
            s1 = F.coalesce(
                F.sum(F.col(col).cast("double")).over(w), F.lit(0.0)
            ) + F.aggregate(nn, F.lit(0.0), _sum_merge("double"))
            s2 = F.coalesce(
                F.sum(F.col(col).cast("double") * F.col(col).cast("double")).over(w),
                F.lit(0.0),
            ) + F.aggregate(nn, F.lit(0.0), _sumsq_merge())
            n_d = total_cnt.cast("double")
            var = (s2 - s1 * s1 / n_d) / (n_d - F.lit(1.0))
            j = j.withColumn(
                name,
                F.when(
                    total_cnt >= 2, F.sqrt(F.greatest(var, F.lit(0.0)))
                ).otherwise(F.lit(None)),
            )
        else:
            raise ValueError(f"unsupported bucketed rolling agg {agg!r}")
    return j.drop(*drop_cols)


def forward_fill(
    df: DataFrame,
    cols: Iterable[str],
    keys: Sequence[str] | str = "conv_id",
    order: Sequence[str] | str = ("ts", "turn_idx"),
    suffix: str = "_ffill",
    strategy: str = "window",
    ts_col: str = "ts",
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Backfill missing values from the most recent non-null earlier row:
    ``last(col, ignorenulls=True)`` over an unbounded-preceding frame.
    Only reads the past — point-in-time correct by construction.

    strategy="window": one shuffle on ``keys``; each key is one task.
    strategy="bucketed": the fill runs per (key, ``ts_col``-bucket); a
    ``_carry_in`` of each bucket's last non-null value, filled forward
    over strictly earlier buckets, seeds rows whose bucket has no
    earlier non-null. Identical output, task size bounded by bucket.
    """
    keys_l = [keys] if isinstance(keys, str) else list(keys)
    order_l = [order] if isinstance(order, str) else list(order)
    cols_l = list(cols)

    if strategy == "window":
        w = (
            Window.partitionBy(*keys_l)
            .orderBy(*order_l)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        out = df
        for c in cols_l:
            out = out.withColumn(f"{c}{suffix}", F.last(c, ignorenulls=True).over(w))
        return out

    if strategy != "bucketed":
        raise ValueError(f"unknown forward_fill strategy {strategy!r}")

    b = df.withColumn("__bucket", _bucketize(epoch_seconds(ts_col), bucket_seconds))
    # carry: the latest non-null value per (key, bucket) = max over
    # (order, v) structs restricted to non-null v, filled forward over
    # strictly earlier buckets
    b = _carry_in(
        b,
        keys_l,
        [
            F.max(
                F.when(
                    F.col(c).isNotNull(),
                    F.struct(
                        *[F.col(o).alias(f"__o{i}") for i, o in enumerate(order_l)],
                        F.col(c).alias("__v"),
                    ),
                )
            )["__v"].alias(f"__c_{c}")
            for c in cols_l
        ],
        lambda w: [
            F.last(f"__c_{c}", ignorenulls=True)
            .over(w.rowsBetween(Window.unboundedPreceding, -1))
            .alias(f"__p_{c}")
            for c in cols_l
        ],
    )
    wb = (
        Window.partitionBy(*keys_l, "__bucket")
        .orderBy(*order_l)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for c in cols_l:
        b = b.withColumn(
            f"{c}{suffix}",
            F.coalesce(F.last(c, ignorenulls=True).over(wb), F.col(f"__p_{c}")),
        )
    return b.drop("__bucket", *[f"__p_{c}" for c in cols_l])


def _tag_union(
    anchors: DataFrame,
    features: DataFrame,
    keys: list[str],
    ts_col: str,
    value_cols: list[str],
    anchor_cols: list[str],
    strict: bool,
):
    """Union anchors+features with a source tag so one ordered window pass
    forward-fills feature values onto anchors (sort-merge as-of)."""
    # src: features sort before anchors at equal ts for inclusive (<=),
    # after for strict (<).
    f_tag, a_tag = (0, 1) if not strict else (1, 0)
    f_side = features.select(
        *keys,
        F.col(ts_col).alias("__ts"),
        F.lit(f_tag).alias("__src"),
        *[F.col(c).alias(f"__v_{c}") for c in value_cols],
        *[F.lit(None).cast(anchors.schema[c].dataType).alias(c) for c in anchor_cols],
    )
    a_side = anchors.select(
        *keys,
        F.col(ts_col).alias("__ts"),
        F.lit(a_tag).alias("__src"),
        *[F.lit(None).cast(features.schema[c].dataType).alias(f"__v_{c}") for c in value_cols],
        *anchor_cols,
    )
    return f_side.unionByName(a_side), f_tag


def asof_join(
    anchors: DataFrame,
    features: DataFrame,
    keys: Sequence[str] | str = "conv_id",
    ts_col: str = "ts",
    value_cols: Sequence[str] | None = None,
    strict: bool = False,
    suffix: str = "_asof",
    strategy: str = "window",
    n_buckets: int = 32,
    bucket_seconds: int | None = None,
    direction: str = "backward",
    tolerance: float | None = None,
) -> DataFrame:
    """Point-in-time as-of join: each anchor row gets, per value column,
    the value from the latest feature row with ``ts_f <= ts_anchor``
    (``< `` when ``strict``) for the same key.

    ``direction`` extends the match rule (``pandas.merge_asof`` parity,
    verified by the strategy-equivalence units):

    - ``"backward"`` (default): latest feature at-or-before the anchor —
      the point-in-time-correct, zero-leakage rule.
    - ``"forward"``: EARLIEST feature at-or-after the anchor (strictly
      after when ``strict``). Deliberately reads the future — for label
      construction / next-event joins, never for features.
    - ``"nearest"``: closer of the two by absolute time distance;
      equidistant ties take the backward match (pandas' rule). With
      ``strict``, equal-timestamp features are excluded on BOTH sides.

    ``tolerance`` (seconds, inclusive): a match farther than this from
    the anchor is nulled out per value column (each column matches the
    latest row where IT was non-null, so distances are per-column).

    strategy="window" (default): union-tag + one ordered window pass —
    a sort-merge as-of realized as shuffle-on-keys + in-partition sort;
    Catalyst/Tungsten handle spilling. Right for keys whose per-key row
    count fits a task. ``direction="backward"`` with no tolerance is
    :func:`forward_fill` over the tagged union; the general form fills
    (ts, value) structs so the match distance is known — forward adds a
    second in-partition sort (same exchange, tag order reversed).

    strategy="bucketed": skew splitting for hot keys — the backward fill
    is :func:`forward_fill`'s bucketed form over the tagged union. Time
    is range-split into buckets (fixed ``bucket_seconds`` width, else
    the observed span / ``n_buckets``), so no task sees a whole hot key.
    Exact same semantics, bounded task size. Backward only: get forward
    by negating the timestamp on both inputs (the order-reversal
    identity); nearest needs both passes — use "window".
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown asof direction {direction!r}")
    if strategy not in ("window", "bucketed"):
        raise ValueError(f"unknown asof strategy {strategy!r}")
    if strategy == "bucketed" and (direction != "backward" or tolerance is not None):
        raise ValueError(
            "strategy='bucketed' supports direction='backward' without "
            "tolerance only (negate the timestamp for a forward as-of, "
            "or use strategy='window')"
        )
    keys = [keys] if isinstance(keys, str) else list(keys)
    if value_cols is None:
        value_cols = [
            c for c in features.columns if c not in set(keys) | {ts_col}
        ]
    value_cols = list(value_cols)
    anchor_cols = [c for c in anchors.columns if c not in set(keys) | {ts_col}]
    out_names = {c: f"{c}{suffix}" if c in anchors.columns else c for c in value_cols}

    unioned, f_tag = _tag_union(
        anchors, features, keys, ts_col, value_cols, anchor_cols, strict
    )
    a_tag = 1 - f_tag

    final_cols = (
        [*keys, F.col("__ts").alias(ts_col), *anchor_cols]
        + [F.col(f"__v_{c}_f").alias(out_names[c]) for c in value_cols]
    )
    if direction == "backward" and tolerance is None:
        if strategy == "bucketed" and bucket_seconds is None:
            tsl = epoch_seconds(F.col("__ts"))
            lo, hi = unioned.select(
                F.min(tsl).alias("lo"), F.max(tsl).alias("hi")
            ).first()
            bucket_seconds = max(1, ((hi or 0) - (lo or 0)) // max(1, n_buckets) + 1)
        filled = forward_fill(
            unioned, [f"__v_{c}" for c in value_cols], keys=keys,
            order=("__ts", "__src"), suffix="_f", strategy=strategy,
            ts_col="__ts", bucket_seconds=bucket_seconds,
        )
        return filled.where(F.col("__src") == a_tag).select(*final_cols)

    # general form: fill (ts, value) structs so the match distance
    # is known per column.  Tag ordering already encodes strict vs
    # inclusive (features sort after anchors at equal ts when
    # strict); the forward window reverses ONLY the tag order, which
    # flips that rule's mirror image (anchors-first when inclusive).
    # Both windows share one hash exchange on the keys.
    tnum = F.col("__ts").cast("timestamp").cast("double")
    unioned = unioned.withColumn("__tnum", tnum)
    w_back = (
        Window.partitionBy(*keys)
        .orderBy("__ts", "__src")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__ts").asc(), F.col("__src").desc())
        .rowsBetween(0, Window.unboundedFollowing)
    )
    fills = []
    for c in value_cols:
        cand = F.when(
            F.col(f"__v_{c}").isNotNull(),
            F.struct(
                F.col("__tnum").alias("t"), F.col(f"__v_{c}").alias("v")
            ),
        )
        if direction in ("backward", "nearest"):
            fills.append(
                F.last(cand, ignorenulls=True).over(w_back).alias(f"__b_{c}")
            )
        if direction in ("forward", "nearest"):
            fills.append(
                F.first(cand, ignorenulls=True).over(w_fwd).alias(f"__w_{c}")
            )
    filled = unioned.select("*", *fills)

    picked = []
    for c in value_cols:
        b = F.col(f"__b_{c}") if direction != "forward" else None
        f_ = F.col(f"__w_{c}") if direction != "backward" else None
        if direction == "backward":
            m = b
        elif direction == "forward":
            m = f_
        else:  # nearest: min |delta|, equidistant tie -> backward
            m = (
                F.when(b.isNull(), f_)
                .when(f_.isNull(), b)
                .when(
                    F.col("__tnum") - b["t"] <= f_["t"] - F.col("__tnum"), b
                )
                .otherwise(f_)
            )
        if tolerance is not None:
            m = F.when(
                F.abs(F.col("__tnum") - m["t"]) <= F.lit(float(tolerance)), m
            )
        picked.append(m["v"].alias(f"__v_{c}_f"))
    filled = filled.select("*", *picked)
    return filled.where(F.col("__src") == a_tag).select(*final_cols)


class FeatureTable:
    """Spec for one feature table in :func:`build_training_set`.

    ``value_cols=None`` means every non-key, non-ts column; ``strict``
    excludes same-timestamp feature rows (ts_f < ts_anchor instead of
    <=) — per-table, so one training set can mix label-safe strict
    sources with inclusive ones.
    """

    def __init__(self, df: DataFrame, value_cols: Sequence[str] | None = None,
                 strict: bool = False):
        self.df = df
        self.value_cols = value_cols
        self.strict = strict


def build_training_set(
    anchors: DataFrame,
    tables: dict[str, "FeatureTable | DataFrame"],
    keys: Sequence[str] | str = "conv_id",
    ts_col: str = "ts",
    strategy: str = "window",
    **asof_kwargs,
) -> DataFrame:
    """Feature-store-style multi-table point-in-time join: every anchor
    row gets, for each named feature table, the latest value of each of
    its columns as of the anchor timestamp (zero temporal leakage, per
    the north rule's entity x timestamp contract). Output columns are
    ``{table}_{col}``.

    strategy="window" (default): ALL tables are unioned with the
    anchors in one tagged stream and forward-filled in ONE ordered
    window pass — one Exchange+Sort on ``keys`` total, however many
    feature tables join (a chain of N as-of joins would shuffle N
    times). Per-table strictness is encoded in the sort tag: at an
    equal timestamp, inclusive feature rows (tag 0) sort before the
    anchor (tag 1), strict ones (tag 2) after it, so `last(ignorenulls)`
    sees exactly the rows the contract allows.

    strategy="chain": N sequential :func:`asof_join` calls — the
    hot-key fallback, because each pairwise join accepts
    ``strategy="bucketed"`` via ``asof_kwargs`` (the single-pass window
    form, like any keyed window, serializes a hot key in one task).
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    reserved = set(keys) | {ts_col}
    specs: list[tuple[str, DataFrame, list[str], bool]] = []
    for name, spec in tables.items():
        if isinstance(spec, DataFrame):
            spec = FeatureTable(spec)
        vcols = (
            list(spec.value_cols)
            if spec.value_cols is not None
            else [c for c in spec.df.columns if c not in reserved]
        )
        specs.append((name, spec.df, vcols, spec.strict))

    anchor_cols = [c for c in anchors.columns if c not in reserved]

    if strategy == "chain":
        out = anchors
        for name, fdf, vcols, strict in specs:
            renamed = fdf.select(
                *keys, ts_col, *[F.col(c).alias(f"{name}_{c}") for c in vcols]
            )
            out = asof_join(
                out, renamed, keys=keys, ts_col=ts_col,
                value_cols=[f"{name}_{c}" for c in vcols], strict=strict,
                **asof_kwargs,
            )
        return out

    if strategy != "window":
        raise ValueError(f"unknown training-set strategy {strategy!r}")

    all_vals = [(name, fdf, c) for name, fdf, vcols, _ in specs for c in vcols]

    def null_like(src_df: DataFrame, col: str) -> Column:
        return F.lit(None).cast(src_df.schema[col].dataType)

    a_side = anchors.select(
        *keys,
        F.col(ts_col).alias("__ts"),
        F.lit(1).alias("__src"),
        *[null_like(fdf, c).alias(f"__v_{n}_{c}") for n, fdf, c in all_vals],
        *anchor_cols,
    )
    unioned = a_side
    for name, fdf, vcols, strict in specs:
        tag = 2 if strict else 0
        side = fdf.select(
            *keys,
            F.col(ts_col).alias("__ts"),
            F.lit(tag).alias("__src"),
            *[
                (F.col(c) if n == name else null_like(f2, c)).alias(f"__v_{n}_{c}")
                for n, f2, c in all_vals
            ],
            *[null_like(anchors, c).alias(c) for c in anchor_cols],
        )
        unioned = unioned.unionByName(side)

    w = (
        Window.partitionBy(*keys)
        .orderBy("__ts", "__src")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = unioned.select(
        "*",
        *[
            F.last(f"__v_{n}_{c}", ignorenulls=True).over(w).alias(f"__f_{n}_{c}")
            for n, _, c in all_vals
        ],
    )
    return filled.where(F.col("__src") == 1).select(
        *keys,
        F.col("__ts").alias(ts_col),
        *anchor_cols,
        *[F.col(f"__f_{n}_{c}").alias(f"{n}_{c}") for n, _, c in all_vals],
    )


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    keys: Sequence[str] | str | None = "conv_id",
    point_ts: str = "ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    bucket_seconds: int = 3600,
    how: str = "inner",
    max_buckets_per_interval: int = 10_000,
) -> DataFrame:
    """Containment join: each point row matched to every interval row
    of the same ``keys`` with ``start_col <= point_ts <= end_col``
    (inclusive both ends; a point inside k overlapping intervals
    yields k output rows).  ``how="left"`` keeps unmatched points with
    NULL interval columns.

    Scale design — the raw predicate is a theta join Spark would plan
    as a broadcast-nested-loop (O(|P| x |I|) per key): instead each
    interval is EXPLODED onto the fixed-width time buckets it overlaps
    (``sequence()`` next to the data — no driver loop) and the match
    becomes an EQUI-join on (keys, bucket) plus a residual range
    filter.  A point lives in exactly one bucket, so it meets exactly
    one replica of each interval — no dedup pass.  Shuffle volume is
    |P| + Σ ceil(len/bucket) interval replicas; pick ``bucket_seconds``
    near the TYPICAL interval length (replication factor ~2 there).
    ``max_buckets_per_interval`` guards against a degenerate interval
    (or a bad bucket choice) exploding the build side — raise it
    consciously, don't remove it.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner/left, got {how!r}")
    keys_l = (
        [] if keys is None else [keys] if isinstance(keys, str) else list(keys)
    )
    b = int(bucket_seconds)

    ps = points.withColumn("__pb", _bucketize(epoch_seconds(point_ts), b))
    lo = _bucketize(epoch_seconds(start_col), b)
    hi = _bucketize(epoch_seconds(end_col), b)
    guard = F.when(
        hi - lo < F.lit(int(max_buckets_per_interval)), hi
    ).otherwise(
        F.raise_error(F.concat(
            F.lit("interval_join: an interval spans more than "
                  f"{max_buckets_per_interval} buckets of {b}s — raise "
                  "bucket_seconds or max_buckets_per_interval (interval "
                  "start epoch: "),
            epoch_seconds(start_col).cast("string"), F.lit(")"),
        ))
    )
    iv = intervals.withColumn(
        "__ib", F.explode(F.sequence(lo, guard))
    )
    # residual on the RAW timestamps — truncated epochs only place
    # rows into buckets; comparing truncated values here would admit a
    # point up to 1s before the interval start (same-second collisions)
    cond = [ps[k] == iv[k] for k in keys_l] + [
        ps["__pb"] == iv["__ib"],
        ps[point_ts] >= iv[start_col],
        ps[point_ts] <= iv[end_col],
    ]
    dropped = [iv[k] for k in keys_l] + [ps["__pb"], iv["__ib"]]
    out = ps.join(iv, cond, how)
    for c in dropped:
        out = out.drop(c)
    return out
