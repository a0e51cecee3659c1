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
  stitches bucket boundaries in one of two ways:

  - ``_bucketed_scan``: one in-bucket row pass, one ``_carry_in`` (a
    per-(key, bucket) summary, windows over buckets on that small
    table, one join back) and one output select. Each operator is a
    ``_Step`` of it — sessionize, with_lags, with_rolling rows mode and
    forward_fill (so asof_join) — and the steps share its summary,
    including one K-row tail of the rows next to each bucket, so
    ``materialize_features`` runs all four with one carry join.
    ``_carry_in`` alone serves the carries that read a step's output or
    live elsewhere (cusum, transcript carries, scd run offsets);
  - ``_range_frame``: a time-range frame whose rows are also copied
    into the adjacent bucket as context (with_rolling time mode, and
    the rolling-distinct and future-label operators).

  Output is identical to the window strategy; NULL keys group together
  on both (the stitch joins on ``struct(keys)``).
"""

from __future__ import annotations

from typing import Callable, Iterable, NamedTuple, Sequence

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


def _breaks(t: Column, prev: Column, gap_seconds: int) -> Column:
    """Session-break flag: no previous event, or a gap over ``gap_seconds``."""
    return prev.isNull() | (epoch_seconds(t) - epoch_seconds(prev) > F.lit(gap_seconds))


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
    each bucket's first/last event and in-bucket break count give every
    bucket its predecessor event and its offset of earlier sessions
    (``_session_step`` of a ``_bucketed_scan``). Identical output to the
    window strategy.
    """
    keys_l = [keys] if isinstance(keys, str) else list(keys)
    order_l = [order] if isinstance(order, str) else list(order)

    if strategy == "window":
        w = ordered_window(keys_l, order_l)
        prev = F.lag(F.col(ts_col)).over(w)
        is_new = _breaks(F.col(ts_col), prev, gap_seconds).cast("int")
        cum = w.rowsBetween(Window.unboundedPreceding, 0)
        return df.withColumn(out_col, F.sum(is_new).over(cum) - F.lit(1))

    if strategy != "bucketed":
        raise ValueError(f"unknown sessionize strategy {strategy!r}")
    return _bucketed_scan(
        df, keys_l, order_l, ts_col, bucket_seconds,
        [_session_step(gap_seconds, ts_col, order_l, out_col)],
    )


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


def _carry_in(b: DataFrame, per_bucket: list[Column], *across) -> DataFrame:
    """The bucketed strategies' boundary stitch over ``b`` keyed by
    ``__kk`` (``_keyed``) and ``__bucket``: group by both with the
    ``per_bucket`` aggregates, run each ``across`` pass — ``w ->
    [Column]`` over ``w`` = the per-key window in bucket order — as one
    select that adds its columns to that small table (keys x buckets
    rows), and left-join every column the passes added back onto
    ``b``."""
    w = Window.partitionBy("__kk").orderBy("__bucket")
    carry = b.groupBy("__kk", "__bucket").agg(*per_bucket)
    summary = carry.columns[2:]
    for cols in across:
        carry = carry.select("*", *cols(w))
    return b.join(carry.drop(*summary), ["__kk", "__bucket"], "left")


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


def _none(wb: WindowSpec) -> dict[str, Column]:
    return {}


class _Step(NamedTuple):
    """One operator's share of a ``_bucketed_scan``. It reads the scan's
    input columns and its own columns only, never another step's:

    - ``rows(wb)``: in-bucket columns its ``per_bucket`` aggregates read;
    - ``per_bucket`` / ``across``: as in ``_carry_in``;
    - ``out(wb)``: its output columns, over the rows joined with the
      carry columns;
    - ``k`` > 0: it reads the K-row tail of its ``tail`` columns —
      ``__prefix``, the rows before the bucket (nearest last), or
      ``__suffix``, the rows after it (nearest first) when
      ``descending`` — with the in-bucket ranks ``__rn`` (from the
      bucket's start) and ``__rne`` (from its end)."""

    out: Callable[[WindowSpec], dict[str, Column]]
    rows: Callable[[WindowSpec], dict[str, Column]] = _none
    per_bucket: Sequence[Column] = ()
    across: Sequence[Callable[[WindowSpec], list[Column]]] = ()
    tail: Sequence[str] = ()
    k: int = 0
    descending: bool = False


def _bucketed_scan(
    df: DataFrame,
    keys: list[str],
    order: list[str],
    ts_col: str,
    bucket_seconds: int,
    steps: Sequence[_Step],
) -> DataFrame:
    """Run bucketed ``steps`` (``_Step``) over ``df`` as one ordered scan
    per (key, ``ts_col``-bucket) with one carry join:

    1. key (``__kk``) and bucketize once;
    2. one in-bucket row pass over ``wb`` (per key and bucket, in
       ``order``): the steps' ``rows``, plus ``__rn``/``__rne`` if a
       step reads a tail;
    3. one ``_carry_in``: every step's ``per_bucket`` aggregates, and
       one shared tail per direction (``_tail_step``); then the steps'
       ``across`` passes side by side; then one left join back;
    4. one select of every step's ``out`` over ``wb``."""
    b = _keyed(df, keys).withColumn(
        "__bucket", _bucketize(epoch_seconds(ts_col), bucket_seconds)
    )
    wb = Window.partitionBy("__kk", "__bucket").orderBy(*order)
    steps = list(steps)
    for desc in (False, True):
        tailed = [s for s in steps if s.k and s.descending == desc]
        if tailed:
            payload = sorted({c for s in tailed for c in s.tail})
            steps.append(_tail_step(order, payload, max(s.k for s in tailed), desc))
    rows: dict[str, Column] = {}
    for s in steps:
        rows.update(s.rows(wb))
    n_passes = max((len(s.across) for s in steps), default=0)
    across = [
        _side_by_side([s.across[i] for s in steps if i < len(s.across)])
        for i in range(n_passes)
    ]
    joined = _carry_in(
        b.withColumns(rows), [c for s in steps for c in s.per_bucket], *across
    )
    outs: dict[str, Column] = {}
    for s in steps:
        outs.update(s.out(wb))
    new = [c for c in outs if c not in df.columns]
    return joined.withColumns(outs).select(*df.columns, *new)


def _side_by_side(passes):
    """One across pass adding every one of ``passes``' columns."""
    return lambda w: [c for p in passes for c in p(w)]


def _tail_step(order: list[str], payload: list[str], K: int, descending: bool) -> _Step:
    """The scan's shared K-row tail: ``__prefix`` (``__suffix`` when
    ``descending``) holds the ``payload`` of the K rows before (after)
    each bucket. Memory is bounded by K, never by bucket or key size:
    each bucket collects only its last (first) K rows, and the stitch
    flattens the K nearest buckets' lists (a bucket holds >= 1 row, so K
    buckets always suffice)."""
    name, rank = ("__suffix", "__rn") if descending else ("__prefix", "__rne")
    row = F.struct(
        *[F.col(c).alias(f"__o{i}") for i, c in enumerate(order)],
        *[F.col(c).alias(f"__p_{c}") for c in payload],
    )

    def rows(wb: WindowSpec) -> dict[str, Column]:
        # rank from the end as count - rank: no second, reversed sort
        rn = F.row_number().over(wb)
        whole = wb.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        return {"__rn": rn, "__rne": (F.count(F.lit(1)).over(whole) - rn + 1).cast("int")}

    def stitch(w: WindowSpec) -> list[Column]:
        near = w.rowsBetween(1, K) if descending else w.rowsBetween(-K, -1)
        flat = F.flatten(F.collect_list(f"{name}_b").over(near))
        start = F.lit(1) if descending else F.greatest(F.lit(1), F.size(flat) - K + 1)
        return [F.slice(flat, start, F.lit(K)).alias(name)]

    return _Step(
        _none,
        rows,
        per_bucket=[
            F.array_sort(F.collect_list(F.when(F.col(rank) <= K, row))).alias(f"{name}_b")
        ],
        across=[stitch],
    )


def _session_step(gap_seconds: int, ts_col: str, order: list[str], out_col: str) -> _Step:
    """sessionize's bucketed step: in-bucket gap flags (NULL on each
    bucket's first row, whose predecessor is the previous bucket's last
    event) plus a carry of that predecessor and of the sessions started
    in earlier buckets."""
    ends = F.struct(*order, F.col(ts_col).alias("__t"))

    def rows(wb: WindowSpec) -> dict[str, Column]:
        prev = F.lag(ts_col).over(wb)
        return {"__gap": F.when(prev.isNotNull(), _breaks(F.col(ts_col), prev, gap_seconds))}

    def out(wb: WindowSpec) -> dict[str, Column]:
        is_new = F.coalesce(
            F.col("__gap"), _breaks(F.col(ts_col), F.col("__prev_ts"), gap_seconds)
        )
        cum = F.sum(is_new.cast("long")).over(wb.rowsBetween(Window.unboundedPreceding, 0))
        return {out_col: (F.col("__offset") + cum - 1).cast("long")}

    return _Step(
        out,
        rows,
        per_bucket=[
            F.min(ends)["__t"].alias("__first"),
            F.max(ends)["__t"].alias("__last"),
            F.count(F.when(F.col("__gap"), 1)).alias("__n"),
        ],
        across=[
            lambda w: [F.lag("__last").over(w).alias("__prev_ts")],
            # sessions started in earlier buckets offset the in-bucket count
            lambda w: [
                _sum_before(
                    F.col("__n")
                    + _breaks(F.col("__first"), F.col("__prev_ts"), gap_seconds).cast("long"),
                    w,
                ).alias("__offset")
            ],
        ],
    )


def _shift_step(cols: list[str], ks: list[int], descending: bool = False) -> _Step:
    """with_lags' bucketed step: ``{c}_lag{k}`` (``{c}_lead{k}`` when
    ``descending``) is the in-bucket F.lag (F.lead) except on the k rows
    nearest the bucket's start (end), which read the tail instead."""
    name, rank, tail, shift = (
        ("lead", "__rne", "__suffix", F.lead) if descending
        else ("lag", "__rn", "__prefix", F.lag)
    )

    def out(wb: WindowSpec) -> dict[str, Column]:
        r = F.col(rank)
        res = {}
        for c in cols:
            for k in ks:
                at = F.lit(k) - r + 1 if descending else r - F.lit(k) - 1
                res[f"{c}_{name}{k}"] = F.when(r > k, shift(c, k).over(wb)).otherwise(
                    F.try_element_at(F.col(tail), at)[f"__p_{c}"]
                )
        return res

    return _Step(out, tail=cols, k=max(ks), descending=descending)


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
    locally and its first k rows read a tiny per-(key, bucket) tail
    (the K=max(k) trailing rows of earlier buckets; leading rows of
    later buckets for leads), all in one ``_bucketed_scan``. Identical
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
    steps = [
        _shift_step(cols_l, ks, descending)
        for ks, descending in ((lags_l, False), (leads_l, True))
        if ks
    ]
    if not steps:
        return df
    return _bucketed_scan(df, keys_l, order_l, ts_col, bucket_seconds, steps)


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
      buckets; ``_rolling_step`` of a ``_bucketed_scan``): sums/counts
      add, min/max take least/greatest, avg and stddev recombine from
      (count, sum, sum-of-squares). Exact for sum/count/min/max/avg;
      stddev recombination is algebraically exact but may differ from
      the window form in the last float ulps.
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

    if strategy == "window":
        base = Window.partitionBy(*keys_l).orderBy(*order_l)
        out = df
        for col, agg, k in specs_l:
            w = base.rowsBetween(-int(k), upper)
            out = out.withColumn(f"{col}_{agg}_last{k}", _AGG[agg](col).over(w))
        return out

    return _bucketed_scan(
        df, keys_l, order_l, bucket_ts_col, bucket_seconds,
        [_rolling_step(df, specs_l, upper)],
    )


def _rolling_step(df: DataFrame, specs: list[tuple[str, str, int]], upper: int) -> _Step:
    """with_rolling's bucketed rows-mode step: the in-bucket window
    aggregate, combined on each bucket's first k rows with the same
    aggregate over the last k - rn + 1 rows of ``__prefix``. Rows past
    the first k see an empty slice, so the prefix array functions are
    evaluated only where ``__rn <= k`` and read as 0 (or, for
    ``least``/``greatest``, as a skipped NULL) elsewhere."""

    def out(wb: WindowSpec) -> dict[str, Column]:
        res = {}
        for col, agg, k in specs:
            # the prefix rows inside this row's frame: the last
            # m = k - rn + 1 (none once rn > k)
            near = F.col("__rn") <= F.lit(k)
            m = F.lit(k) - F.col("__rn") + 1
            sl = F.slice(
                F.col("__prefix"),
                F.greatest(F.lit(1), F.size("__prefix") - m + 1),
                F.greatest(m, F.lit(0)),
            )
            w = wb.rowsBetween(-k, upper)
            nn = F.filter(F.transform(sl, _prefix_vals(col)), _notnull())
            total_cnt = F.count(col).over(w) + F.when(
                near, F.size(nn).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            name = f"{col}_{agg}_last{k}"
            if agg == "count":
                res[name] = total_cnt
            elif agg in ("min", "max"):
                res[name] = (
                    F.least(F.min(col).over(w), F.when(near, F.array_min(nn))) if agg == "min"
                    else F.greatest(F.max(col).over(w), F.when(near, F.array_max(nn)))
                )
            elif agg in ("sum", "avg"):
                cast_t = "long" if _is_integral(df, col) else "double"
                zero = F.lit(0).cast(cast_t)
                total_sum = F.coalesce(
                    F.sum(F.col(col).cast(cast_t)).over(w), zero
                ) + F.when(near, F.aggregate(nn, zero, _sum_merge(cast_t))).otherwise(zero)
                if agg == "avg":
                    total_sum = total_sum.cast("double") / total_cnt.cast("double")
                res[name] = F.when(total_cnt > 0, total_sum)
            elif agg == "stddev":
                s1 = F.coalesce(
                    F.sum(F.col(col).cast("double")).over(w), F.lit(0.0)
                ) + F.when(
                    near, F.aggregate(nn, F.lit(0.0), _sum_merge("double"))
                ).otherwise(F.lit(0.0))
                s2 = F.coalesce(
                    F.sum(F.col(col).cast("double") * F.col(col).cast("double")).over(w),
                    F.lit(0.0),
                ) + F.when(
                    near, F.aggregate(nn, F.lit(0.0), _sumsq_merge())
                ).otherwise(F.lit(0.0))
                n_d = total_cnt.cast("double")
                var = (s2 - s1 * s1 / n_d) / (n_d - F.lit(1.0))
                res[name] = F.when(total_cnt >= 2, F.sqrt(F.greatest(var, F.lit(0.0))))
            else:
                raise ValueError(f"unsupported bucketed rolling agg {agg!r}")
        return res

    return _Step(out, tail=sorted({c for c, _, _ in specs}), k=max(k for _, _, k in specs))


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
    carry of each bucket's last non-null value, filled forward over
    strictly earlier buckets, seeds rows whose bucket has no earlier
    non-null (``_ffill_step`` of a ``_bucketed_scan``). Identical
    output, task size bounded by bucket.
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
    return _bucketed_scan(
        df, keys_l, order_l, ts_col, bucket_seconds,
        [_ffill_step(cols_l, order_l, suffix)],
    )


def _ffill_step(cols: list[str], order: list[str], suffix: str) -> _Step:
    """forward_fill's bucketed step: the in-bucket fill, seeded by a
    carry of each bucket's latest non-null value — the max over
    (order, value) structs restricted to non-null values — filled
    forward over strictly earlier buckets."""

    def latest(c: str) -> Column:
        return F.max(
            F.when(
                F.col(c).isNotNull(),
                F.struct(
                    *[F.col(o).alias(f"__o{i}") for i, o in enumerate(order)],
                    F.col(c).alias("__v"),
                ),
            )
        )["__v"].alias(f"__c_{c}")

    def out(wb: WindowSpec) -> dict[str, Column]:
        run = wb.rowsBetween(Window.unboundedPreceding, 0)
        return {
            f"{c}{suffix}": F.coalesce(F.last(c, ignorenulls=True).over(run), F.col(f"__f_{c}"))
            for c in cols
        }

    return _Step(
        out,
        per_bucket=[latest(c) for c in cols],
        across=[
            lambda w: [
                F.last(f"__c_{c}", ignorenulls=True)
                .over(w.rowsBetween(Window.unboundedPreceding, -1))
                .alias(f"__f_{c}")
                for c in cols
            ]
        ],
    )


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
