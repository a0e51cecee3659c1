"""Per-entity time-series feature extensions: exponentially time-decayed
aggregates, recency (time-since-event) features, rolling distinct
counts, rolling trend slopes, and rolling z-scores.

Reference parity: didtool materializes features from a pre-built flat
matrix (didtool/transformer.py, didtool/stats.py); a feature store over
event/transcript streams also needs the standard *temporal* feature
columns computed point-in-time at every row.  None of these exist in
the reference; all are stock feature-engineering columns and all obey
the zero-leakage contract (default frames end at ``1 PRECEDING``).

Scale design:
- every operator here is ONE shuffle on the entity keys; features that
  share the (keys, order) sort reuse a single Exchange+Sort (asserted in
  tests/test_plan_shape.py).
- ``with_decayed``: a decayed sum needs no per-row scan of history —
  rebase time per key and the feature is ``exp(-l*(t-t0)) * running_sum
  (v * exp(l*(t-t0)))``, one running-sum window.  The running sum's
  largest term is ``exp(l*span)``, so the window strategy is only valid
  while span <= ~700 half-lives; ``strategy="bucketed"`` removes the
  bound (and the hot-key single-task risk) by rebasing per (key, time
  bucket) and folding bucket summaries with factors that are all <= 1 —
  unconditionally overflow-free, and the fold runs over the tiny
  per-key bucket table, never the rows.
- ``with_recency``: pure lag / running-max window expressions over
  integer microseconds (exact — no float drift in the gate hash).
- ``with_rolling_distinct``: size(array_distinct(collect_list)) over
  the bounded frame — per-row state is the frame, which is k-bounded by
  construction; time mode gets the bucketed strategy for hot keys
  (temporal._range_frame).
- ``with_trend``: closed-form OLS slope from five running sums; x is
  rebased to per-key seconds so ``n*sxx - sx^2`` stays far from the
  double cancellation cliff (epoch^2 ~ 3e18 would eat 2/3 of the
  mantissa; rebased spans ~1e6 keep the co-moment exact to ~1e-10).
- ``with_zscore``: thin composition over ``with_rolling`` (avg +
  stddev specs) — inherits its bucketed hot-key strategy unchanged.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence
from math import log

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .temporal import (
    _bucketize,
    _carry_in,
    _keyed,
    _range_frame,
    _sum_before,
    epoch_seconds,
    with_rolling,
)

__all__ = [
    "with_decayed",
    "with_recency",
    "with_rolling_distinct",
    "with_trend",
    "with_zscore",
    "with_cusum",
]

LN2 = log(2.0)


def _keys(keys: Sequence[str] | str) -> list[str]:
    return [keys] if isinstance(keys, str) else list(keys)


def _order(order: Sequence[str] | str) -> list[str]:
    return [order] if isinstance(order, str) else list(order)


def _micros(ts_col: str) -> Column:
    # exact integer microseconds; TIMESTAMP_NTZ routes through a
    # session-UTC cast like temporal.epoch_seconds
    return F.unix_micros(F.col(ts_col).cast("timestamp"))


def _fold_step(lam_bw: float):
    # carry(b) = (carry(prev) + bucket_sum(prev)) * exp(-lam*gap);
    # every factor <= 1, so the fold can never overflow however long
    # the key lives.  acc = struct(prev bucket id, running mass valued
    # at prev bucket start, running contributing-row count, emitted
    # (bucket, carry, prior count) array).  The exact integer count —
    # NOT carry == 0 — decides empty-history NULLs downstream: negative
    # values at one timestamp can cancel a carry to exactly 0.0.
    def step(acc, e):
        gap = (e["b"] - acc["pb"]).cast("double") * F.lit(lam_bw)
        carry = F.when(
            acc["pb"] == F.lit(-(2**62)), F.lit(0.0)
        ).otherwise(acc["run"] * F.exp(-gap))
        return F.struct(
            e["b"].alias("pb"),
            (carry + e["s"]).alias("run"),
            (acc["cnt"] + e["n"]).alias("cnt"),
            F.concat(
                acc["out"],
                F.array(
                    F.struct(
                        e["b"].alias("b"),
                        carry.alias("carry"),
                        acc["cnt"].alias("pcnt"),
                    )
                ),
            ).alias("out"),
        )

    return step


def with_decayed(
    df: DataFrame,
    specs: Iterable[tuple[str, str]],
    half_life_s: float,
    keys: Sequence[str] | str = "conv_id",
    order: Sequence[str] | str = ("ts", "turn_idx"),
    ts_col: str = "ts",
    include_current: bool = False,
    strategy: str = "window",
    bucket_seconds: int | None = None,
) -> DataFrame:
    """Exponentially time-decayed aggregates, point-in-time per row.

    specs: (col, agg) with agg in {"sum", "count"} -> column
    ``{col}_dec{agg}_{H}s`` = sum over the frame of
    ``w_i * exp(-ln2 * (t_row - t_i) / half_life_s)`` with ``w_i`` the
    value (sum) or 1 (count).  NULL values drop out of "sum" (SQL sum
    semantics); an empty frame yields NULL for both aggs.
    ``include_current=False`` keeps the frame strictly historical.

    strategy="window": per-key time rebase + one running-sum window —
    valid while a key's time span stays under ~700 half-lives (the
    ``exp`` overflow bound; documented, not checked row-wise).
    strategy="bucketed": per-(key, bucket) rebase with an F.aggregate
    carry fold over the per-key bucket-summary array — overflow-free
    for unbounded spans and hot-key-safe (bucket bounds the window
    task).  ``bucket_seconds`` defaults to 64 half-lives.
    """
    keys_l, order_l = _keys(keys), _order(order)
    specs_l = [(c, a) for c, a in specs]
    for _, a in specs_l:
        if a not in ("sum", "count"):
            raise ValueError(f"unsupported decayed agg {a!r}")
    lam = LN2 / float(half_life_s)
    if strategy not in ("window", "bucketed"):
        raise ValueError(f"unknown with_decayed strategy {strategy!r}")
    if strategy == "bucketed":
        bw = int(bucket_seconds) if bucket_seconds else max(int(64 * half_life_s), 1)
        if lam * bw > 600:
            raise ValueError(
                f"bucket_seconds={bw} exceeds the exp overflow bound for "
                f"half_life_s={half_life_s}; use <= ~600 half-lives"
            )
    hl_tag = (
        str(int(half_life_s))
        if float(half_life_s).is_integer()
        else str(half_life_s).replace(".", "_")
    )
    upper = 0 if include_current else -1
    out = df.withColumn("__us", _micros(ts_col))

    def weight(col: str, agg: str, x: Column) -> Column:
        # term weight at rebased time offset x (seconds, double)
        w = F.exp(F.lit(lam) * x)
        if agg == "count":
            return w
        return F.when(F.col(col).isNotNull(), F.col(col).cast("double") * w)

    if strategy == "window":
        wfull = (
            Window.partitionBy(*keys_l)
            .orderBy(*order_l)
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        out = out.withColumn("__t0us", F.min("__us").over(wfull))
        x = (F.col("__us") - F.col("__t0us")).cast("double") / F.lit(1e6)
        run = (
            Window.partitionBy(*keys_l)
            .orderBy(*order_l)
            .rowsBetween(Window.unboundedPreceding, upper)
        )
        for col, agg in specs_l:
            name = f"{col}_dec{agg}_{hl_tag}s"
            s = F.sum(weight(col, agg, x)).over(run)
            out = out.withColumn(name, s * F.exp(F.lit(-lam) * x))
        return out.drop("__us", "__t0us")

    bw_us = bw * 1_000_000
    out = out.withColumn("__b", _bucketize(F.col("__us"), bw_us))
    x = (F.col("__us") - F.col("__b") * F.lit(bw_us)).cast("double") / F.lit(1e6)
    wb = (
        Window.partitionBy(*keys_l, "__b")
        .orderBy(*order_l)
        .rowsBetween(Window.unboundedPreceding, upper)
    )
    wball = (
        Window.partitionBy(*keys_l, "__b")
        .orderBy(*order_l)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    carry_cols = []
    contrib = {}
    for col, agg in specs_l:
        tag = f"{col}_{agg}"
        # in-bucket running sum at the row + full-bucket mass for the fold
        out = out.withColumn(f"__in_{tag}", F.sum(weight(col, agg, x)).over(wb))
        out = out.withColumn(
            f"__tot_{tag}", F.coalesce(F.sum(weight(col, agg, x)).over(wball), F.lit(0.0))
        )
        # exact contributing-row count: non-null values for "sum",
        # every row for "count" — mirrors SQL sum/count NULL semantics
        contrib[tag] = F.count(F.col(col)) if agg == "sum" else F.count(F.lit(1))
        carry_cols.append(tag)

    # per-key bucket summaries -> sequential carry fold (tiny per-key
    # array: one element per occupied bucket, NOT per row)
    out = _keyed(out, keys_l)
    g = out.groupBy("__kk", "__b").agg(
        *[F.first(f"__tot_{t}").alias(f"s_{t}") for t in carry_cols],
        *[contrib[t].alias(f"n_{t}") for t in carry_cols],
    )
    init = F.struct(
        F.lit(-(2**62)).cast("long").alias("pb"),
        F.lit(0.0).alias("run"),
        F.lit(0).cast("long").alias("cnt"),
        F.array().cast("array<struct<b:long,carry:double,pcnt:long>>").alias("out"),
    )
    folded = g.groupBy("__kk").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("__b").alias("b"),
                    *[F.col(f"s_{t}").alias(f"s_{t}") for t in carry_cols],
                    *[F.col(f"n_{t}").alias(f"n_{t}") for t in carry_cols],
                )
            )
        ).alias("__arr")
    )
    def pick(tag: str):
        # closure factory — a default-arg capture would change the
        # pyspark HOF lambda's arity (see temporal._prefix_vals)
        return lambda e: F.struct(
            e["b"].alias("b"), e[f"s_{tag}"].alias("s"), e[f"n_{tag}"].alias("n")
        )

    lam_bw = lam * bw
    for tag in carry_cols:
        arr = F.transform(F.col("__arr"), pick(tag))
        res = F.aggregate(arr, init, _fold_step(lam_bw), lambda a: a["out"])
        folded = folded.withColumn(f"__c_{tag}", res)
    carries = folded.select(
        "__kk",
        F.explode(
            F.arrays_zip(*[F.col(f"__c_{t}").alias(t) for t in carry_cols])
        ).alias("__z"),
    ).select(
        "__kk",
        F.col(f"__z.{carry_cols[0]}.b").alias("__b"),
        *[F.col(f"__z.{t}.carry").alias(f"__carry_{t}") for t in carry_cols],
        *[F.col(f"__z.{t}.pcnt").alias(f"__pcnt_{t}") for t in carry_cols],
    )
    j = out.join(carries, ["__kk", "__b"], "left")
    drop = ["__us", "__b", "__kk"]
    for col, agg in specs_l:
        tag = f"{col}_{agg}"
        name = f"{col}_dec{agg}_{hl_tag}s"
        carry = F.coalesce(F.col(f"__carry_{tag}"), F.lit(0.0))
        pcnt = F.coalesce(F.col(f"__pcnt_{tag}"), F.lit(0))
        inrun = F.col(f"__in_{tag}")
        # NULL only when the whole history frame is empty: no in-bucket
        # contribution AND zero rows contributed in earlier buckets.
        # The exact integer count — not carry == 0.0 — decides: negative
        # values can cancel a real carry to exactly zero.
        total = F.when(
            inrun.isNull() & (pcnt == F.lit(0)), F.lit(None).cast("double")
        ).otherwise(F.coalesce(inrun, F.lit(0.0)) + carry)
        j = j.withColumn(name, total * F.exp(F.lit(-lam) * x))
        drop += [f"__in_{tag}", f"__tot_{tag}", f"__carry_{tag}", f"__pcnt_{tag}"]
    return j.drop(*drop)


def with_recency(
    df: DataFrame,
    predicates: dict[str, Column] | None = None,
    keys: Sequence[str] | str = "conv_id",
    order: Sequence[str] | str = ("ts", "turn_idx"),
    ts_col: str = "ts",
) -> DataFrame:
    """Recency features, strictly from earlier rows (leakage-safe).

    Adds ``secs_since_prev`` (inter-arrival time to the previous row of
    the key; NULL on the first) and, per named predicate,
    ``secs_since_{name}`` / ``rows_since_{name}`` — distance to the most
    recent STRICTLY EARLIER row where the predicate held (NULL when
    none).  Seconds carry microsecond precision (computed on integer
    micros, divided once — identical on every engine).
    """
    keys_l, order_l = _keys(keys), _order(order)
    preds = dict(predicates or {})
    out = df.withColumn("__us", _micros(ts_col))
    w = Window.partitionBy(*keys_l).orderBy(*order_l)
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    out = out.withColumn(
        "secs_since_prev",
        (F.col("__us") - F.lag("__us", 1).over(w)).cast("double") / F.lit(1e6),
    )
    out = out.withColumn("__rn", F.row_number().over(w))
    for name, pred in preds.items():
        last_us = F.max(F.when(pred, F.col("__us"))).over(wprev)
        last_rn = F.max(F.when(pred, F.col("__rn"))).over(wprev)
        out = out.withColumn(
            f"secs_since_{name}",
            (F.col("__us") - last_us).cast("double") / F.lit(1e6),
        ).withColumn(
            f"rows_since_{name}", (F.col("__rn") - last_rn).cast("long")
        )
    return out.drop("__us", "__rn")


def with_rolling_distinct(
    df: DataFrame,
    col: str,
    k: int | None = None,
    seconds: int | None = None,
    keys: Sequence[str] | str = "conv_id",
    order: Sequence[str] | str = ("ts", "turn_idx"),
    ts_col: str = "ts",
    include_current: bool = False,
    strategy: str = "window",
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Distinct-count of ``col`` over a trailing frame (k rows or
    ``seconds`` time range); NULLs don't count (SQL COUNT DISTINCT
    semantics); empty frame -> 0.

    Column: ``{col}_nunique_last{k}`` / ``{col}_nunique_{s}s``.
    Per-row state is the frame's values (k-bounded / range-bounded).
    Time mode supports strategy="bucketed" (temporal._range_frame), so
    one hot key never becomes one giant task.
    """
    if (k is None) == (seconds is None):
        raise ValueError("pass exactly one of k= or seconds=")
    keys_l, order_l = _keys(keys), _order(order)
    upper = 0 if include_current else -1

    def dcount(w) -> Column:
        return F.size(F.array_distinct(F.collect_list(col).over(w)))

    if k is not None:
        if strategy != "window":
            raise ValueError("rows mode supports strategy='window' only")
        w = (
            Window.partitionBy(*keys_l)
            .orderBy(*order_l)
            .rowsBetween(-int(k), upper)
        )
        return df.withColumn(f"{col}_nunique_last{k}", dcount(w))

    if strategy not in ("window", "bucketed"):
        raise ValueError(f"unknown strategy {strategy!r}")
    name = f"{col}_nunique_{int(seconds)}s"
    reach = int(seconds) * 1_000_000
    return _range_frame(
        df, keys_l, _micros(ts_col), reach,
        int(bucket_seconds) * 1_000_000 if strategy == "bucketed" else None,
        lambda u, w: u.withColumn(name, dcount(w.rangeBetween(-reach, upper))),
    )


def with_trend(
    df: DataFrame,
    value_col: str,
    k: int,
    keys: Sequence[str] | str = "conv_id",
    order: Sequence[str] | str = ("ts", "turn_idx"),
    ts_col: str = "ts",
    include_current: bool = False,
) -> DataFrame:
    """Rolling OLS slope of ``value_col`` vs time (units/second) over
    the trailing k rows: ``{value_col}_slope_last{k}``.

    Closed form from five running sums sharing one window sort; x is
    per-key-rebased seconds (see module docstring for why).  Rows with
    NULL value drop out; NULL when the frame has < 2 distinct x.
    """
    keys_l, order_l = _keys(keys), _order(order)
    upper = 0 if include_current else -1
    out = df.withColumn("__us", _micros(ts_col))
    wfull = (
        Window.partitionBy(*keys_l)
        .orderBy(*order_l)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    out = out.withColumn("__t0us", F.min("__us").over(wfull))
    x = (F.col("__us") - F.col("__t0us")).cast("double") / F.lit(1e6)
    y = F.col(value_col).cast("double")
    xn = F.when(y.isNotNull(), x)
    w = (
        Window.partitionBy(*keys_l)
        .orderBy(*order_l)
        .rowsBetween(-int(k), upper)
    )
    n = F.count(value_col).over(w).cast("double")
    sx = F.sum(xn).over(w)
    sy = F.sum(y).over(w)
    sxy = F.sum(xn * y).over(w)
    sxx = F.sum(xn * xn).over(w)
    denom = n * sxx - sx * sx
    slope = F.when(denom > 0, (n * sxy - sx * sy) / denom)
    return out.withColumn(f"{value_col}_slope_last{k}", slope).drop(
        "__us", "__t0us"
    )


def with_zscore(
    df: DataFrame,
    value_col: str,
    k: int,
    keys: Sequence[str] | str = "conv_id",
    order: Sequence[str] | str = ("ts", "turn_idx"),
    include_current: bool = False,
    strategy: str = "window",
    bucket_ts_col: str = "ts",
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Rolling z-score: ``(x - trailing_mean) / trailing_stddev`` over
    the last k rows -> ``{value_col}_z_last{k}`` (NULL when the frame
    has < 2 values or zero variance).  Pure composition over
    ``with_rolling`` — including its bucketed hot-key strategy.
    """
    out = with_rolling(
        df,
        [(value_col, "avg", k), (value_col, "stddev", k)],
        keys=keys,
        order=order,
        include_current=include_current,
        strategy=strategy,
        bucket_ts_col=bucket_ts_col,
        bucket_seconds=bucket_seconds,
    )
    m = F.col(f"{value_col}_avg_last{k}")
    s = F.col(f"{value_col}_stddev_last{k}")
    z = F.when(s > 0, (F.col(value_col).cast("double") - m) / s)
    return out.withColumn(f"{value_col}_z_last{k}", z).drop(
        f"{value_col}_avg_last{k}", f"{value_col}_stddev_last{k}"
    )


def with_cusum(
    df: DataFrame,
    value_col: str,
    target: float,
    slack: float = 0.0,
    threshold: float | None = None,
    keys: Sequence[str] | str = "conv_id",
    order: Sequence[str] | str = ("ts", "turn_idx"),
    strategy: str = "window",
    ts_col: str = "ts",
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Two-sided CUSUM change-point statistics per key, point-in-time:
    ``{col}_cusum_pos`` / ``{col}_cusum_neg`` (Page's reset-at-zero
    recursions against a FIXED reference ``target`` — pass the
    expected mean from training data or a spec, never fit it on the
    serving stream) and, when ``threshold`` is set, ``{col}_cusum_alarm``.

    pos_t = max(0, pos_{t-1} + (x_t - target - slack))
    neg_t = max(0, neg_{t-1} - (x_t - target + slack))

    Scale design: the reset-at-zero recursion LINEARIZES — with
    S_t = Σ(x - target - slack), pos_t = S_t - min(0, min_{j<=t} S_j)
    (and neg on the negated series) — so the whole statistic is four
    running aggregates over ONE (keys, order) window sort, no Python,
    no iteration, exactly SQL-replayable.  NULL values leave the state
    unchanged (their increment is 0 on both sides).

    ``strategy="bucketed"`` (hot-key safe, temporal._carry_in): prefix
    sums AND prefix minima compose across ``bucket_seconds`` buckets
    (global running min = min(carry_min, carry_sum + local running
    min)).  Output equals the window strategy up to float-addition
    regrouping (~1e-9; the equivalence unit and fuzz suite pin it).
    """
    keys_l = [keys] if isinstance(keys, str) else list(keys)
    order_l = [order] if isinstance(order, str) else list(order)
    x = F.col(value_col).cast("double")
    d_pos = F.coalesce(x - F.lit(float(target)) - F.lit(float(slack)), F.lit(0.0))
    d_neg = F.coalesce(-(x - F.lit(float(target)) + F.lit(float(slack))), F.lit(0.0))

    src, tmp = df, []
    if strategy == "window":
        w = (
            Window.partitionBy(*keys_l).orderBy(*order_l)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        s_pos = F.sum(d_pos).over(w)
        s_neg = F.sum(d_neg).over(w)
        pos = s_pos - F.least(F.lit(0.0), F.min(s_pos).over(w))
        neg = s_neg - F.least(F.lit(0.0), F.min(s_neg).over(w))
    elif strategy == "bucketed":
        base = _keyed(df, keys_l).withColumn(
            "__bucket", _bucketize(epoch_seconds(ts_col), bucket_seconds)
        ).withColumn("__dp", d_pos).withColumn("__dn", d_neg)
        wl = (
            Window.partitionBy("__kk", "__bucket").orderBy(*order_l)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        base = base.withColumn("__lsp", F.sum("__dp").over(wl)).withColumn(
            "__lsn", F.sum("__dn").over(wl)
        ).withColumn("__lmp", F.min("__lsp").over(wl)).withColumn(
            "__lmn", F.min("__lsn").over(wl)
        )

        # per-(key, bucket) totals: bucket sum + bucket min-prefix. Then
        # carry_sum(b) = exclusive prefix of bucket totals, and
        # carry_min(b) = min over earlier buckets of (carry_sum(b') +
        # local_min(b')) — two passes over the same small table
        def sums(w):
            return [
                _sum_before("__tp", w).alias("__cp"),
                _sum_before("__tn", w).alias("__cn"),
            ]

        def mins(w):
            before = w.rowsBetween(Window.unboundedPreceding, -1)
            return [
                F.min(F.col("__cp") + F.col("__bp")).over(before).alias("__mp"),
                F.min(F.col("__cn") + F.col("__bn")).over(before).alias("__mn"),
            ]

        j = _carry_in(
            base,
            [
                F.sum("__dp").alias("__tp"), F.sum("__dn").alias("__tn"),
                F.min("__lsp").alias("__bp"), F.min("__lsn").alias("__bn"),
            ],
            sums, mins,
        )
        s_pos = F.col("__cp") + F.col("__lsp")
        s_neg = F.col("__cn") + F.col("__lsn")
        run_min_p = F.least(
            F.coalesce(F.col("__mp"), F.lit(float("inf"))),
            F.col("__cp") + F.col("__lmp"),
        )
        run_min_n = F.least(
            F.coalesce(F.col("__mn"), F.lit(float("inf"))),
            F.col("__cn") + F.col("__lmn"),
        )
        pos = s_pos - F.least(F.lit(0.0), run_min_p)
        neg = s_neg - F.least(F.lit(0.0), run_min_n)
        src, tmp = j, [
            "__kk", "__bucket", "__dp", "__dn", "__lsp", "__lsn", "__lmp", "__lmn",
            "__cp", "__cn", "__mp", "__mn",
        ]
    else:
        raise ValueError(f"unknown with_cusum strategy {strategy!r}")

    out = src.withColumn(f"{value_col}_cusum_pos", pos).withColumn(
        f"{value_col}_cusum_neg", neg
    ).drop(*tmp)
    if threshold is not None:
        out = out.withColumn(
            f"{value_col}_cusum_alarm",
            (F.col(f"{value_col}_cusum_pos") > F.lit(float(threshold)))
            | (F.col(f"{value_col}_cusum_neg") > F.lit(float(threshold))),
        )
    return out


def seasonal_decompose(
    df: DataFrame,
    value_col: str,
    ts_col: str = "ts",
    keys: Sequence[str] | str = (),
    grain: str = "hour",
    period: int = 24,
) -> DataFrame:
    """Classical additive decomposition y = trend + seasonal + residual
    over the ``grain``-bucketed series (avg of ``value_col`` per
    bucket), optionally per key.

    - trend: symmetric moving average over ``2*(period//2) + 1``
      buckets (the simplified odd-window form of the textbook 2xm MA;
      partial windows at the series edges average what exists);
    - seasonal: per season-index mean of the detrended series — the
      index is CALENDAR-derived (floor(epoch / grain_seconds) mod
      period), so a missing bucket (an empty hour) cannot shift every
      later bucket's season assignment the way an ordinal index would;
      centered so the seasonal components sum to ~0 — the additive
      identity holds exactly: residual = y - trend - seasonal;
    - residual: what is left — the anomaly signal.

    Scale note: every window here runs over the AGGREGATED bucket
    series — bounded by time-range / granularity (8,760 rows per
    key-year at hourly), never by event count; the same
    small-after-reduction argument as survival.kaplan_meier.  The raw
    stream is touched exactly once (the bucket groupBy, map-side
    combined).
    """
    keys_l = [keys] if isinstance(keys, str) else list(keys)
    m = int(period) // 2
    grain_s = {"minute": 60, "hour": 3600, "day": 86400, "week": 604800}
    if grain not in grain_s:
        raise ValueError(
            f"grain must be one of {sorted(grain_s)}, got {grain!r}"
        )

    series = (
        df.groupBy(
            *keys_l, F.date_trunc(grain, F.col(ts_col)).alias("bucket_ts")
        )
        .agg(F.avg(value_col).alias("y"))
    )
    part = (
        Window.partitionBy(*keys_l)
        if keys_l
        else Window.partitionBy(F.lit(1))
    )
    w_ord = part.orderBy("bucket_ts")
    # season index: calendar-derived, so a missing bucket can't shift
    # later assignments.  day/week use date arithmetic rather than
    # epoch division — in a DST session timezone a local day is 23 or
    # 25 hours, so floor(epoch/86400) would repeat or skip an index at
    # each transition while datediff counts calendar days exactly
    # (1970-01-05 is a Monday, matching date_trunc('week')'s week
    # start; in a UTC session the two formulas coincide bit-for-bit).
    if grain == "day":
        idx_base = F.datediff(F.col("bucket_ts"), F.lit("1970-01-01"))
    elif grain == "week":
        idx_base = F.floor(
            F.datediff(F.col("bucket_ts"), F.lit("1970-01-05")) / 7
        )
    else:
        idx_base = F.floor(
            F.unix_micros(F.col("bucket_ts").cast("timestamp"))
            / F.lit(grain_s[grain] * 1_000_000)
        )
    series = series.withColumn(
        "season_idx", F.pmod(idx_base, F.lit(int(period))).cast("int")
    )
    trend = F.avg("y").over(w_ord.rowsBetween(-m, m))
    series = series.withColumn("trend", trend).withColumn(
        "__det", F.col("y") - F.col("trend")
    )
    w_season = (
        Window.partitionBy(*keys_l, "season_idx")
        if keys_l
        else Window.partitionBy("season_idx")
    )
    raw_seasonal = F.avg("__det").over(w_season)
    series = series.withColumn("__rs", raw_seasonal)
    grand = F.avg("__rs").over(part)
    return (
        series.withColumn("seasonal", F.col("__rs") - grand)
        .withColumn(
            "residual", F.col("y") - F.col("trend") - F.col("seasonal")
        )
        .select(
            *keys_l, "bucket_ts", "season_idx", "y", "trend", "seasonal",
            "residual",
        )
    )
