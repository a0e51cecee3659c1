"""Fitted column transforms the reference delegated to sklearn:
scaling (standard / min-max / robust), missing-value imputation
(mean / median / mode), and quantile winsorization.

Reference parity: didtool pipelines run INSIDE an sklearn Pipeline
(reference README / model.py usage) and lean on sklearn's scalers and
imputers for the numeric half; a standalone Spark engine must ship
them.  All three follow didtool's fit/transform split (transformer.py
convention): ``fit_*`` returns a small statistics DataFrame that can be
checkpointed and audited, ``apply_*`` is a pure expression transform —
so serving never recomputes statistics and train/serve skew is
impossible by construction.

Scale design:
- every fit melts ALL requested columns into one (feature, value)
  stream and computes its statistics in ONE map-side-combined
  aggregation over ONE scan (the iv_all single-pass pattern) — column
  count never multiplies scans.  Median/quantiles use Spark's exact
  ``percentile`` by default (gate-replayable); ``approx=True`` switches
  to the mergeable t-digest sketch for 100TB fits.
- mode (most frequent value) needs per-(feature, value) counts — a
  second aggregated-key groupBy whose volume is the distinct-value
  count, with the deterministic (-count, value) struct-min tie-break.
- ``apply_*`` joins the per-feature constants back ONLY via literal
  expressions built from the (tiny, collected) stats frame — the stats
  are O(columns), so this is a driver literal inline, not a data join;
  transforms stay whole-stage codegen at scan speed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.utils import bounded_pull, persisted

__all__ = [
    "fit_scaler",
    "apply_scaler",
    "fit_imputer",
    "apply_imputer",
    "winsorize",
]

_METHODS = ("standard", "minmax", "robust")

# driver percentile cap: 16M (value, count) rows is ~256 MB over Arrow
# against the session's 8g driver
_DRIVER_ROWS = 16_000_000


def _cols(cols: Sequence[str] | str) -> list[str]:
    return [cols] if isinstance(cols, str) else list(cols)


def _melt_num(df: DataFrame, cols: list[str]) -> DataFrame:
    pairs = F.array(
        *[
            F.struct(F.lit(c).alias("__feat"), F.col(c).cast("double").alias("__val"))
            for c in cols
        ]
    )
    return df.select(F.explode(pairs).alias("__p")).select(
        F.col("__p.__feat").alias("__feat"), F.col("__p.__val").alias("__val")
    )


def _interp_percentile(position: float, lo: int, hi: int, lv: float, hv: float):
    """Spark Percentile.getPercentile's exact arithmetic: equal
    ordinals / equal keys return the key itself (no FP round-trip),
    else the two-sided form — verified bit-identical to
    ``F.percentile`` in tests/test_scalers.py (the naive
    ``lv + frac*(hv-lv)`` lerp differs in the last ulp on ~20% of
    random inputs)."""
    if lo == hi or hv == lv:
        return lv
    return (hi - position) * lv + (position - lo) * hv


def exact_percentiles(
    melted: DataFrame,
    probs: Sequence[float],
) -> dict[str, list[float]]:
    """Exact percentiles over the melted ``(__feat, __val)`` stream as
    a DISTRIBUTED value-counts histogram + ordinal lookup, replacing
    Spark's ``percentile`` aggregate for wide-cardinality fits.

    Why: ``percentile`` is a TypedImperativeAggregate — every map task
    builds an OpenHashMap[value -> count] and ONE reducer per group
    merges all of them and sorts the union (guide §2.5: a single giant
    key).  At ~4.5M distinct doubles that merge is a 15+-second serial
    tail (measured on lineitem.l_extendedprice at sf1.0).  Here the
    counts come from a map-side-combined groupBy (fully parallel) and
    the order statistics from the (value, count) table, which is
    smaller than the input by the duplication factor:

    - a table of at most ``_DRIVER_ROWS`` rows is read on the driver
      (``functions.utils.bounded_pull``) and searched with numpy
      argsort/cumsum/searchsorted — sub-second.
    - larger: a per-feature window over the counts table computes
      cumulative ordinals and only the <= 2·|probs| straddle rows per
      feature reach the driver.  (Slower — the window sorts one
      feature per task — but bounded-memory at any scale.)

    Bit-identical to ``F.percentile``: value ordering is the same SQL
    ordering (NULLs dropped, NaN greatest — numpy argsort also places
    NaN last) and the interpolation is ``_interp_percentile``.
    """
    import math

    from pyspark.sql.window import Window

    with persisted() as keep:
        cnts = keep(
            melted.where(F.col("__val").isNotNull())
            .groupBy("__feat", "__val")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        # the pull's count materializes the cache with a direct action
        # FIRST: an aggregation planned ON TOP of the un-materialized
        # InMemoryRelation does not reliably populate it under AQE
        # (measured: the dependent job re-ran the full counts
        # aggregation, 12s instead of 0.6s)
        pdf = bounded_pull(cnts, _DRIVER_ROWS)
        if pdf is not None:
            import numpy as np

            out: dict[str, list[float]] = {}
            for f_, g in pdf.groupby("__feat", sort=False):
                vals = g["__val"].to_numpy(dtype=np.float64)
                cs = g["__c"].to_numpy(dtype=np.int64)
                order = np.argsort(vals, kind="stable")  # NaN sorts last
                vals = vals[order]
                ends = np.cumsum(cs[order])
                n = int(ends[-1])
                res = []
                for p in probs:
                    position = float(p) * (n - 1)
                    lo, hi = math.floor(position), math.ceil(position)
                    lv = float(vals[np.searchsorted(ends, lo, side="right")])
                    hv = float(vals[np.searchsorted(ends, hi, side="right")])
                    res.append(_interp_percentile(position, lo, hi, lv, hv))
                out[f_] = res
            return out
        totals = {
            r["__feat"]: int(r["__n"])
            for r in cnts.groupBy("__feat")
            .agg(F.sum("__c").alias("__n"))
            .collect()
        }
        need: set[tuple[str, int]] = set()
        pos: dict[tuple[str, float], tuple[float, int, int]] = {}
        for f_, n in totals.items():
            for p in probs:
                position = float(p) * (n - 1)
                lo, hi = math.floor(position), math.ceil(position)
                pos[(f_, p)] = (position, lo, hi)
                need.add((f_, lo))
                need.add((f_, hi))
        w = Window.partitionBy("__feat").orderBy("__val")
        cum = cnts.withColumn("__end", F.sum("__c").over(w)).withColumn(
            "__start", F.col("__end") - F.col("__c")
        )
        cond = None
        for f_, k in sorted(need):
            c = (
                (F.col("__feat") == f_)
                & (F.col("__start") <= k)
                & (F.col("__end") > k)
            )
            cond = c if cond is None else (cond | c)
        vals: dict[tuple[str, int], float] = {}
        if cond is not None:
            for r in cum.where(cond).collect():
                for f_, k in need:
                    if f_ == r["__feat"] and r["__start"] <= k < r["__end"]:
                        vals[(f_, k)] = r["__val"]
        out = {}
        for f_ in totals:
            res = []
            for p in probs:
                position, lo, hi = pos[(f_, p)]
                res.append(
                    _interp_percentile(
                        position, lo, hi, vals[(f_, lo)], vals[(f_, hi)]
                    )
                )
            out[f_] = res
        return out


def fit_scaler(
    df: DataFrame,
    cols: Sequence[str] | str,
    method: str = "standard",
    approx: bool = False,
) -> DataFrame:
    """Fit per-feature scaling constants: ``(feature, center, scale)``.

    standard: (mean, stddev_samp); minmax: (min, max - min); robust:
    (median, IQR).  NULLs drop out of every statistic (SQL agg
    semantics).  One melted aggregation over one scan; ``approx`` uses
    approx_percentile for robust at sketch cost.
    """
    cols_l = _cols(cols)
    if method not in _METHODS:
        raise ValueError(f"unknown scaler method {method!r}; pick from {_METHODS}")
    m = _melt_num(df, cols_l)
    v = F.col("__val")
    if method == "standard":
        agg = [F.avg(v).alias("center"), F.stddev_samp(v).alias("scale")]
    elif method == "minmax":
        agg = [F.min(v).alias("center"), (F.max(v) - F.min(v)).alias("scale")]
    else:
        pct = F.approx_percentile if approx else F.percentile
        q = pct(v, F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
        agg = [
            q[1].alias("center"),
            (q[2] - q[0]).alias("scale"),
        ]
    return m.groupBy(F.col("__feat").alias("feature")).agg(*agg)


def apply_scaler(
    df: DataFrame,
    stats: DataFrame,
    suffix: str = "_scaled",
) -> DataFrame:
    """Apply fitted constants: ``(x - center) / scale`` per feature
    (``scale <= 0`` or NULL -> 0.0, the sklearn constant-column
    convention).  The stats frame is O(columns) — collected once and
    inlined as literals, so the transform is pure codegen."""
    rows = stats.collect()
    out = df
    for r in rows:
        c, ctr, sc = r["feature"], r["center"], r["scale"]
        x = F.col(c).cast("double")
        if ctr is None or sc is None or sc <= 0:
            expr = F.when(x.isNotNull(), F.lit(0.0))
        else:
            expr = (x - F.lit(float(ctr))) / F.lit(float(sc))
        out = out.withColumn(f"{c}{suffix}", expr)
    return out


def fit_imputer(
    df: DataFrame,
    num_cols: Sequence[str] | str = (),
    cat_cols: Sequence[str] | str = (),
    num_strategy: str = "mean",
    approx: bool = False,
) -> DataFrame:
    """Fit fill values: ``(feature, fill_num, fill_cat)`` (one of the
    two is NULL per row).  Numeric: mean or median over non-NULLs, one
    melted agg.  Categorical: the most frequent value with the
    deterministic (-count, value) struct-min tie-break — a second
    groupBy whose volume is the DISTINCT (feature, value) count."""
    num_l, cat_l = _cols(num_cols) if num_cols else [], _cols(cat_cols) if cat_cols else []
    if num_strategy not in ("mean", "median"):
        raise ValueError(f"unknown num_strategy {num_strategy!r}")
    parts = []
    if num_l:
        m = _melt_num(df, num_l)
        if num_strategy == "mean":
            fill = F.avg("__val")
        else:
            pct = F.approx_percentile if approx else F.percentile
            fill = pct(F.col("__val"), F.lit(0.5))
        parts.append(
            m.groupBy(F.col("__feat").alias("feature")).agg(
                fill.alias("fill_num"),
                F.lit(None).cast("string").alias("fill_cat"),
            )
        )
    if cat_l:
        pairs = F.array(
            *[
                F.struct(F.lit(c).alias("__feat"), F.col(c).cast("string").alias("__val"))
                for c in cat_l
            ]
        )
        mc = (
            df.select(F.explode(pairs).alias("__p"))
            .select(F.col("__p.__feat").alias("__feat"), F.col("__p.__val").alias("__val"))
            .where(F.col("__val").isNotNull())
            .groupBy("__feat", "__val")
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        top = mc.groupBy(F.col("__feat").alias("feature")).agg(
            F.min(
                F.struct((-F.col("__n")).alias("negn"), F.col("__val").alias("v"))
            )["v"].alias("fill_cat")
        )
        # left join from the literal feature list so an ALL-NULL column
        # still gets its (feature, NULL) row instead of vanishing
        all_feats = df.sparkSession.createDataFrame(
            [(c,) for c in cat_l], "feature string"
        )
        top = all_feats.join(top, "feature", "left")
        parts.append(
            top.select(
                "feature", F.lit(None).cast("double").alias("fill_num"), "fill_cat"
            )
        )
    if not parts:
        raise ValueError("pass num_cols and/or cat_cols")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def apply_imputer(df: DataFrame, stats: DataFrame, suffix: str = "") -> DataFrame:
    """Fill NULLs with the fitted values (literal-inlined, pure
    codegen).  ``suffix=""`` overwrites in place (the sklearn
    convention); pass e.g. ``"_imp"`` to keep originals."""
    out = df
    for r in stats.collect():
        c = r["feature"]
        fill = r["fill_num"] if r["fill_num"] is not None else r["fill_cat"]
        name = f"{c}{suffix}"
        if fill is None:  # all-NULL column: nothing to impute with
            out = out.withColumn(name, F.col(c))
        else:
            out = out.withColumn(name, F.coalesce(F.col(c), F.lit(fill)))
    return out


def winsorize(
    df: DataFrame,
    cols: Sequence[str] | str,
    lower: float = 0.01,
    upper: float = 0.99,
    suffix: str = "_w",
    approx: bool = False,
) -> DataFrame:
    """Clip each column at its fitted (lower, upper) quantiles — the
    standard outlier guard before scaling.  ONE melted exact-percentile
    aggregation fits every column's bounds; the clip is
    literal-inlined codegen.  NULLs pass through untouched."""
    cols_l = _cols(cols)
    m = _melt_num(df, cols_l)
    if approx:
        q = F.approx_percentile(
            F.col("__val"), F.array(F.lit(float(lower)), F.lit(float(upper)))
        )
        bounds = {
            r["feature"]: (r["lo"], r["hi"])
            for r in m.groupBy(F.col("__feat").alias("feature"))
            .agg(q[0].alias("lo"), q[1].alias("hi"))
            .collect()
        }
    else:
        # distributed exact-percentile histogram (r6): identical values
        # to F.percentile without its single-reducer map merge — 17.9s
        # -> ~2.5s on lineitem.l_extendedprice at sf1.0
        ep = exact_percentiles(m, [float(lower), float(upper)])
        bounds = {c: (v[0], v[1]) for c, v in ep.items()}
        bounds.update({c: (None, None) for c in cols_l if c not in bounds})
    out = df
    for c in cols_l:
        lo, hi = bounds[c]
        x = F.col(c).cast("double")
        if lo is None:  # all-NULL column
            out = out.withColumn(f"{c}{suffix}", x)
        else:
            # when-guard: Spark's greatest/least IGNORE NULL arguments
            # (greatest(NULL, lo) == lo), which would clip NULLs to the
            # lower bound instead of passing them through
            out = out.withColumn(
                f"{c}{suffix}",
                F.when(
                    x.isNotNull(),
                    F.least(F.greatest(x, F.lit(float(lo))), F.lit(float(hi))),
                ),
            )
    return out
