"""Distributed binning / discretization (reference didtool/cut.py).

fit = one Spark aggregation -> small edge list on the driver;
transform = generated right-closed CASE/comparison expression
(functions.binexpr.bin_expr) — no UDF, no shuffle, codegen-friendly.

Methods and exact semantics (reference file:line):
- step      cut.py:15-66   equal-width pd.cut edges + empty-bin merge
- quantile  cut.py:69-104  pd.qcut (linear-interp percentiles, dup-drop)
- dt        cut.py:107-161 sklearn CART thresholds (driver_fit.cart_thresholds)
- lgb       cut.py:164-231 single LightGBM tree (driver_fit.lgb_thresholds)
- chi       cut.py:253-354 ChiMerge (driver_fit.chimerge_edges)
NaN/NULL -> bin -1 in every method (cut.py:60-61 etc.); supervised fits
use non-null x only (cut.py:146-147, 197, 275-276).

``fit_thresholds`` is the one method -> edges dispatch over aggregated
(value, count y=0, count y=1) arrays and the only caller of the
driver_fit cut functions: the dt/lgb/chi/quantile fits here, every WOE
fit and ``metrics.iv_all`` all reach their edges through it.

Scale notes: every fit collects a grouped state table through one
capped pull, ``collect_capped``: ``limit(MAX_DISTINCT + 1)`` so the
driver never materializes more than the cap, exact below it. Above it
the fit falls back once, through the helpers below it: continuous fits
re-aggregate over ``PRE_BINS`` percentile micro-bins
(``micro_bin_rows``), categorical fits keep the top-k values by
frequency (``top_k_rows``). The caps are module constants read at call
time, so patching them here reaches every fit in woe, category and
metrics as well.
"""

from __future__ import annotations

import math
from typing import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from ..functions.binexpr import bin_expr
from ..functions.driver_fit import (
    cart_thresholds,
    chimerge_edges,
    lgb_thresholds,
    quantile_edges_weighted,
    step_edges_weighted,
)

DEFAULT_BINS = 10

# Driver cap of every capped fit: grouped rows a fit may hold on the
# driver. Above it continuous fits quantize to PRE_BINS percentile
# micro-bins (distinct ~= rows for continuous doubles at cluster scale)
# and categorical fits keep the top-k values by frequency.
# APPROX_ACCURACY is the percentile_approx accuracy of
# quantile_edges(exact=False).
MAX_DISTINCT = 100_000
PRE_BINS = 10_000
APPROX_ACCURACY = 10_000


def _clean(df: DataFrame, col: str) -> Column:
    """Treat float NaN as NULL so aggregations skip it like pandas does."""
    c = F.col(col).cast("double")
    return F.when(F.isnan(c), F.lit(None)).otherwise(c)


def class_counts() -> list[Column]:
    """Per-group (count y=0, count y=1) over the 0/1 label ``__y``.
    NULL labels count in neither, so a group whose labels are all NULL
    gets (0, 0), as its NULL rows would in a mixed group."""
    return [
        F.coalesce(F.sum(F.lit(1.0) - F.col("__y")), F.lit(0.0)).alias("c0"),
        F.coalesce(F.sum("__y"), F.lit(0.0)).alias("c1"),
    ]


def collect_capped(agg_df: DataFrame, cap: int | None = None) -> list | None:
    """The capped fit pull: collect() through ``limit(cap + 1)`` so the
    driver never materializes more than the cap; None when the cap is
    exceeded (the caller falls back to ``micro_bin_rows`` or
    ``top_k_rows``). The limit also lets Spark stop the final stage
    early, so a small vocabulary costs exactly its one aggregation.
    ``cap`` defaults to ``MAX_DISTINCT``, read at call time; bpe passes
    its own word cap. (Multi-million-row pulls use
    ``functions.utils.bounded_pull``'s count gate instead; at this cap
    a count would run the groupBy twice.)"""
    cap = MAX_DISTINCT if cap is None else cap
    if cap <= 0:
        raise ValueError(f"driver cap must be positive, got {cap}")
    rows = agg_df.limit(cap + 1).collect()
    return None if len(rows) > cap else rows


def melted_class_counts(
    df: DataFrame, features: Sequence[str], target: str, values
) -> dict[str, list] | None:
    """The single-pass melted fit behind ``metrics.iv_all`` and
    ``woe.WOETransformer.fit``: every row explodes into one struct per
    feature (``__f`` plus ``values(f)``, a name -> Column dict with the
    same names for every feature), and ONE groupBy over ONE source scan
    aggregates their ``class_counts`` (the map-side combine bounds the
    shuffle at partitions x Σ distinct). Returns the grouped rows per
    feature through ``collect_capped``, or None above the cap (the
    caller falls back to one fit per feature)."""
    names: list[str] = []
    structs = []
    for f_ in features:
        cols = values(f_)
        names = list(cols)
        structs.append(
            F.struct(F.lit(f_).alias("__f"), *(c.alias(n) for n, c in cols.items()))
        )
    agg = (
        df.select(
            F.explode(F.array(*structs)).alias("__p"),
            F.col(target).cast("double").alias("__y"),
        )
        .groupBy(*(F.col(f"__p.{n}").alias(n) for n in ["__f", *names]))
        .agg(*class_counts())
    )
    rows = collect_capped(agg)
    if rows is None:
        return None
    by_feat: dict[str, list] = {f_: [] for f_ in features}
    for r in rows:
        by_feat[r["__f"]].append(r)
    return by_feat


def micro_bin_expr(df: DataFrame, xc: Column) -> Column:
    """Percentile micro-bin id of ``xc`` over ``PRE_BINS`` bins: one
    percentile_approx aggregation (accuracy scaled to the bin count so
    adjacent micro-bins are actually distinguishable), then the shared
    right-closed bin expression."""
    qs = [i / PRE_BINS for i in range(1, PRE_BINS)]
    ps = df.select(
        F.percentile_approx(xc, qs, max(10_000, PRE_BINS * 10)).alias("p")
    ).first()["p"]
    edges: list[float] = []
    for p in ps or []:
        if p is not None and (not edges or float(p) > edges[-1]):
            edges.append(float(p))
    return bin_expr(xc, [-math.inf, *edges, math.inf])


def micro_bin_rows(base: DataFrame, x: str, *aggs: Column) -> list:
    """Over-cap fallback of a continuous fit: the rows of ``base`` with
    a non-null ``x``, grouped by micro-bin of ``x``; each bin carries
    its max ``x`` as representative (thresholds fitted between
    representatives separate the same rows as thresholds between
    micro-bins) and ``aggs``."""
    nn = base.where(F.col(x).isNotNull())
    return (
        nn.select(micro_bin_expr(nn, F.col(x)).alias("__b"), *nn.columns)
        .groupBy("__b")
        .agg(F.max(x).alias(x), *aggs)
        .collect()
    )


def top_k_rows(grouped: DataFrame, k: int, weight: Column, tie: Column) -> list:
    """Over-cap fallback of a categorical fit: the ``k`` grouped rows of
    largest ``weight``, ties broken on ``tie`` ascending (TakeOrdered —
    scale-safe). The caller drops its NULL group first if it has one."""
    return grouped.orderBy(weight.desc(), tie.asc()).limit(k).collect()


def _value_class_counts(
    df: DataFrame, col: str, target: str
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """groupBy(x) -> (distinct values, count(y=0), count(y=1)); the one
    distributed pass behind every supervised fit, micro-binned above the
    driver cap."""
    base = (
        df.select(_clean(df, col).alias("__x"), F.col(target).cast("double").alias("__y"))
        .where(F.col("__x").isNotNull())
    )
    rows = collect_capped(base.groupBy("__x").agg(*class_counts()))
    if rows is None:
        rows = micro_bin_rows(base, "__x", *class_counts())
    rows.sort(key=lambda r: r["__x"])
    v = np.array([r["__x"] for r in rows], dtype=float)
    c0 = np.array([r["c0"] for r in rows], dtype=float)
    c1 = np.array([r["c1"] for r in rows], dtype=float)
    return v, c0, c1


def step_edges(
    df: DataFrame, col: str, n_bins: int = DEFAULT_BINS, remove_empty_bins: bool = True
) -> list[float]:
    """Equal-width edges, pd.cut-compatible (linspace over [min, max]),
    with the reference's empty-bin merge (cut.py:45-54): interior edge i
    is kept iff bin i is non-empty. Outer edges are ±inf."""
    mn, mx = df.select(
        F.min(_clean(df, col)), F.max(_clean(df, col))
    ).first()
    if mn is None:
        return [-math.inf, math.inf]
    edges = np.linspace(float(mn), float(mx), n_bins + 1)
    interior = [float(e) for e in edges[1:-1]]
    full = [-math.inf, *interior, math.inf]
    if not remove_empty_bins:
        return full
    counts = (
        df.select(bin_expr(_clean(df, col), full).alias("__b"))
        .where(F.col("__b") >= 0)
        .groupBy("__b")
        .count()
        .collect()
    )
    present = {r["__b"] for r in counts}
    kept = [interior[i - 1] for i in range(1, n_bins) if i in present]
    return [-math.inf, *kept, math.inf]


def quantile_edges(
    df: DataFrame, col: str, n_bins: int = DEFAULT_BINS, exact: bool = True
) -> list[float]:
    """Equal-frequency edges, pd.qcut-compatible (linear interpolation,
    duplicate edges dropped, cut.py:94-95), outer edges ±inf.

    exact=True aggregates ``groupBy(value).count()`` and interpolates on
    the driver with the SAME float arithmetic as numpy percentile —
    Spark's exact `percentile` differs from numpy by sub-ulp rounding at
    run boundaries, which flips pd.qcut's duplicate-drop. exact=False
    uses percentile_approx for columns whose distinct count is too large
    to collect (documented tolerance at cluster scale)."""
    if not exact:
        qs = [i / n_bins for i in range(n_bins + 1)]
        arr = ", ".join(str(q) for q in qs)
        row = (
            df.select(_clean(df, col).alias("__xq"))
            .select(
                F.expr(
                    f"percentile_approx(__xq, array({arr}), {APPROX_ACCURACY})"
                ).alias("p")
            )
            .first()
        )
        ps = row["p"]
        if ps is None or ps[0] is None:
            return [-math.inf, math.inf]
        uniq: list[float] = []
        for p in ps:
            if not uniq or float(p) > uniq[-1]:
                uniq.append(float(p))
        return [-math.inf, *uniq[1:-1], math.inf]

    base = (
        df.select(_clean(df, col).alias("__xq"))
        .where(F.col("__xq").isNotNull())
    )
    rows = collect_capped(base.groupBy("__xq").count())
    if rows is None:
        # weighted interpolation over the micro-bin representatives
        rows = micro_bin_rows(base, "__xq", F.count(F.lit(1)).alias("count"))
    if not rows:
        return [-math.inf, math.inf]
    rows.sort(key=lambda r: r["__xq"])
    values = np.array([r["__xq"] for r in rows], dtype=float)
    counts = np.array([r["count"] for r in rows], dtype=float)
    interior = fit_thresholds(values, counts, np.zeros_like(counts), "quantile", n_bins)
    return [-math.inf, *interior, math.inf]


def _supervised_edges(
    df: DataFrame, col: str, target: str, method: str, n_bins: int, **kw
) -> list[float]:
    v, c0, c1 = _value_class_counts(df, col, target)
    if len(v) == 0:
        return [-math.inf, math.inf]
    return [-math.inf, *fit_thresholds(v, c0, c1, method, n_bins, **kw), math.inf]


def dt_edges(
    df: DataFrame, col: str, target: str, n_bins: int = DEFAULT_BINS,
    min_bin: float = 0.01,
) -> list[float]:
    return _supervised_edges(df, col, target, "dt", n_bins, min_bin=min_bin)


def lgb_edges(
    df: DataFrame, col: str, target: str, n_bins: int = DEFAULT_BINS,
    min_bin: float = 0.01,
) -> list[float]:
    # reference computes min_child_samples from len(x) INCLUDING NaN
    # (cut.py:198), then fits on non-null values (cut.py:206)
    return _supervised_edges(
        df, col, target, "lgb", n_bins, n_total=df.count(), min_bin=min_bin
    )


def chi_edges(
    df: DataFrame, col: str, target: str, n_bins: int = DEFAULT_BINS, cf: float = 0.1
) -> list[float]:
    return _supervised_edges(df, col, target, "chi", n_bins, cf=cf)


def fit_thresholds(
    v: np.ndarray, c0: np.ndarray, c1: np.ndarray, method: str, n_bins: int,
    n_total: int | None = None, min_bin: float = 0.01, cf: float = 0.1,
) -> list[float]:
    """Interior cut edges from aggregated (value, class-count) arrays
    sorted by value — the one method -> edges dispatch (cut.py:357-407 on
    driver-side data) and the only caller of the driver_fit cuts.
    ``n_total`` is the null-INCLUSIVE row count: the reference's lgb_cut
    derives min_child_samples from len(x) including NaN (cut.py:198)
    while dt_cut uses the non-null count (cut.py:146-147); it defaults
    to the non-null count. ``min_bin`` (dt, lgb) and ``cf`` (chi) are
    the fits' own options, passed through."""
    n = int((c0 + c1).sum())
    if method == "dt":
        msl = max(1, math.ceil(min_bin * n))
        return cart_thresholds(v, c0, c1, max_leaf_nodes=n_bins, min_samples_leaf=msl)
    if method == "lgb":
        mcs = max(1, math.ceil(min_bin * (n_total if n_total is not None else n)))
        return lgb_thresholds(v, c0, c1, num_leaves=n_bins, min_child_samples=mcs)
    if method == "chi":
        return chimerge_edges(v, c0, c1, n_bins=n_bins, cf=cf)[1:-1]
    if method == "step":
        return step_edges_weighted(v, c0 + c1, n_bins)
    if method == "quantile":
        return quantile_edges_weighted(v, c0 + c1, n_bins)
    raise ValueError(f"unsupported method `{method}`")


class Binner:
    """fit/transform discretizer (reference cut.py:357-407 dispatcher).

    >>> b = Binner(method="quantile", n_bins=10).fit(df, "x")
    >>> df2 = b.transform(df, "x", "x_bin")
    """

    def __init__(
        self,
        method: str = "dt",
        n_bins: int = DEFAULT_BINS,
        nan_value: int = -1,
        **kwargs,
    ):
        self.method = method
        self.n_bins = n_bins
        self.nan_value = nan_value
        self.kwargs = kwargs
        self.edges: list[float] | None = None

    def fit(self, df: DataFrame, col: str, target: str | None = None) -> "Binner":
        if self.method == "step":
            self.edges = step_edges(df, col, self.n_bins, **self.kwargs)
        elif self.method == "quantile":
            self.edges = quantile_edges(df, col, self.n_bins, **self.kwargs)
        elif self.method == "dt":
            self.edges = dt_edges(df, col, target, self.n_bins, **self.kwargs)
        elif self.method == "lgb":
            self.edges = lgb_edges(df, col, target, self.n_bins, **self.kwargs)
        elif self.method == "chi":
            self.edges = chi_edges(df, col, target, self.n_bins, **self.kwargs)
        else:
            raise ValueError(f"unsupported method `{self.method}`")
        return self

    def expr(self, col: str | Column) -> Column:
        assert self.edges is not None, "fit first"
        return bin_expr(
            _clean_col(col), self.edges, nan_value=self.nan_value, right=True
        )

    def transform(self, df: DataFrame, col: str, out_col: str | None = None) -> DataFrame:
        return df.withColumn(out_col or f"{col}_bin", self.expr(col))


def _clean_col(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    c = c.cast("double")
    return F.when(F.isnan(c), F.lit(None)).otherwise(c)


def cut_with_edges(
    df: DataFrame, col: str, edges: Sequence[float], out_col: str | None = None,
    nan_value: int = -1, right: bool = True,
) -> DataFrame:
    """Transform-only fixed-edge cut (reference cut.py:410-433)."""
    return df.withColumn(
        out_col or f"{col}_bin",
        bin_expr(_clean_col(col), list(edges), nan_value=nan_value, right=right),
    )


# ------------------------------------------------------------------
# reference-named convenience wrappers (didtool/cut.py:15-433): the
# pandas-series API becomes (df, col) -> DataFrame with `<col>_bin`;
# return_bins keeps the reference's (codes, bins) contract as
# (DataFrame, edges). All fitting/binning is the distributed machinery
# above — these exist so reference call sites port one-to-one.
def step_cut(df: DataFrame, col: str, n_bins: int = DEFAULT_BINS,
             nan: int = -1, return_bins: bool = False,
             out_col: str | None = None, **kwargs):
    """cut.py:15-66 equal-width cut."""
    edges = step_edges(df, col, n_bins, **kwargs)
    out = cut_with_edges(df, col, edges, out_col=out_col, nan_value=nan)
    return (out, edges) if return_bins else out


def quantile_cut(df: DataFrame, col: str, n_bins: int = DEFAULT_BINS,
                 nan: int = -1, return_bins: bool = False,
                 out_col: str | None = None, **kwargs):
    """cut.py:69-104 equal-frequency cut."""
    edges = quantile_edges(df, col, n_bins, **kwargs)
    out = cut_with_edges(df, col, edges, out_col=out_col, nan_value=nan)
    return (out, edges) if return_bins else out


def dt_cut(df: DataFrame, col: str, target: str,
           n_bins: int = DEFAULT_BINS, nan: int = -1,
           return_bins: bool = False, out_col: str | None = None, **kwargs):
    """cut.py:107-161 CART-boundary cut."""
    edges = dt_edges(df, col, target, n_bins, **kwargs)
    out = cut_with_edges(df, col, edges, out_col=out_col, nan_value=nan)
    return (out, edges) if return_bins else out


def lgb_cut(df: DataFrame, col: str, target: str,
            n_bins: int = DEFAULT_BINS, nan: int = -1,
            return_bins: bool = False, out_col: str | None = None, **kwargs):
    """cut.py:164-231 LightGBM-histogram cut."""
    edges = lgb_edges(df, col, target, n_bins, **kwargs)
    out = cut_with_edges(df, col, edges, out_col=out_col, nan_value=nan)
    return (out, edges) if return_bins else out


def chi_square_cut(df: DataFrame, col: str, target: str,
                   n_bins: int = DEFAULT_BINS, cf: float = 0.1,
                   nan: int = -1, return_bins: bool = False,
                   out_col: str | None = None, **kwargs):
    """cut.py:253-354 ChiMerge cut."""
    edges = chi_edges(df, col, target, n_bins, cf=cf, **kwargs)
    out = cut_with_edges(df, col, edges, out_col=out_col, nan_value=nan)
    return (out, edges) if return_bins else out


def cut(df: DataFrame, col: str, target: str | None = None,
        method: str = "dt", n_bins: int = DEFAULT_BINS, nan: int = -1,
        return_bins: bool = False, out_col: str | None = None, **kwargs):
    """cut.py:357-407 dispatcher (step/quantile need no target)."""
    b = Binner(method=method, n_bins=n_bins, nan_value=nan, **kwargs)
    b.fit(df, col, target)
    out = b.transform(df, col, out_col)
    return (out, b.edges) if return_bins else out


def cut_with_bins(df: DataFrame, col: str, bins: Sequence[float],
                  nan: int = -1, right: bool = True,
                  out_col: str | None = None) -> DataFrame:
    """cut.py:410-433: transform with precomputed bins."""
    return cut_with_edges(
        df, col, bins, out_col=out_col, nan_value=nan, right=right
    )
