"""WOE transformers and encoders (reference didtool/transformer.py:15-313,
didtool/encoder.py:11-96, woe math from didtool/metric.py:17-63).

Design: fit is ONE distributed aggregation per feature —
``groupBy(value).agg(count0, count1)`` — followed by driver math over
distinct values (ordering, code assignment, supervised binning via
functions.driver_fit, 0.5-floor WOE). transform is a generated literal
map/CASE expression (JVM-side, broadcastable). The reference's
multiprocessing.Pool-per-feature (transformer.py:268) becomes cluster
parallelism: each feature's agg is its own Spark job.

Exact semantics preserved:
- probability 0.5 floors (metric.py:39-44) in every woe/iv;
- categorical path: values stringified, '' and 'nan' -> missing
  (transformer.py:80), category order by mean(label) asc then value asc
  (transformer.py:82-83), codes binned with cut(method) and bins
  clamped to [-99, max_code] (transformer.py:101-102);
- unknown value -> null code -> bin -1 -> NA woe if NaN was seen at fit
  else ``default`` (transformer.py:167-173);
- WOETransformer fits every feature with is_continuous=False
  (transformer.py:273).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from ..functions.binexpr import bin_expr
from ..functions.exprs import MAP_EXPR_MAX, map_expr, with_lookup
from . import binning
from .binning import (
    class_counts,
    collect_capped,
    fit_thresholds,
    melted_class_counts,
    micro_bin_rows,
    top_k_rows,
)

DEFAULT_BINS = 10


def woe_value(prob1: float, prob0: float) -> float:
    """metric.py:52-63."""
    return math.log(prob1 / prob0)


def _floors(g1: float, g0: float, total1: float, total0: float) -> tuple[float, float]:
    """probability() 0.5 floors (metric.py:39-48)."""
    prob1 = max(g1, 0.5) / max(total1, 0.5)
    prob0 = max(g0, 0.5) / max(total0, 0.5)
    return prob1, prob0


def _normalize_str(c: Column) -> Column:
    """pandas astype(str).replace(['nan',''], nan) equivalent."""
    s = c.cast("string")
    return F.when(s.isin("nan", "NaN", "") | s.isNull(), F.lit(None)).otherwise(s)


def _over_cap_totals(base: DataFrame) -> tuple[float, float, float, float]:
    """Exact (total0, total1, null0, null1) class counts of ``base``
    (``__x``, ``__y``) in one tiny aggregation — what an over-cap fit
    keeps exact while its per-value table is cut to the top k."""
    is_null = F.col("__x").isNull()
    tot = base.agg(
        F.sum(F.lit(1.0) - F.col("__y")).alias("t0"),
        F.sum("__y").alias("t1"),
        F.sum(F.when(is_null, F.lit(1.0) - F.col("__y")).otherwise(F.lit(0.0))).alias("n0"),
        F.sum(F.when(is_null, F.col("__y")).otherwise(F.lit(0.0))).alias("n1"),
    ).first()
    return tuple(float(tot[k] or 0) for k in ("t0", "t1", "n0", "n1"))


def _top_k_values(base: DataFrame) -> list:
    """Over-cap categorical WOE state: the ``binning.MAX_DISTINCT``
    most frequent non-null values of ``__x`` with their class counts."""
    grouped = base.where(F.col("__x").isNotNull()).groupBy("__x").agg(*class_counts())
    return top_k_rows(
        grouped, binning.MAX_DISTINCT, F.col("c0") + F.col("c1"), F.col("__x")
    )


def _row_stats(rows: list) -> tuple[list, float, float, float, float]:
    """Arguments of ``SingleWOETransformer._fit_from_stats`` from grouped
    (__x, c0, c1) rows that hold every value, NULL included: the
    non-null rows sorted by __x, the NULL group's (c0, c1) and the
    class totals."""
    vals = sorted([r for r in rows if r["__x"] is not None], key=lambda r: r["__x"])
    null_c0 = sum(r["c0"] for r in rows if r["__x"] is None)
    null_c1 = sum(r["c1"] for r in rows if r["__x"] is None)
    total0 = sum(r["c0"] for r in rows)
    total1 = sum(r["c1"] for r in rows)
    return vals, null_c0, null_c1, total0, total1


@dataclass
class SingleWOETransformer:
    """transformer.py:15-208. fit state: bins, woe_map, value2code.
    Above the driver cap (binning.MAX_DISTINCT) a continuous fit bins
    percentile micro-bins and a categorical fit keeps the top-k values
    by frequency (the dropped tail hits the unknown path at transform —
    documented divergence)."""

    cut_method: str = "dt"
    n_bins: int = DEFAULT_BINS
    is_continuous: bool = True

    bins: list[float] = field(default_factory=list)
    woe_map: dict = field(default_factory=dict)
    value2code: dict = field(default_factory=dict)
    code2value: dict = field(default_factory=dict)
    value2woe: dict = field(default_factory=dict)
    var_name: str = "x"
    woe_df: pd.DataFrame | None = None

    def fit(self, df: DataFrame, col: str, target: str, var_name: str | None = None):
        self.var_name = var_name or col
        y = F.col(target).cast("double")
        if self.is_continuous:
            xc = F.col(col).cast("double")
            xc = F.when(F.isnan(xc), F.lit(None)).otherwise(xc)
        else:
            xc = _normalize_str(F.col(col))
        base = df.select(xc.alias("__x"), y.alias("__y"))
        rows = collect_capped(base.groupBy("__x").agg(*class_counts()))
        if rows is not None:
            return self._fit_from_stats(*_row_stats(rows))
        total0, total1, null_c0, null_c1 = _over_cap_totals(base)
        if self.is_continuous:
            rows = micro_bin_rows(base, "__x", *class_counts())
        else:
            rows = _top_k_values(base)
        vals = sorted(rows, key=lambda r: r["__x"])
        return self._fit_from_stats(vals, null_c0, null_c1, total0, total1)

    def _fit_from_stats(
        self, vals: list, null_c0: float, null_c1: float,
        total0: float, total1: float,
    ) -> "SingleWOETransformer":
        """Driver math over aggregated (__x, c0, c1) rows (sorted by
        __x, nulls removed): edges from ``binning.fit_thresholds``, then
        per-bin counts, WOE and IV. Shared by the per-feature fit,
        WOETransformer's single-pass melted fit and ``metrics.iv_all``'s
        continuous IV."""
        total = total0 + total1

        if not vals:
            self.bins, self.woe_map = [], {}
            self.woe_df = pd.DataFrame()
            return self

        if self.is_continuous:
            codes = np.array([float(r["__x"]) for r in vals])
            self.value2code, self.code2value = {}, {}
        else:
            # order by mean(label) asc, value asc (stable like pandas)
            means = [
                (r["c1"] / (r["c0"] + r["c1"]), r["__x"], r) for r in vals
            ]
            means.sort(key=lambda t: (t[0], t[1]))
            self.value2code = {t[1]: i for i, t in enumerate(means)}
            self.code2value = {i: t[1] for i, t in enumerate(means)}
            vals = [t[2] for t in means]
            codes = np.arange(len(vals), dtype=float)

        c0 = np.array([float(r["c0"]) for r in vals])
        c1 = np.array([float(r["c1"]) for r in vals])

        thr = fit_thresholds(
            codes, c0, c1, self.cut_method, self.n_bins,
            n_total=int(round(total)),
        )
        if self.is_continuous:
            bins = [-math.inf, *thr, math.inf]
        else:
            bins = [-99.0, *thr, float(max(self.code2value.keys()))]
        self.bins = [float(b) for b in bins]

        # bin id per distinct code: right-closed (bins[i], bins[i+1]] ->
        # bin = count of interior edges strictly below the code
        interior = np.array(self.bins[1:-1], dtype=float)
        if len(interior):
            bin_ids = np.searchsorted(interior, codes, side="left").astype(int)
        else:
            bin_ids = np.zeros(len(codes), dtype=int)

        has_na = (null_c0 + null_c1) > 0
        agg: dict[int, list[float]] = {}
        if has_na:
            agg[-1] = [null_c0, null_c1]
        for b, a0, a1 in zip(bin_ids, c0, c1):
            agg.setdefault(int(b), [0.0, 0.0])
            agg[int(b)][0] += a0
            agg[int(b)][1] += a1

        woe_rows = []
        self.woe_map = {}
        for b in sorted(agg):
            g0, g1 = agg[b]
            prob1, prob0 = _floors(g1, g0, total1, total0)
            w = woe_value(prob1, prob0)
            self.woe_map[b] = w
            n_grp = g0 + g1
            woe_rows.append(
                {
                    "var_name": self.var_name,
                    "bin_value": b,
                    "group_count": int(n_grp),
                    "group_rate": n_grp / total,
                    "positive_count": int(g1),
                    "positive_rate": g1 / n_grp if n_grp else float("nan"),
                    "woe": w,
                    "iv_list": (prob1 - prob0) * w,
                }
            )
        self.woe_df = pd.DataFrame(woe_rows)
        if len(self.woe_df):
            self.woe_df["var_iv"] = self.woe_df["iv_list"].sum()
        if not self.is_continuous:
            # direct value -> woe table for the broadcast-join transform
            # path (large vocabularies must not inline into codegen)
            self.value2woe = {
                self.code2value[int(c)]: self.woe_map[int(b)]
                for c, b in zip(codes, bin_ids)
            }
        return self

    @property
    def var_iv(self) -> float:
        return float(self.woe_df["var_iv"].iloc[0]) if len(self.woe_df) else 0.0

    def expr(self, col: str, default: float = 0.0) -> Column:
        """woe transform as a single column expression
        (transformer.py:151-178)."""
        if self.is_continuous:
            c = F.col(col).cast("double")
            c = F.when(F.isnan(c), F.lit(None)).otherwise(c)
        else:
            c = map_expr(_normalize_str(F.col(col)), self.value2code).cast("double")
        b = bin_expr(c, self.bins, nan_value=-1, right=True)
        return map_expr(b, self.woe_map, default=float(default)).cast("double")

    def transform(
        self, df: DataFrame, col: str, out_col: str | None = None, default: float = 0.0
    ) -> DataFrame:
        out_col = out_col or f"{col}_woe"
        if not self.is_continuous and len(self.value2code) > MAP_EXPR_MAX:
            # large vocabulary: one broadcast-join on the precomputed
            # value -> woe table instead of a megabyte literal map.
            # Unknown value or NULL -> code NULL -> bin -1 semantics.
            unknown = float(self.woe_map.get(-1, default))
            out = with_lookup(
                df, _normalize_str(F.col(col)), self.value2woe, out_col,
                default=unknown,
            )
            return out.withColumn(out_col, F.col(out_col).cast("double"))
        return df.withColumn(out_col, self.expr(col, default))


class WOETransformer:
    """Multi-feature WOE (transformer.py:217-313): every feature fitted
    with is_continuous=False; transform keeps non-listed columns."""

    def __init__(self, cut_method: str = "dt", n_bins: int = DEFAULT_BINS,
                 features: list[str] | None = None):
        self.cut_method = cut_method
        self.n_bins = n_bins
        self.features = features
        self.transformers: dict[str, SingleWOETransformer] = {}
        self.woe_df: pd.DataFrame | None = None

    def fit(self, df: DataFrame, target: str):
        """Single-pass melted fit (``binning.melted_class_counts``): ONE
        groupBy(feature, value) over ONE source scan — at F features on
        100 TB this replaces F full scans (the reference's Pool per
        feature, transformer.py:268; SURVEY §3.1 names this plan).
        Falls back to per-feature fits (concurrent Spark jobs, each
        with its own driver cap) if the combined distinct count exceeds
        the driver cap."""
        feats = self.features or [c for c in df.columns if c != target]
        for f_ in feats:
            if f_ not in df.columns:
                raise ValueError(f"{f_} not in df")
        self.features = feats

        by_feat = melted_class_counts(
            df, feats, target, lambda f_: {"__x": _normalize_str(F.col(f_))}
        )
        if by_feat is None:
            return self._fit_per_feature(df, target, feats)
        for f_ in feats:
            t = SingleWOETransformer(
                self.cut_method, self.n_bins, is_continuous=False, var_name=f_
            )
            self.transformers[f_] = t._fit_from_stats(*_row_stats(by_feat[f_]))
        self.woe_df = pd.concat([self.transformers[f_].woe_df for f_ in feats])
        return self

    def _fit_per_feature(self, df: DataFrame, target: str, feats: list[str]):
        """Fallback above the melt cap: the reference's
        multiprocessing.Pool (transformer.py:268) becomes concurrent
        Spark jobs from driver threads — the cluster is the pool."""
        from concurrent.futures import ThreadPoolExecutor

        def fit_one(f_):
            t = SingleWOETransformer(self.cut_method, self.n_bins, is_continuous=False)
            t.fit(df, f_, target, var_name=f_)
            return f_, t

        with ThreadPoolExecutor(max_workers=min(8, len(feats))) as pool:
            for f_, t in pool.map(fit_one, feats):
                self.transformers[f_] = t
        self.woe_df = pd.concat(
            [self.transformers[f_].woe_df for f_ in feats]
        )
        return self

    def transform(self, df: DataFrame, default: float = 0.0) -> DataFrame:
        big = {
            c for c, t in self.transformers.items()
            if not t.is_continuous and len(t.value2code) > MAP_EXPR_MAX
        }
        cols = []
        for c in df.columns:
            if c in self.transformers and c not in big:
                cols.append(self.transformers[c].expr(c, default).alias(c))
            else:
                cols.append(F.col(c))
        out = df.select(*cols)
        # large-vocabulary features go through the broadcast-join path
        # (withColumn replaces in place, preserving column order)
        for c in big:
            out = (
                self.transformers[c]
                .transform(out, c, out_col="__woe_big", default=default)
                .withColumn(c, F.col("__woe_big"))
                .drop("__woe_big")
            )
        return out


class WOEEncoder:
    """Per-distinct-value WOE (encoder.py:11-81): raw values (no binning),
    NaN keyed as 'NA', unknown -> default."""

    NA = "NA"

    def __init__(self):
        self.woe_map: dict = {}

    def fit(self, df: DataFrame, col: str, target: str):
        y = F.col(target).cast("double")
        xc = F.col(col)
        xc = F.when(F.coalesce(F.isnan(xc.try_cast("double")), F.lit(False)), F.lit(None)).otherwise(xc)
        base = df.select(xc.alias("__x"), y.alias("__y"))
        rows = collect_capped(base.groupBy("__x").agg(*class_counts()))
        if rows is None:
            # dropped tail -> `default` at transform, like any unknown
            total0, total1, null0, null1 = _over_cap_totals(base)
            pairs = [(r["__x"], r["c0"], r["c1"]) for r in _top_k_values(base)]
            if null0 + null1 > 0:
                pairs.append((None, null0, null1))
        else:
            total0 = sum(r["c0"] for r in rows)
            total1 = sum(r["c1"] for r in rows)
            pairs = [(r["__x"], r["c0"], r["c1"]) for r in rows]
        self.woe_map = {}
        for x, g0, g1 in pairs:
            prob1, prob0 = _floors(g1, g0, total1, total0)
            key = self.NA if x is None else x
            self.woe_map[key] = woe_value(prob1, prob0)
        return self

    def expr(self, col: str, default: float = 0.0) -> Column:
        m = {k: v for k, v in self.woe_map.items() if k != self.NA}
        out = map_expr(F.col(col), m, default=float(default))
        if self.NA in self.woe_map:
            na = F.lit(self.woe_map[self.NA])
            c = F.col(col)
            out = F.when(
                c.isNull() | F.coalesce(F.isnan(c.try_cast("double")), F.lit(False)), na
            ).otherwise(out)
        return out.cast("double")

    def transform(self, df: DataFrame, col: str, out_col: str | None = None,
                  default: float = 0.0) -> DataFrame:
        out_col = out_col or f"{col}_woe"
        m = {k: v for k, v in self.woe_map.items() if k != self.NA}
        if len(m) > MAP_EXPR_MAX:
            out = with_lookup(df, F.col(col), m, out_col, default=float(default))
            if self.NA in self.woe_map:
                c = F.col(col)
                out = out.withColumn(
                    out_col,
                    F.when(
                        c.isNull()
                        | F.coalesce(F.isnan(c.try_cast("double")), F.lit(False)),
                        F.lit(self.woe_map[self.NA]),
                    ).otherwise(F.col(out_col)),
                )
            return out.withColumn(out_col, F.col(out_col).cast("double"))
        return df.withColumn(out_col, self.expr(col, default))


class LabelEncoder:
    """WrappedLabelEncoder (encoder.py:84-96): sorted distinct non-null
    values -> 0..n-1; unknown/null -> missing_value."""

    def __init__(self, missing_value: int = -1):
        self.missing_value = missing_value
        self.classes_: list = []

    def fit(self, df: DataFrame, col: str):
        rows = collect_capped(df.select(col).where(F.col(col).isNotNull()).distinct())
        if rows is None:
            raise ValueError(
                f"LabelEncoder.fit: `{col}` exceeds binning.MAX_DISTINCT "
                f"({binning.MAX_DISTINCT}) distinct values; label codes are "
                "driver-side fit state — hash the column into buckets "
                "(feature_hash.hashed_cross(df, [col], n_buckets)) instead"
            )
        self.classes_ = sorted(r[0] for r in rows)
        return self

    def expr(self, col: str) -> Column:
        m = {v: i for i, v in enumerate(self.classes_)}
        return map_expr(F.col(col), m, default=self.missing_value).cast("int")

    def transform(self, df: DataFrame, col: str, out_col: str | None = None) -> DataFrame:
        out_col = out_col or f"{col}_code"
        if len(self.classes_) > MAP_EXPR_MAX:
            m = {v: i for i, v in enumerate(self.classes_)}
            out = with_lookup(df, F.col(col), m, out_col, default=self.missing_value)
            return out.withColumn(out_col, F.col(out_col).cast("int"))
        return df.withColumn(out_col, self.expr(col))
