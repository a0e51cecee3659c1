"""Categorical encoders (reference didtool/transformer.py:316-643).

- CategoryTransformer: frequency-rank ordinal codes (top-k / coverage
  prefix), 'others' shares the last kept code, NaN -> 0 iff seen at fit.
- OneHotTransformer: static pivot to flat named int columns from the
  fitted vocabulary (NOT MLlib OneHotEncoder vectors — parity needs
  flat columns).
- ListTransformer: "1,2,5" / "a:0.9,b:0.1" list-string expansion via
  split()/str_to_map() column expressions — the reference's only
  O(rows) Python loop (transformer.py:617-638) becomes pure JVM.

fit = one groupBy(value).count() per column; transform = literal
expressions. Tie-break on equal counts: count desc then value asc
(deterministic; pandas value_counts ties are insertion-ordered —
documented divergence, reference tests avoid ties).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.exprs import MAP_EXPR_MAX, is_missing as _is_missing, map_expr, with_lookup
from . import binning
from .binning import collect_capped, top_k_rows

NAN_KEY = "nan"


def _fit_value_counts(
    df: DataFrame, col: str, top_k: int | None = None
) -> tuple[list, int, bool, bool]:
    """-> (values desc by count, total rows, has_nan, capped), through
    the capped fit pull. Above the driver cap (binning.MAX_DISTINCT)
    only the top ``min(top_k, cap)`` values by frequency are collected
    (``binning.top_k_rows``, ties on the value as a string) plus one
    tiny exact aggregation for total/has_nan. Callers that keep every
    value (``top_k`` None) get a clear error instead of a silent
    truncation."""
    c = F.col(col)
    key = F.when(_is_missing(c), F.lit(None)).otherwise(c).alias("__v")
    grouped = df.groupBy(key).count()
    rows = collect_capped(grouped)
    if rows is None:
        if not top_k:
            raise ValueError(
                f"fit on `{col}`: more than binning.MAX_DISTINCT "
                f"({binning.MAX_DISTINCT}) distinct values and no "
                "max_bins/min_coverage bound — set max_bins to make the encoder "
                "state driver-sized"
            )
        tot = df.select(
            F.count(F.lit(1)).alias("n"),
            F.max(_is_missing(c).cast("int")).alias("has_nan"),
        ).first()
        rows = top_k_rows(
            grouped.where(F.col("__v").isNotNull()),
            min(top_k, binning.MAX_DISTINCT),
            F.col("count"),
            F.col("__v").cast("string"),
        )
        return (
            [(r["__v"], r["count"]) for r in rows],
            int(tot["n"]),
            bool(tot["has_nan"]),
            True,
        )
    has_nan = any(r["__v"] is None for r in rows)
    total = sum(r["count"] for r in rows)
    vals = [(r["__v"], r["count"]) for r in rows if r["__v"] is not None]
    vals.sort(key=lambda t: (-t[1], str(t[0])))
    return vals, total, has_nan, False


def _select_n_bins(vals, total, max_bins, min_coverage, capped=False) -> int:
    """top-k / coverage-prefix rule (transformer.py:366-375). max_bins
    DOMINATES when both bounds are set (if/elif, same as the reference),
    so the capped-collect raise below is only reachable when
    min_coverage is the sole bound — its "set max_bins" advice is then
    accurate."""
    n_bins = len(vals)
    if max_bins:
        n_bins = min(n_bins, max_bins)
    elif min_coverage:
        cnt = 0
        for i, (_, c) in enumerate(vals):
            cnt += c
            if cnt >= total * min_coverage:
                return i + 1
        if capped:
            raise ValueError(
                "min_coverage prefix exceeds the driver distinct-value cap — "
                "set max_bins or lower min_coverage"
            )
    return n_bins


def _fit_top_k(max_bins, min_coverage) -> int | None:
    """top_k bound passed into _fit_value_counts: max_bins when given,
    else the driver cap itself for a coverage prefix (whose overflow
    _select_n_bins reports), else None — keep every value."""
    return max_bins or (binning.MAX_DISTINCT if min_coverage else None)


class CategoryTransformer:
    """transformer.py:316-421. map_encoder: {col: {value: code}};
    code = frequency rank + 1, 'others' -> n_bins, NaN -> 0 iff seen."""

    def __init__(self):
        self.map_encoder: dict[str, dict] = {}

    def fit(self, df: DataFrame, cols: list[str], max_bins: int | None = None,
            min_coverage: float | None = None):
        for col in cols:
            vals, total, has_nan, capped = _fit_value_counts(
                df, col, top_k=_fit_top_k(max_bins, min_coverage)
            )
            n_bins = _select_n_bins(vals, total, max_bins, min_coverage, capped)
            enc = {v: i + 1 for i, (v, _) in enumerate(vals[:n_bins])}
            enc["others"] = n_bins
            if has_nan:
                enc[NAN_KEY] = 0
            self.map_encoder[col] = enc
        return self

    def expr(self, col: str) -> Column:
        enc = dict(self.map_encoder[col])
        others = enc.pop("others")
        nan_code = enc.pop(NAN_KEY, others)
        c = F.col(col)
        return (
            F.when(_is_missing(c), F.lit(nan_code))
            .otherwise(map_expr(c, enc, default=others))
            .cast("int")
        )

    def transform(self, df: DataFrame) -> DataFrame:
        for col in self.map_encoder:
            if col not in df.columns:
                raise ValueError(f"{col} not in df")
        big = {
            c for c, enc in self.map_encoder.items() if len(enc) > MAP_EXPR_MAX + 2
        }
        out = df.select(
            *[
                self.expr(c).alias(c)
                if c in self.map_encoder and c not in big
                else F.col(c)
                for c in df.columns
            ]
        )
        # large vocabularies: broadcast-join lookup instead of a literal
        # map (withColumn replaces in place, preserving column order)
        for col in big:
            enc = dict(self.map_encoder[col])
            others = enc.pop("others")
            nan_code = enc.pop(NAN_KEY, others)
            key = F.when(_is_missing(F.col(col)), F.lit(None)).otherwise(F.col(col))
            out = with_lookup(
                out, key, {**enc, None: nan_code}, "__cat_code", default=others
            )
            out = out.withColumn(col, F.col("__cat_code").cast("int")).drop("__cat_code")
        return out

    def encoder_table(self):
        """Tidy long-format encoding table (persistable); replaces the
        reference's padded wide df_encoder (transformer.py:387-391)."""
        import pandas as pd

        rows = [
            {"column": col, "value": v, "code": code}
            for col, enc in self.map_encoder.items()
            for v, code in enc.items()
        ]
        return pd.DataFrame(rows)


class OneHotTransformer:
    """transformer.py:424-529. Flat int columns named ``{col}_{value}``
    (+ ``{col}_others``, ``{col}_nan`` iff NaN seen at fit)."""

    def __init__(self):
        self.map_encoder: dict[str, list] = {}

    def fit(self, df: DataFrame, cols: list[str], max_bins: int | None = None,
            min_coverage: float | None = None):
        for col in cols:
            vals, total, has_nan, capped = _fit_value_counts(
                df, col, top_k=_fit_top_k(max_bins, min_coverage)
            )
            n_bins = _select_n_bins(vals, total, max_bins, min_coverage, capped)
            col_vals = [v for v, _ in vals[:n_bins]] + ["others"]
            if has_nan:
                col_vals.append(NAN_KEY)
            self.map_encoder[col] = col_vals
        return self

    def exprs(self, col: str) -> list[Column]:
        col_vals = self.map_encoder[col]
        kept = [v for v in col_vals if v not in ("others", NAN_KEY)]
        has_nan = NAN_KEY in col_vals
        c = F.col(col)
        missing = _is_missing(c)
        out = []
        for v in col_vals:
            if v == NAN_KEY:
                e = missing
            elif v == "others":
                e = ~missing & ~c.isin(kept) if kept else ~missing
                if not has_nan:
                    # NaN at transform with no nan column -> 'others'
                    e = e | missing
            else:
                e = ~missing & (c == F.lit(v))
            out.append(e.cast("int").alias(f"{col}_{_valname(v)}"))
        return out

    def transform(self, df: DataFrame) -> DataFrame:
        for col in self.map_encoder:
            if col not in df.columns:
                raise ValueError(f"{col} not in df")
        cols = []
        for col in self.map_encoder:
            cols.extend(self.exprs(col))
        return df.select(*cols)


def _valname(v) -> str:
    # python str() of the fitted value, matching reference column names
    # ('x1_1.0' for float 1.0)
    return str(v)


class ListTransformer:
    """transformer.py:532-643. '1,2,5' membership ints or 'a:0.9,b:0.1'
    keyed floats; row-level NaN input -> all-NULL outputs for that
    column; output columns sorted by name."""

    def __init__(self, sep: str = ",", sub_sep: str | None = None):
        self.sep = sep
        self.sub_sep = sub_sep
        self.map_encoder: dict[str, list[str]] = {}

    def fit(self, df: DataFrame, cols: list[str], max_bins: int | None = None):
        for col in cols:
            c = F.col(col)
            tokens = F.split(c, self.sep)
            if self.sub_sep:
                tokens = F.transform(
                    tokens, lambda t: F.split(t, self.sub_sep).getItem(0)
                )
            grouped = (
                df.where(c.isNotNull())
                .select(F.explode(tokens).alias("__t"))
                .groupBy("__t")
                .count()
            )
            counts = collect_capped(grouped)
            if counts is None:
                if not max_bins:
                    raise ValueError(
                        f"ListTransformer.fit on `{col}`: token vocabulary exceeds "
                        f"binning.MAX_DISTINCT ({binning.MAX_DISTINCT}) — set "
                        "max_bins to bound the fit state"
                    )
                counts = top_k_rows(grouped, max_bins, F.col("count"), F.col("__t"))
            pairs = sorted(counts, key=lambda r: (-r["count"], r["__t"]))
            if max_bins:
                pairs = pairs[:max_bins]
            self.map_encoder[col] = sorted(r["__t"] for r in pairs)
        return self

    def exprs(self, col: str) -> list[Column]:
        feats = self.map_encoder[col]
        c = F.col(col)
        out = []
        if self.sub_sep:
            m = F.str_to_map(c, F.lit(self.sep), F.lit(self.sub_sep))
            for feat in feats:
                e = F.when(
                    c.isNotNull(),
                    F.coalesce(
                        F.try_element_at(m, F.lit(feat)).cast("double"), F.lit(0.0)
                    ),
                )
                out.append(e.alias(f"{col}_{feat}"))
        else:
            arr = F.split(c, self.sep)
            for feat in feats:
                e = F.when(
                    c.isNotNull(), F.array_contains(arr, feat).cast("int")
                )
                out.append(e.alias(f"{col}_{feat}"))
        return out

    def transform(self, df: DataFrame) -> DataFrame:
        for col in self.map_encoder:
            if col not in df.columns:
                raise ValueError(f"{col} not in df")
        mapping = {
            f"{col}_{feat}": e
            for col, feats in self.map_encoder.items()
            for feat, e in zip(feats, self.exprs(col))
        }
        # output columns sorted by name (transformer.py:640-642)
        return df.select(*[mapping[n].alias(n) for n in sorted(mapping)])
