"""Feature selection (reference didtool/selector.py).

Each stage is one Spark job producing a small stats table; the
DataFrame itself is never materialized between stages — dropping a
column is a driver-side decision and Catalyst prunes the final scan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions.utils import persisted
from .metrics import iv_all


class Selector:
    """Chainable: Selector(df, 'target').drop_missing().drop_low_iv()
    .drop_correlated() — selector.py:60-192.

    Used as a context manager (``with Selector(df, 'y') as sel:``) it
    persists the input frame on entry, so the chain's stages — missing
    scan, melted IV aggregation, correlation pass — read the columnar
    cache instead of re-scanning the source N times, and releases it on
    exit.  At 100 TB the cached frame is the NARROW feature projection
    (select your feature columns before constructing the Selector),
    stored MEMORY_AND_DISK so it spills rather than evicts.  Used
    without ``with`` it caches nothing."""

    def __init__(self, df: DataFrame, label: str | None = None,
                 categorical_cols: list[str] | None = None):
        self.df = df
        self.label = label
        self.categorical_cols = categorical_cols or []
        self.drop_cols: list[str] = []
        self.missing_stats: pd.DataFrame | None = None
        self.iv_stats: pd.DataFrame | None = None
        self.corr_matrix: pd.DataFrame | None = None
        self.record_correlated: pd.DataFrame | None = None
        self.importance_stats: pd.DataFrame | None = None

    @property
    def features(self) -> list[str]:
        return [c for c in self.df.columns if c != self.label]

    # ------------------------------------------------------- missing
    def drop_missing(self, missing_threshold: float = 0.9,
                     missing_value=None) -> "Selector":
        """selector.py:78-109: one pass over all columns; an optional
        sentinel value counts as missing."""
        feats = self.features
        exprs = []
        for c in feats:
            cond = F.col(c).isNull() | F.coalesce(
                F.isnan(F.col(c).try_cast("double")), F.lit(False)
            )
            if missing_value is not None:
                cond = cond | (F.col(c) == F.lit(missing_value))
            exprs.append(F.avg(cond.cast("double")).alias(c))
        row = self.df.select(*exprs).first()
        self.missing_stats = pd.DataFrame(
            {"feature": feats, "missing_rate": [row[c] for c in feats]}
        ).set_index("feature")
        to_drop = [
            c for c in feats if row[c] is not None and row[c] > missing_threshold
        ]
        self._drop(to_drop)
        return self

    # ------------------------------------------------------------ iv
    def drop_low_iv(self, iv_threshold: float = 0.02, **kwargs) -> "Selector":
        """selector.py:111-126."""
        self.iv_stats = iv_all(
            self.df, self.features, self.label,
            categorical_cols=self.categorical_cols, **kwargs,
        )
        to_drop = [
            f_ for f_ in self.features if self.iv_stats.loc[f_, "iv"] < iv_threshold
        ]
        self._drop(to_drop)
        return self

    # ---------------------------------------------------- correlated
    def drop_correlated(self, corr_threshold: float = 0.9) -> "Selector":
        """selector.py:128-192: pairwise Pearson correlations in ONE
        aggregation pass (F.corr is pairwise-complete like pandas
        .corr()); among |r| > threshold pairs keep the higher-IV member
        via the reference's exact iteration order."""
        if self.iv_stats is None:
            self.drop_low_iv(0)
        feats = [f_ for f_ in self.features if f_ not in self.categorical_cols]
        exprs = [
            F.corr(F.col(a).cast("double"), F.col(b).cast("double")).alias(f"{i}_{j}")
            for i, a in enumerate(feats)
            for j, b in enumerate(feats)
            if i < j
        ]
        row = self.df.select(*exprs).first() if exprs else {}
        m = np.eye(len(feats))
        for i in range(len(feats)):
            for j in range(i + 1, len(feats)):
                v = row[f"{i}_{j}"]
                m[i, j] = m[j, i] = np.nan if v is None else v
        corr = pd.DataFrame(m, index=feats, columns=feats)
        self.corr_matrix = corr

        masked = corr.where(~np.eye(len(feats), dtype=bool))
        corr_cols = [c for c in masked.columns if (masked[c].abs() > corr_threshold).any()]
        corr_cols = sorted(
            corr_cols, key=lambda x: self.iv_stats["iv"][x], reverse=True
        )
        rows: list[list] = []
        dropped: set[str] = set()
        for col in corr_cols:
            if col in dropped:
                continue
            corr_features = list(masked.index[masked[col].abs() > corr_threshold])
            for feature in corr_features:
                if feature in dropped:
                    continue
                rows.append([feature, col, corr.loc[col, feature]])
                dropped.add(feature)
        record = pd.DataFrame(
            rows, columns=["drop_feature", "corr_feature", "corr_value"]
        )
        self.record_correlated = record
        self._drop(list(record["drop_feature"].values))
        return self

    # ---------------------------------------------------- importance
    def drop_low_importance(self, cumulative_importance: float = 0.95,
                            run_times: int = 10, sample_limit: int = 200_000,
                            n_trees: int = 40) -> "Selector":
        """selector.py:194-283: average split-count feature importance
        over ``run_times`` seeded GBM fits; keep the top features whose
        normalized importance reaches ``cumulative_importance``, drop
        the rest (cumulative > threshold after the sort, exactly the
        reference's cut).

        Fit is driver-side over a bounded sample (``sample_limit`` rows
        — model training state is inherently driver-sized; the
        distributed passes stay in the other stages). Uses LightGBM
        when importable, matching the reference's LGBMClassifier
        (n_estimators=1000, lr=0.05, seed=i, 80/20 stratified split,
        logloss early stopping 20); otherwise a from-scratch numpy
        histogram GBM (driver_fit.gbm_split_importance) — same
        split-count importance contract, documented divergence in the
        exact counts."""
        if self.label is None:
            raise ValueError("No training labels provided.")
        feats = [
            f_ for f_ in self.features if f_ not in self.categorical_cols
        ]
        pdf = self._sample_pandas(feats, sample_limit)
        X = pdf[feats].to_numpy(dtype=float)
        y = pdf[self.label].to_numpy(dtype=float)

        try:
            import lightgbm as lgb

            have_lgb = True
        except ImportError:
            have_lgb = False

        importance = np.zeros(len(feats))
        for i in range(run_times):
            if have_lgb:
                from sklearn.model_selection import train_test_split

                model = lgb.LGBMClassifier(
                    n_estimators=1000, learning_rate=0.05, verbose=-1,
                    random_state=i,
                )
                xt, xv, yt, yv = train_test_split(
                    X, y, test_size=0.2, stratify=y, random_state=i
                )
                model.fit(
                    xt, yt, eval_metric="logloss", eval_set=[(xv, yv)],
                    callbacks=[lgb.early_stopping(20, verbose=False)],
                )
                importance += model.feature_importances_ / run_times
            else:
                from ..functions.driver_fit import gbm_split_importance

                importance += gbm_split_importance(
                    X, y, n_trees=n_trees, seed=i
                ) / run_times

        imp = pd.DataFrame({"feature": feats, "importance": importance})
        imp = imp.sort_values("importance", ascending=False).reset_index(drop=True)
        total = imp["importance"].sum()
        imp["normalized"] = imp["importance"] / (total if total else 1.0)
        imp["cumulative"] = np.cumsum(imp["normalized"])
        to_drop = list(
            imp.loc[imp["cumulative"] > cumulative_importance, "feature"]
        )
        self.importance_stats = imp
        self._drop(to_drop)
        return self

    def _sample_pandas(self, feats: list[str], sample_limit: int) -> pd.DataFrame:
        """Bounded driver-side sample of (feats, label): exact fraction
        sample when the table is larger than the limit, full table
        otherwise. Columns are cast to double (the GBM contract)."""
        from ..functions.utils import bounded_sample_pandas

        cols = [F.col(c).try_cast("double").alias(c) for c in feats] + [
            F.col(self.label).cast("double").alias(self.label)
        ]
        return bounded_sample_pandas(self.df.select(*cols), sample_limit)

    def __enter__(self) -> "Selector":
        from pyspark import StorageLevel

        self._scope = persisted()
        keep = self._scope.__enter__()
        self.df = keep(self.df, StorageLevel.MEMORY_AND_DISK)
        return self

    def __exit__(self, *exc) -> None:
        self._scope.__exit__(*exc)

    def _drop(self, cols: list[str]) -> None:
        if cols:
            self.drop_cols.extend(cols)
            self.df = self.df.drop(*cols)

    # ------------------------------------------------------ rendering
    # SVG parity for the reference's matplotlib diagnostics
    # (selector.py:285-418) — the stats tables are already driver-side,
    # so rendering adds no Spark work. Each returns the SVG string and
    # writes <out_path>/<file_name> when out_path is given.
    def plot_missing(self, out_path: str | None = None,
                     file_name: str = "missing.svg") -> str:
        """Histogram of per-feature missing fraction (selector.py:285-300)."""
        from ..functions import svgplot as sp

        if self.missing_stats is None:
            raise RuntimeError(
                "Missing values have not been calculated. Run `drop_missing`"
            )
        edges = [i / 10 for i in range(11)]
        rates = [
            r for r in self.missing_stats["missing_rate"] if r is not None
        ]
        counts = [
            sum(
                1 for r in rates
                if (edges[i] <= r < edges[i + 1]) or (i == 9 and r == 1.0)
            )
            for i in range(10)
        ]
        svg = sp.histogram(
            edges, counts, title="Fraction of Missing Values Histogram",
            xlabel="Missing Fraction", ylabel="Count of Features",
        )
        if out_path:
            sp.save(svg, out_path, file_name)
        return svg

    def plot_iv(self, top_n: int = 20, out_path: str | None = None,
                file_name: str = "iv.svg") -> str:
        """Horizontal bars of the top_n IV features (selector.py:302-326)."""
        from ..functions import svgplot as sp

        if self.iv_stats is None:
            raise RuntimeError(
                "IV of features have not been calculated. Run `drop_low_iv`"
            )
        ranked = self.iv_stats.sort_values("iv", ascending=False).head(top_n)
        svg = sp.bar_chart(
            [str(i) for i in ranked.index],
            [float(v) for v in ranked["iv"]],
            title="IV Of Features", xlabel="IV", horizontal=True,
        )
        if out_path:
            sp.save(svg, out_path, file_name)
        return svg

    def plot_correlated(self, plot_all: bool = False,
                        out_path: str | None = None,
                        file_name: str = "corr.svg") -> str:
        """Correlation heatmap — all pairs, or only the above-threshold
        block with drop features on the x axis (selector.py:328-381)."""
        from ..functions import svgplot as sp

        if self.corr_matrix is None:
            raise RuntimeError(
                "Collinear features have not been identified."
                " Run `drop_correlated`"
            )
        if plot_all:
            block, title = self.corr_matrix, "All Correlations"
        else:
            block = self.corr_matrix.loc[
                sorted(set(self.record_correlated["corr_feature"])),
                sorted(set(self.record_correlated["drop_feature"])),
            ]
            title = "Correlations Above Threshold"
        svg = sp.heatmap(
            block.values.tolist(),
            [str(i) for i in block.index],
            [str(c) for c in block.columns],
            title=title,
        )
        if out_path:
            sp.save(svg, out_path, file_name)
        return svg

    def plot_importance(self, top_n: int = 20, out_path: str | None = None,
                        file_name: str = "importance.svg") -> str:
        """Horizontal bars of normalized importance (selector.py:383-418)."""
        from ..functions import svgplot as sp

        if self.importance_stats is None:
            raise RuntimeError(
                "Feature importances have not been determined."
                " Run `drop_low_importance`"
            )
        ranked = self.importance_stats.head(top_n)
        svg = sp.bar_chart(
            [str(f_) for f_ in ranked["feature"]],
            [float(v) for v in ranked["normalized"]],
            title="Feature Importances", xlabel="Normalized Importance",
            horizontal=True,
        )
        if out_path:
            sp.save(svg, out_path, file_name)
        return svg
