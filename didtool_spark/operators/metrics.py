"""Statistics / metrics (reference didtool/metric.py, didtool/stats.py).

Every metric is one or two aggregations; driver math only ever touches
per-group/per-bin count tables. Plot helpers are intentionally data-
returning (the reference's matplotlib rendering is presentation, not
semantics; this container has no matplotlib).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from ..functions.binexpr import bin_expr
from ..functions.exprs import is_missing
from ..functions.utils import persisted
from .binning import Binner, class_counts, collect_capped, melted_class_counts, step_edges
from .woe import SingleWOETransformer, _floors, _over_cap_totals, _row_stats, woe_value

DEFAULT_BINS = 10


def handle_categorical_expr(col: str | Column, dtype: str = "double") -> Column:
    """utils.py:44-67: str(int(s)) when int-convertible else str(s);
    NaN -> 'nan'. For numeric columns int() truncates toward zero; for
    strings only pure integer literals convert."""
    c = F.col(col) if isinstance(col, str) else col
    if dtype in ("string",):
        as_int = F.when(
            c.rlike(r"^[+-]?\d+$"), c.try_cast("long").cast("string")
        )
        val = F.coalesce(as_int, c)
    else:
        val = c.try_cast("double").cast("long").cast("string")
    return F.when(is_missing(c), F.lit("nan")).otherwise(val)


# -------------------------------------------------------------------- IV

def _iv_discrete(df: DataFrame, col: Column, target: str) -> float:
    """metric.py:66-83: sum (p1-p0)*woe over distinct values, 0.5 floors.

    Driver math below the driver cap (bit-exact with the reference);
    above it the same formula runs as a fully distributed expression
    sum — no unbounded collect."""
    base = df.select(
        col.alias("__x"), F.col(target).cast("double").alias("__y")
    )
    agg = base.groupBy("__x").agg(*class_counts())
    rows = collect_capped(agg)
    if rows is None:
        t0, t1 = (max(t, 0.5) for t in _over_cap_totals(base)[:2])
        p1 = F.greatest(F.col("c1"), F.lit(0.5)) / F.lit(t1)
        p0 = F.greatest(F.col("c0"), F.lit(0.5)) / F.lit(t0)
        out = agg.select(F.sum((p1 - p0) * F.log(p1 / p0)).alias("iv")).first()
        return float(out["iv"] or 0.0)
    return _iv_from_groups([(r["c0"], r["c1"]) for r in rows])


def iv(
    df: DataFrame,
    col: str,
    target: str,
    is_continuous: bool = True,
    cut_method: str = "dt",
    n_bins: int = DEFAULT_BINS,
) -> float:
    """metric.py:106-123. Non-continuous input still routes to the
    continuous path when distinct/total > 0.5 (metric.py:120)."""
    if not is_continuous:
        ratio = df.select(
            (F.countDistinct(col) / F.count(F.lit(1))).alias("r")
        ).first()["r"]
        if ratio is not None and ratio > 0.5:
            is_continuous = True
    if is_continuous:
        b = Binner(method=cut_method, n_bins=n_bins).fit(df, col, target)
        return _iv_discrete(b.transform(df, col, "__bin"), F.col("__bin"), target)
    dtype = dict(df.dtypes).get(col, "double")
    return _iv_discrete(df, handle_categorical_expr(col, dtype), target)


def _iv_from_groups(groups: list[tuple[float, float]]) -> float:
    """Floored-probability IV over (c0, c1) groups (metric.py:66-83)."""
    total0 = sum(g[0] for g in groups)
    total1 = sum(g[1] for g in groups)
    out = 0.0
    for g0, g1 in groups:
        prob1, prob0 = _floors(g1, g0, total1, total0)
        out += (prob1 - prob0) * woe_value(prob1, prob0)
    return out


def iv_all(
    df: DataFrame,
    features: list[str],
    target: str,
    categorical_cols: list[str] | None = None,
    **kwargs,
) -> pd.DataFrame:
    """stats.py:32-67: per-feature IV, sorted desc.
    ``categorical_cols`` replaces pandas category dtype.

    Single-pass plan (SURVEY §3.1): ``binning.melted_class_counts``
    aggregates every (feature, value) cell with ONE groupBy over ONE
    source scan; per-feature IV is then driver math over that table. A
    continuous feature's IV is the ``var_iv`` of
    ``SingleWOETransformer._fit_from_stats``, whose edges come from the
    one dispatch ``binning.fit_thresholds`` — the same edges and
    0.5-floor formula as the per-feature path. A categorical feature's
    IV is ``_iv_from_groups`` over its values. At F features on 100 TB
    this replaces F full scans. Falls back to one Spark job per feature
    (the reference's Pool shape) above the combined distinct cap."""
    cut_method = kwargs.get("cut_method", "dt")
    n_bins = kwargs.get("n_bins", DEFAULT_BINS)
    cat = set(categorical_cols or [])
    dtypes = dict(df.dtypes)

    def values(f_: str) -> dict[str, Column]:
        xd = F.col(f_).try_cast("double")
        xd = F.when(F.isnan(xd), F.lit(None)).otherwise(xd)
        if f_ in cat:
            xs = handle_categorical_expr(f_, dtypes.get(f_, "double"))
            xr = F.col(f_).cast("string")
        else:
            xs = xr = F.lit(None).cast("string")
        return {"xd": xd, "xs": xs, "xr": xr}

    by_feat = melted_class_counts(df, features, target, values)
    if by_feat is None:
        return _iv_all_per_feature(df, features, target, cat, **kwargs)

    out_rows = []
    for f_ in features:
        fr = by_feat[f_]
        total_n = sum(r["c0"] + r["c1"] for r in fr)
        continuous = f_ not in cat
        if not continuous and total_n:
            # metric.py:120 gate: distinct/total > 0.5 -> continuous
            distinct_raw = sum(1 for r in fr if r["xr"] is not None)
            continuous = distinct_raw / total_n > 0.5
        key = "xd" if continuous else "xs"
        groups: dict = {}
        for r in fr:
            g = groups.setdefault(r[key], [0.0, 0.0])
            g[0] += r["c0"]
            g[1] += r["c1"]
        if continuous:
            # melt groups merged by numeric value, NULL included
            rows = [{"__x": x, "c0": g0, "c1": g1} for x, (g0, g1) in groups.items()]
            t = SingleWOETransformer(cut_method, n_bins)
            value = t._fit_from_stats(*_row_stats(rows)).var_iv
        else:
            value = _iv_from_groups(list(groups.values()))
        out_rows.append((f_, value))
    out = pd.DataFrame(out_rows, columns=["feature", "iv"])
    return out.sort_values("iv", ascending=False).set_index("feature")


def _iv_all_per_feature(
    df: DataFrame, features: list[str], target: str, cat: set, **kwargs
) -> pd.DataFrame:
    """Fallback above the melt cap: one Spark job per feature (the
    reference's multiprocessing.Pool becomes cluster parallelism)."""
    from concurrent.futures import ThreadPoolExecutor

    def one(f_):
        return f_, iv(df, f_, target, is_continuous=f_ not in cat, **kwargs)

    with ThreadPoolExecutor(max_workers=min(8, max(1, len(features)))) as pool:
        rows = list(pool.map(one, features))
    out = pd.DataFrame(rows, columns=["feature", "iv"])
    return out.sort_values("iv", ascending=False).set_index("feature")


# ------------------------------------------------------------------- PSI

def _rates(counts: dict, keys: list, total: float) -> list[float]:
    return [max(counts.get(k, 0) / total, 1e-10) if total else 1e-10 for k in keys]


def psi(
    expected: DataFrame,
    actual: DataFrame,
    col: str,
    n_bins: int = DEFAULT_BINS,
    is_continuous: bool = True,
    detail: bool = False,
):
    """metric.py:126-260. Continuous: bin ACTUAL with the EXPECTED side's
    step edges (no-empty-merge) — the reference's leakage-safe rule
    (metric.py:190-193). Zero rates floored at 1e-10."""
    if is_continuous:
        edges = step_edges(expected, col, n_bins, remove_empty_bins=False)
        e_counts = {
            r["__b"]: r["count"]
            for r in expected.select(bin_expr(F.col(col).try_cast("double"), edges).alias("__b"))
            .groupBy("__b").count().collect()
        }
        a_counts = {
            r["__b"]: r["count"]
            for r in actual.select(bin_expr(F.col(col).try_cast("double"), edges).alias("__b"))
            .groupBy("__b").count().collect()
        }
        has_nan = (-1 in e_counts) or (-1 in a_counts)
        keys = ([-1] if has_nan else []) + list(range(len(edges) - 1))
        labels = (["NA"] if has_nan else []) + [
            "(%.4f, %.4f]" % (edges[i], edges[i + 1]) for i in range(len(edges) - 1)
        ]
    else:
        dtype_e = dict(expected.dtypes).get(col, "double")
        ce = handle_categorical_expr(col, dtype_e)
        ca = handle_categorical_expr(col, dict(actual.dtypes).get(col, "double"))
        e_g = expected.select(ce.alias("__x")).groupBy("__x").count()
        a_g = actual.select(ca.alias("__x")).groupBy("__x").count()
        e_rows = collect_capped(e_g)
        a_rows = collect_capped(a_g) if e_rows is not None else None
        if e_rows is None or a_rows is None:
            if detail:
                raise ValueError(
                    "psi(detail=True) needs the per-value table on the driver; "
                    f"`{col}` exceeds binning.MAX_DISTINCT distinct values"
                )
            return _psi_categorical_distributed(e_g, a_g)
        e_counts = {r["__x"]: r["count"] for r in e_rows}
        a_counts = {r["__x"]: r["count"] for r in a_rows}
        keys = sorted(set(e_counts) | set(a_counts))
        labels = [str(k) for k in keys]

    e_total = sum(e_counts.values())
    a_total = sum(a_counts.values())
    e_rate = _rates(e_counts, keys, e_total)
    a_rate = _rates(a_counts, keys, a_total)
    value = sum(
        (a - e) * math.log(a / e) for a, e in zip(a_rate, e_rate)
    )
    if detail:
        return value, pd.DataFrame({"expect": e_rate, "actual": a_rate}, index=labels)
    return value


def _psi_categorical_distributed(e_g: DataFrame, a_g: DataFrame) -> float:
    """PSI over a categorical column whose distinct count exceeds the
    driver cap: full-outer join of the two grouped count tables on the
    value (one shuffle over distinct values, never rows on the driver),
    identical 1e-10 rate floors."""
    e_total = float(e_g.agg(F.sum("count")).first()[0] or 0)
    a_total = float(a_g.agg(F.sum("count")).first()[0] or 0)
    j = (
        e_g.withColumnRenamed("count", "e_cnt")
        .join(a_g.withColumnRenamed("count", "a_cnt"), "__x", "full_outer")
    )
    e_rate = F.greatest(
        F.coalesce(F.col("e_cnt"), F.lit(0)) / F.lit(max(e_total, 1.0)), F.lit(1e-10)
    ) if e_total else F.lit(1e-10)
    a_rate = F.greatest(
        F.coalesce(F.col("a_cnt"), F.lit(0)) / F.lit(max(a_total, 1.0)), F.lit(1e-10)
    ) if a_total else F.lit(1e-10)
    out = j.select(F.sum((a_rate - e_rate) * F.log(a_rate / e_rate)).alias("psi")).first()
    return float(out["psi"] or 0.0)


def psi_all(
    df: DataFrame,
    features: list[str],
    group_col: str = "month",
    expected: DataFrame | None = None,
    categorical_cols: list[str] | None = None,
    n_bins: int = DEFAULT_BINS,
) -> pd.DataFrame:
    """stats.py:70-123: drift per feature per group — each group vs the
    previous one (expected=None) or vs a fixed expected frame.

    Single-pass plan: melt every feature into (group, feature, value)
    structs and aggregate counts with ONE groupBy over ONE source scan
    (plus one scan of ``expected`` if given); every (feature x group)
    PSI — including the step grids derived from each expected side — is
    then driver math over the aggregated count table. The naive shape
    is 2-3 aggregations x F features x G groups. Falls back to the
    per-pair loop above the combined distinct cap."""
    import numpy as np

    cat = set(categorical_cols or [])

    def melt(frame: DataFrame, is_expected: bool) -> DataFrame:
        dtypes = dict(frame.dtypes)
        structs = []
        for f_ in features:
            xd = F.col(f_).try_cast("double")
            xd = F.when(F.isnan(xd), F.lit(None)).otherwise(xd)
            if f_ in cat:
                xs = handle_categorical_expr(f_, dtypes.get(f_, "double"))
            else:
                xs = F.lit(None).cast("string")
            structs.append(
                F.struct(F.lit(f_).alias("f"), xd.alias("xd"), xs.alias("xs"))
            )
        g = (
            F.lit(None).cast(dict(df.dtypes)[group_col])
            if is_expected
            else F.col(group_col)
        )
        return frame.select(
            g.alias("__g"),
            F.lit(is_expected).alias("__exp"),
            F.explode(F.array(*structs)).alias("p"),
        )

    base = melt(df, False)
    if expected is not None:
        base = base.unionByName(melt(expected, True))
    agg = base.groupBy("__g", "__exp", "p.f", "p.xd", "p.xs").agg(
        F.count(F.lit(1)).alias("n")
    )
    rows = collect_capped(agg)
    if rows is None:
        return _psi_all_per_pair(
            df, features, group_col, expected, cat, n_bins
        )

    groups = sorted({r["__g"] for r in rows if not r["__exp"]})
    # counts[(key, feature)] -> list of (xd, xs, n); key is a group or EXP
    EXP = object()
    counts: dict[tuple, list] = {}
    for r in rows:
        key = EXP if r["__exp"] else r["__g"]
        counts.setdefault((key, r["f"]), []).append((r["xd"], r["xs"], r["n"]))

    def psi_pair(e_rows: list, a_rows: list, continuous: bool) -> float:
        if continuous:
            # expected-side fixed step grid (metric.py:190-193), outer
            # edges +/-inf (clamp), NULL/NaN -> -1
            e_num = [x for x, _, _ in e_rows if x is not None]
            if e_num:
                mn, mx = min(e_num), max(e_num)
                interior = np.linspace(mn, mx, n_bins + 1)[1:-1]
                n_keys = n_bins
            else:
                interior = np.array([])
                n_keys = 1

            def bin_counts(rws):
                out: dict[int, float] = {}
                for x, _, n in rws:
                    b = -1 if x is None else int(
                        np.searchsorted(interior, x, side="left")
                    )
                    out[b] = out.get(b, 0) + n
                return out

            e_counts, a_counts = bin_counts(e_rows), bin_counts(a_rows)
            has_nan = (-1 in e_counts) or (-1 in a_counts)
            keys = ([-1] if has_nan else []) + list(range(n_keys))
        else:
            e_counts = {}
            for _, s, n in e_rows:
                e_counts[s] = e_counts.get(s, 0) + n
            a_counts = {}
            for _, s, n in a_rows:
                a_counts[s] = a_counts.get(s, 0) + n
            keys = sorted(set(e_counts) | set(a_counts))
        e_total = sum(e_counts.values())
        a_total = sum(a_counts.values())
        e_rate = _rates(e_counts, keys, e_total)
        a_rate = _rates(a_counts, keys, a_total)
        return sum((a - e) * math.log(a / e) for a, e in zip(a_rate, e_rate))

    result = pd.DataFrame(index=features, columns=groups, dtype=float)
    for i, g in enumerate(groups):
        if expected is None:
            if i == 0:
                continue
            exp_key = groups[i - 1]
        else:
            exp_key = EXP
        for f_ in features:
            result.loc[f_, g] = psi_pair(
                counts.get((exp_key, f_), []),
                counts.get((g, f_), []),
                f_ not in cat,
            )
    return result


def _psi_all_per_pair(
    df: DataFrame,
    features: list[str],
    group_col: str,
    expected: DataFrame | None,
    cat: set,
    n_bins: int,
) -> pd.DataFrame:
    """Fallback above the melt cap: one psi() (2-3 Spark jobs) per
    feature per group pair."""
    groups = sorted(r[0] for r in df.select(group_col).distinct().collect())
    result = pd.DataFrame(index=features, columns=groups, dtype=float)
    by_group = {g: df.where(F.col(group_col) == g) for g in groups}
    for i, g in enumerate(groups):
        if expected is None:
            if i == 0:
                continue
            exp_df = by_group[groups[i - 1]]
        else:
            exp_df = expected
        for f_ in features:
            result.loc[f_, g] = psi(
                exp_df, by_group[g], f_, n_bins=n_bins,
                is_continuous=f_ not in cat,
            )
    return result


# --------------------------------------------------------------- AUC / KS

# chunk width for the two-level cumulative sums of the binned path: the
# per-chunk offsets (<= n_score_bins/CUM_CHUNK entries) are driver-side
CUM_CHUNK = 256


def _score_table(
    df: DataFrame, label: str, score: str, n_score_bins: int | None = None
) -> DataFrame:
    """Aggregate to one row per distinct score: (score, n, n1). All
    cumulative statistics run on this table (distinct scores << rows).

    ``n_score_bins`` is the scale path: scores are pre-rounded onto a
    fixed min/max grid, so the table is bounded at n_score_bins rows no
    matter how many distinct scores the input has (a continuous score at
    10^12 rows has ~10^12 distinct values — the exact path's cumulative
    pass would otherwise serialize). The representative score is the bin
    upper edge (threshold semantics); binned metrics agree with exact to
    ~1/n_score_bins and the table also carries the integer bin id `b`
    for the partitioned two-level cumsum."""
    y = F.col(label).cast("double")
    s = F.col(score).cast("double")
    if n_score_bins:
        # NaN-safe grid: Spark's max() propagates NaN, which would
        # collapse the whole grid to width=1.0 and put every finite
        # score in bin 0. Clean for the min/max; route NULL scores to
        # the bottom bin and NaN to the top bin — the same ordering the
        # exact path's window gives them (nulls first, NaN last).
        s_clean = F.when(F.isnan(s), F.lit(None)).otherwise(s)
        mn, mx = df.select(F.min(s_clean), F.max(s_clean)).first()
        width = ((mx - mn) / n_score_bins) if (mn is not None and mx > mn) else 1.0
        b = (
            F.when(s.isNull(), F.lit(0))
            .when(F.isnan(s), F.lit(n_score_bins - 1))
            .otherwise(
                F.least(
                    F.greatest(F.floor((s - F.lit(mn)) / F.lit(width)), F.lit(0)),
                    F.lit(n_score_bins - 1),
                )
            )
            .cast("int")
        )
        return (
            df.select(b.alias("b"), y.alias("y"))
            .groupBy("b")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("n1"))
            .withColumn("s", F.lit(float(mn or 0.0)) + (F.col("b") + 1) * F.lit(float(width)))
        )
    return (
        df.select(s.alias("s"), y.alias("y"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("n1"))
    )


def _cum_before_over_chunks(
    t: DataFrame, order_col: str
) -> tuple[DataFrame, float, float]:
    """Ascending exclusive prefix sums of (n, n1) over ``t`` — ordered
    by ``order_col`` — WITHOUT a global single-partition sort. Requires
    a ``chunk`` column whose ordering is consistent with ``order_col``
    (chunk(a) <= chunk(b) whenever a precedes b): the window runs
    partitioned by chunk (parallel) and broadcast per-chunk offsets
    stitch the chunks (driver state = one row per chunk). Returns
    (table + cum_n_before/cum_n1_before, total_n, total_n1)."""
    from ..functions.exprs import map_expr

    chunk_rows = (
        t.groupBy("chunk")
        .agg(F.sum("n").alias("cn"), F.sum("n1").alias("cn1"))
        .collect()
    )
    chunk_rows.sort(key=lambda r: r["chunk"])
    off_n: dict[int, float] = {}
    off_n1: dict[int, float] = {}
    acc_n = acc_n1 = 0.0
    for r in chunk_rows:
        off_n[r["chunk"]], off_n1[r["chunk"]] = acc_n, acc_n1
        acc_n += r["cn"]
        acc_n1 += r["cn1"]
    w = (
        Window.partitionBy("chunk")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = t.select(
        *t.columns,
        (
            F.coalesce(F.sum("n").over(w), F.lit(0.0))
            + map_expr(F.col("chunk"), off_n, default=0.0)
        ).alias("cum_n_before"),
        (
            F.coalesce(F.sum("n1").over(w), F.lit(0.0))
            + map_expr(F.col("chunk"), off_n1, default=0.0)
        ).alias("cum_n1_before"),
    )
    return out, acc_n, acc_n1


def _with_cum_before(t: DataFrame) -> tuple[DataFrame, float, float]:
    """Binned-table prefix sums: chunk = bin-id block, so driver state
    is <= n_score_bins/CUM_CHUNK rows."""
    t = t.withColumn("chunk", (F.col("b") / CUM_CHUNK).cast("int"))
    return _cum_before_over_chunks(t, "b")


# distinct-score chunks for the EXACT cumulative path; offsets table is
# <= EXACT_CUM_CHUNKS + 1 driver rows
EXACT_CUM_CHUNKS = 64


def _with_cum_before_exact(t: DataFrame) -> tuple[DataFrame, float, float]:
    """Prefix sums over the EXACT distinct-score table without a global
    single-partition sort: range-chunk scores on approx-quantile
    boundaries, then the same chunk-partitioned window + broadcast
    offsets as the binned path. Chunk order + in-chunk score order
    equals the global order the former ``Window.orderBy('s')``
    produced: NULL -> chunk -1 (Spark sorts nulls first ascending),
    finite s -> number of boundaries strictly below s, and NaN compares
    greater than every boundary (Spark NaN ordering) so it lands in the
    top chunk and sorts last within it. Replaces the former
    all-distinct-scores-in-one-task plan (the scale hazard when scores
    are continuous); costs one approxQuantile job + the chunk-totals
    collect, both over the already-aggregated distinct-score table."""
    finite = t.where(F.col("s").isNotNull() & ~F.isnan("s"))
    bounds = finite.approxQuantile(
        "s", [i / EXACT_CUM_CHUNKS for i in range(1, EXACT_CUM_CHUNKS)], 0.001
    )
    chunk = F.lit(0)
    for b_ in sorted(set(bounds)):
        chunk = chunk + (F.col("s") > F.lit(float(b_))).cast("int")
    chunk = F.when(F.col("s").isNull(), F.lit(-1)).otherwise(chunk)
    return _cum_before_over_chunks(t.withColumn("chunk", chunk), "s")


def auc_ks_values(
    df: DataFrame, label: str, score: str, n_score_bins: int | None = None
) -> tuple[float, float]:
    """(AUC, KS) from ONE cumulative pass: one score table, one
    chunked prefix-sum stitch, one final aggregate computing both the
    rank sum and max|cum_bad - cum_good|. Callers needing both metrics
    (the scorecard/report paths) should use this instead of auc()+ks(),
    which would each pay the approxQuantile + chunk-offset jobs."""
    table = _score_table(df, label, score, n_score_bins)
    with persisted() as keep:
        if not n_score_bins:
            # the exact path runs three jobs over the distinct-score
            # table (quantile bounds, chunk totals, final aggregate) —
            # persist it so the underlying score aggregation runs once
            table = keep(table)
        t, n, n1 = (
            _with_cum_before(table) if n_score_bins
            else _with_cum_before_exact(table)
        )
        n0 = n - n1
        if not n1 or not n0:
            return float("nan"), float("nan")
        cum_bad = (F.lit(n1) - F.col("cum_n1_before")) / F.lit(float(n1))
        cum_good = (
            F.lit(n0) - (F.col("cum_n_before") - F.col("cum_n1_before"))
        ) / F.lit(float(n0))
        row = t.select(
            F.sum(
                F.col("n1") * (F.col("cum_n_before") + (F.col("n") + 1) / 2.0)
            ).alias("r1"),
            F.max(F.abs(cum_bad - cum_good)).alias("ks"),
        ).first()
        return (
            (row["r1"] - n1 * (n1 + 1) / 2.0) / (n0 * n1),
            row["ks"],
        )


def auc(
    df: DataFrame, label: str, score: str, n_score_bins: int | None = None
) -> float:
    """Rank-statistic AUC with average ranks for ties (equals
    sklearn.roc_auc_score used at model.py:233-242). Both paths run the
    cumulative pass with a chunk-partitioned window — the exact path
    chunks distinct scores on approx-quantile ranges, the
    ``n_score_bins`` path (e.g. 10_000) additionally bounds the table
    at a fixed grid so the distinct-score aggregation itself stays
    small at any row count."""
    return auc_ks_values(df, label, score, n_score_bins)[0]


def _desc_inclusive(df: DataFrame, label: str, score: str, n_score_bins: int):
    """Binned score table with descending-inclusive cumulative n/n1
    (= total - ascending-exclusive from the chunk-partitioned prefix
    sums — no global single-partition sort anywhere)."""
    t, n, n1 = _with_cum_before(_score_table(df, label, score, n_score_bins))
    t = t.select(
        "b",
        F.col("s").alias("threshold"),
        (F.lit(n1) - F.col("cum_n1_before")).alias("cum1"),
        (F.lit(n) - F.col("cum_n_before")).alias("cumn"),
    )
    return t, n, n1


def roc_curve(
    df: DataFrame, label: str, score: str, n_score_bins: int | None = None
) -> pd.DataFrame:
    """(fpr, tpr, threshold) points over distinct scores desc — the data
    behind plot_roc/compare_roc (metric.py:313-392; rendering is
    presentation, this container has no matplotlib). ``n_score_bins``
    bounds the point count and keeps every window partitioned."""
    if n_score_bins:
        t, n, n1 = _desc_inclusive(df, label, score, n_score_bins)
        n0 = n - n1
        return (
            t.select(
                "threshold",
                (F.col("cum1") / F.lit(float(max(n1, 1)))).alias("tpr"),
                ((F.col("cumn") - F.col("cum1")) / F.lit(float(max(n0, 1)))).alias("fpr"),
            )
            .orderBy(F.desc("threshold"))
            .toPandas()
        )
    # exact path: descending-inclusive cum = total - ascending-exclusive
    # prefix sums from the score-range-chunked window (no global sort)
    t, n, n1 = _with_cum_before_exact(_score_table(df, label, score))
    n0 = n - n1
    cum1 = F.lit(n1) - F.col("cum_n1_before")
    cumn = F.lit(n) - F.col("cum_n_before")
    return (
        t.select(
            F.col("s").alias("threshold"),
            (cum1 / F.lit(float(max(n1, 1)))).alias("tpr"),
            ((cumn - cum1) / F.lit(float(max(n0, 1)))).alias("fpr"),
        )
        .orderBy(F.desc("threshold"))
        .toPandas()
    )


def pr_curve(
    df: DataFrame, label: str, score: str, n_score_bins: int | None = None
) -> pd.DataFrame:
    """(precision, recall, threshold) points (metric.py:395-467 data)."""
    if n_score_bins:
        t, n, n1 = _desc_inclusive(df, label, score, n_score_bins)
        return (
            t.where(F.col("cumn") > 0)
            .select(
                "threshold",
                (F.col("cum1") / F.col("cumn")).alias("precision"),
                (F.col("cum1") / F.lit(float(n1 or 1))).alias("recall"),
            )
            .orderBy(F.desc("threshold"))
            .toPandas()
        )
    t, n, n1 = _with_cum_before_exact(_score_table(df, label, score))
    n1 = n1 or 1
    cum1 = F.lit(n1) - F.col("cum_n1_before")
    cumn = F.lit(n) - F.col("cum_n_before")
    return (
        t.select(
            F.col("s").alias("threshold"),
            (cum1 / cumn).alias("precision"),
            (cum1 / F.lit(float(n1))).alias("recall"),
        )
        .orderBy(F.desc("threshold"))
        .toPandas()
    )


def ks_curve(
    df: DataFrame, label: str, score: str, n_points: int = 100,
    n_score_bins: int | None = None,
) -> pd.DataFrame:
    """Cumulative good/bad share curve decimated to ~n_points (the data
    behind plot_ks_in_cum, metric.py:504-586 incl. its ntile-100
    sampling). Binned path decimates by equal-width score buckets (an
    arithmetic bucket id — no global ntile window)."""
    if n_score_bins:
        t, n, n1 = _desc_inclusive(df, label, score, n_score_bins)
        n1 = n1 or 1
        n0 = (n - n1) or 1
        cum = t.select(
            "b", "threshold",
            (F.col("cum1") / F.lit(float(n1))).alias("cum_bad"),
            ((F.col("cumn") - F.col("cum1")) / F.lit(float(n0))).alias("cum_good"),
        ).withColumn("ks", F.col("cum_bad") - F.col("cum_good"))
        bucket = (
            F.lit(n_points)
            - F.floor(F.col("b") * n_points / F.lit(n_score_bins)).cast("int")
        )
        return (
            cum.withColumn("bucket", bucket)
            .groupBy("bucket")
            .agg(
                F.min("threshold").alias("threshold"),
                F.max("cum_bad").alias("cum_bad"),
                F.max("cum_good").alias("cum_good"),
                F.max("ks").alias("ks"),
            )
            .orderBy("bucket")
            .toPandas()
        )
    # exact path: desc-inclusive cums from the score-range-chunked
    # window; decimation buckets by POPULATION share (ceil(cum-row-share
    # * n_points) — an arithmetic expression) instead of the former
    # ntile over a global desc sort, which serialized all distinct
    # scores into one task
    t, n, n1t = _with_cum_before_exact(_score_table(df, label, score))
    n1 = n1t or 1
    n0 = (n - n1t) or 1
    cum1 = F.lit(n1t) - F.col("cum_n1_before")
    cumn = F.lit(n) - F.col("cum_n_before")
    cum = t.select(
        F.col("s").alias("threshold"),
        (cum1 / F.lit(float(n1))).alias("cum_bad"),
        ((cumn - cum1) / F.lit(float(n0))).alias("cum_good"),
        F.ceil(cumn * n_points / F.lit(float(n))).cast("int").alias("bucket"),
    ).withColumn("ks", F.col("cum_bad") - F.col("cum_good"))
    return (
        cum.groupBy("bucket")
        .agg(
            F.min("threshold").alias("threshold"),
            F.max("cum_bad").alias("cum_bad"),
            F.max("cum_good").alias("cum_good"),
            F.max("ks").alias("ks"),
        )
        .orderBy("bucket")
        .toPandas()
    )


def distribution(df: DataFrame, col: str, n_bins: int = DEFAULT_BINS) -> pd.DataFrame:
    """Histogram table (metric.py:263-310 data): step bins + counts."""
    edges = step_edges(df, col, n_bins, remove_empty_bins=False)
    rows = (
        df.select(bin_expr(F.col(col).try_cast("double"), edges).alias("__b"))
        .groupBy("__b")
        .count()
        .orderBy("__b")
        .collect()
    )
    out = []
    for r in rows:
        b = r["__b"]
        label = "NA" if b == -1 else "(%.4f, %.4f]" % (edges[b], edges[b + 1])
        out.append({"bin": b, "range": label, "count": r["count"]})
    return pd.DataFrame(out)


def distributions(
    dfs: list[DataFrame], col: str, n_bins: int = DEFAULT_BINS
) -> list[pd.DataFrame]:
    """Data behind metric.py:287-310 ``distributions`` (the reference
    renders seaborn distplots; rendering is presentation): one
    histogram table per input frame, each on its own step grid like the
    reference's per-series distplot binning."""
    return [distribution(df, col, n_bins) for df in dfs]


def layer_stability_tables(
    df: DataFrame, prob_col: str, group_col: str, label_col: str,
    n_bins: int = DEFAULT_BINS,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """The two pivots behind plot_layer_stability (metric.py:631-756):
    per (prob-quantile-bin x group) sample share and positive rate."""
    from .binning import Binner

    b = Binner(method="quantile", n_bins=n_bins).fit(df, prob_col)
    binned = b.transform(df, prob_col, "__b")
    counts = (
        binned.groupBy("__b")
        .pivot(group_col)
        .agg(F.count(F.lit(1)))
        .orderBy("__b")
        .toPandas()
        .set_index("__b")
        .fillna(0)
    )
    share = counts / counts.sum(axis=0)
    pos_rate = (
        binned.groupBy("__b")
        .pivot(group_col)
        .agg(F.avg(F.col(label_col).cast("double")))
        .orderBy("__b")
        .toPandas()
        .set_index("__b")
    )
    return share, pos_rate


def ks(
    df: DataFrame, label: str, score: str, n_score_bins: int | None = None
) -> float:
    """KS = max |cum_bad_share - cum_good_share| over score thresholds
    (plot_ks_in_cum semantics, metric.py:536-554). Descending-inclusive
    cumulative = total - ascending-exclusive, so the chunk-partitioned
    prefix sums serve both orders; the exact path chunks distinct
    scores on approx-quantile ranges, ``n_score_bins`` additionally
    bounds the score table at a fixed grid."""
    return auc_ks_values(df, label, score, n_score_bins)[1]
