"""Entity-value segmentation: RFM scores and Pareto concentration.

Both start from the same reduction — the raw stream collapses ONCE to
a per-entity aggregate row (map-side-combined groupBy) — and then
need a GLOBAL rank over that table.  ``Window.orderBy`` without
partitions is the single-partition sort this repo bans, so ranks come
from a bucketed decomposition instead (``_global_rank``):

1. fit: one tiny aggregation collects ``n_buckets - 1`` exact
   percentile edges of the rank value (plus the row count / value
   total) to the driver — the binning operators' collect-capped fit
   shape;
2. rows bucket by edge comparison (functions/binexpr.bin_expr — pure
   codegen), rank within a bucket by ``row_number`` over the
   per-bucket window, and re-base by an exclusive running offset over
   the <= n_buckets-row bucket-stats table;
3. ties sit entirely inside one bucket (equal values compare equal to
   every edge), so bucket-major order IS the global order.

No task ever sorts more than ~1/n_buckets of the entities; the only
driver state is the edge list.  The same machinery yields the global
cumulative sum for the Pareto curve.

``rfm_segments`` reproduces SQL ``NTILE(n) OVER (ORDER BY metric
[DESC], key)`` *exactly* (first ``N % n`` tiles one row larger), so
the DuckDB oracle replays it with the builtin.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ..functions.binexpr import bin_expr
from ..functions.utils import bounded_pull, persisted

__all__ = ["rfm_segments", "pareto_curve"]

# driver rank cap: a per-ENTITY table fits it far beyond the raw stream
# scale that motivates the bucketed machinery
_DRIVER_ROWS = 8_000_000


def _lit_map(d: dict, cast_t: str):
    pairs = []
    for kk, vv in d.items():
        pairs += [F.lit(int(kk)), F.lit(vv).cast(cast_t)]
    # typed even when empty, so rank/cum keep their long/double type
    return F.create_map(*pairs).cast(f"map<int,{cast_t}>")


def _driver_ranks(
    per: DataFrame,
    pdf,
    specs: Sequence[tuple[str, bool, str]],
    tiebreak: Sequence[str],
    sum_col: str | None,
    cum_name: str,
) -> DataFrame:
    """``_global_ranks`` over the pulled table by numpy lexsort: the
    bucketed plan's order, int64 ranks and running ``cum_name`` (NULL
    until the first non-NULL ``sum_col``), up to float association."""
    import numpy as np
    import pandas as pd

    n_rows = len(pdf)
    vs = [f"__v{i}" for i in range(len(specs))]
    fields = [f for f in per.schema.fields if f.name not in vs]
    for i, (_c, _desc, name) in enumerate(specs):
        v = pdf[f"__v{i}"].to_numpy(dtype=np.float64, na_value=np.nan)
        nullf = np.isnan(v)
        vkey = np.where(nullf, 0.0, v)  # nulls ordered by tiebreak only
        tb = [pdf[t].to_numpy() for t in tiebreak]
        order = np.lexsort((*reversed(tb), vkey, nullf))
        rk = np.empty(n_rows, dtype=np.int64)
        rk[order] = np.arange(1, n_rows + 1)
        pdf[name] = rk
        fields.append(StructField(name, LongType()))
        if sum_col is not None and i == 0:
            sv = pdf[sum_col]
            seen = np.empty(n_rows, dtype=bool)
            seen[order] = np.logical_or.accumulate(sv.notna().to_numpy()[order])
            sv = sv.to_numpy(dtype=np.float64, na_value=0.0)
            cum = np.empty(n_rows, dtype=np.float64)
            cum[order] = np.cumsum(sv[order])
            pdf[cum_name] = pd.arrays.FloatingArray(cum, ~seen)
            fields.append(StructField(cum_name, DoubleType()))
    pdf = pdf.drop(columns=vs)
    return per.sparkSession.createDataFrame(pdf, schema=StructType(fields))


def _global_ranks(
    per: DataFrame,
    specs: Sequence[tuple[str, bool, str]],
    tiebreak: Sequence[str],
    n_buckets: int = 64,
    approx: bool = False,
    sum_col: str | None = None,
    cum_name: str = "__cum",
) -> tuple[DataFrame, int]:
    """Dense global ranks (one per spec ``(value_col, descending,
    rank_name)``) over one table.  NULL/NaN values rank LAST in either
    direction, ordered by the tiebreak alone.  ``sum_col`` (single-spec
    callers like pareto_curve) additionally emits ``cum_name`` = the
    SQL running ``SUM(sum_col)`` down the first spec's ranking.

    Up to ``_DRIVER_ROWS`` rows rank on the driver (``_driver_ranks``
    over ``functions.utils.bounded_pull``); above, in TWO driver actions
    (one combined percentile fit, one combined bucket-stat collect via a
    metric-exploded groupBy).  ``approx=True`` swaps the exact
    ``percentile`` fit for the fixed-memory ``percentile_approx`` (the
    100 TB path): edges only PLACE the buckets (ranks are re-based by
    real per-bucket counts), so approximation costs balance, never
    correctness.
    """
    if sum_col is not None and len(specs) != 1:
        raise ValueError("sum_col requires exactly one spec")
    vs = []
    for i, (col, desc, _name) in enumerate(specs):
        # NaN ranks as NULL (last, by tiebreak) on both paths
        v = F.nanvl(F.col(col).cast("double"), F.lit(None).cast("double"))
        per = per.withColumn(f"__v{i}", (-v) if desc else v)
        vs.append(f"__v{i}")

    pdf = bounded_pull(per, _DRIVER_ROWS)
    if pdf is not None:
        return (
            _driver_ranks(per, pdf, specs, tiebreak, sum_col, cum_name),
            len(pdf),
        )

    probs = ", ".join(str(i / n_buckets) for i in range(1, n_buckets))
    fit_fn = "percentile_approx" if approx else "percentile"
    fit_extra = ", 10000" if approx else ""
    row = per.agg(
        *[
            F.expr(f"{fit_fn}({v}, array({probs}){fit_extra})").alias(f"__e{i}")
            for i, v in enumerate(vs)
        ],
        F.count(F.lit(1)).alias("__n"),
    ).first()
    total = int(row["__n"])
    for i, v in enumerate(vs):
        edges = sorted(
            {float(e) for e in (row[f"__e{i}"] or []) if e is not None}
        )
        per = per.withColumn(
            f"__bk{i}",
            # NULLS LAST: dedicated bucket after every value bucket
            bin_expr(
                F.col(v),
                [-math.inf, *edges, math.inf],
                nan_value=len(edges) + 1,
            ),
        )

    sval = F.col(sum_col).cast("double") if sum_col is not None else F.lit(0.0)
    stats = (
        per.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("m"), F.col(f"__bk{i}").alias("bk")
                        )
                        for i in range(len(specs))
                    ]
                )
            ).alias("s"),
            sval.alias("__sv"),
        )
        .groupBy(F.col("s.m").alias("m"), F.col("s.bk").alias("bk"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("__sv").alias("sv"))
        .collect()
    )
    offs: list[dict[int, int]] = [dict() for _ in specs]
    soffs: dict[int, float] = {}
    for i in range(len(specs)):
        rows = sorted((r for r in stats if r["m"] == i), key=lambda r: r["bk"])
        c, cs = 0, None
        for r in rows:
            offs[i][r["bk"]] = c
            c += r["n"]
            if sum_col is not None and i == 0:
                # SUM over the preceding buckets: NULL until a non-NULL
                soffs[r["bk"]] = cs
                if r["sv"] is not None:
                    cs = r["sv"] if cs is None else cs + r["sv"]

    for i, (_col, _desc, name) in enumerate(specs):
        w = Window.partitionBy(f"__bk{i}").orderBy(f"__v{i}", *tiebreak)
        per = per.withColumn(
            name,
            F.element_at(_lit_map(offs[i], "long"), F.col(f"__bk{i}"))
            + F.row_number().over(w),
        )
        if sum_col is not None and i == 0:
            off = F.element_at(_lit_map(soffs, "double"), F.col("__bk0"))
            run = F.sum(sum_col).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            per = per.withColumn(cum_name, F.coalesce(off + run, off, run))
    return per.drop(*vs, *[f"__bk{i}" for i in range(len(specs))]), total


def _global_rank(
    per: DataFrame,
    value_col: str,
    tiebreak: Sequence[str],
    descending: bool = False,
    n_buckets: int = 64,
    sum_col: str | None = None,
    rank_name: str = "__rank",
    cum_name: str = "__cum",
    approx: bool = False,
) -> tuple[DataFrame, int]:
    """Single-metric convenience wrapper over ``_global_ranks``."""
    return _global_ranks(
        per,
        [(value_col, descending, rank_name)],
        tiebreak,
        n_buckets=n_buckets,
        approx=approx,
        sum_col=sum_col,
        cum_name=cum_name,
    )


def _ntile_from_rank(rank: Column, total: int, n: int) -> Column:
    """SQL NTILE(n) from a dense 1..total rank: the first total % n
    tiles take ceil(total/n) rows, the rest floor(total/n)."""
    q, r = divmod(int(total), int(n))
    if q == 0:
        return rank.cast("int")
    big = r * (q + 1)
    return (
        F.when(rank <= big, F.ceil(rank / F.lit(q + 1)))
        .otherwise(F.lit(r) + F.ceil((rank - F.lit(big)) / F.lit(q)))
        .cast("int")
    )


def rfm_segments(
    df: DataFrame,
    key: str = "o_custkey",
    ts_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    n: int = 5,
    asof: str | None = None,
    approx: bool = False,
) -> DataFrame:
    """Per-entity RFM table: ``recency_days`` (days from last activity
    to ``asof``, default the corpus max date), ``frequency`` (rows),
    ``monetary`` (sum of ``amount_col``), NTILE scores 1..n (n = best:
    most recent / most frequent / highest spend) and a rule-based
    ``segment`` label.

    Scores replicate ``NTILE(n) OVER (ORDER BY recency_days DESC, key)``
    (resp. frequency/monetary ASC) — deterministic under ties via the
    key tiebreak, and exactly what the SQL oracle runs.

    The per-entity table is persisted in a ``functions.utils.persisted``
    scope while the ranks are fitted (one row per entity — bounded; it
    feeds the rank fit actions and the final plan).  The result is
    eagerly localCheckpoint()ed before the scope releases the cache, so
    repeated calls in a long-lived session accumulate no cached
    relations.
    """
    per = df.groupBy(F.col(key).alias("key")).agg(
        F.max(ts_col).alias("__last"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(amount_col).alias("monetary"),
    )
    if asof is None:
        # corpus max date: aggregate of the per-entity maxima (tiny)
        mx = per.agg(F.max("__last").alias("__asof"))
        per = per.crossJoin(F.broadcast(mx))
        per = per.withColumn(
            "recency_days", F.datediff(F.col("__asof"), F.col("__last"))
        ).drop("__asof")
    else:
        per = per.withColumn(
            "recency_days",
            F.datediff(F.lit(asof).cast("timestamp"), F.col("__last")),
        )
    per = per.drop("__last")
    # the per-entity table feeds three rank fits (each an eager
    # percentile action) plus the final plan — persist or the raw
    # stream re-aggregates for every pass
    with persisted() as keep:
        per = keep(per)
        # rank monetary on whole cents: a float SUM's partial-aggregation
        # order differs between engines (and between runs at different
        # parallelism), and an ulp difference must not be able to swap two
        # near-equal entities' ranks; displayed monetary stays exact
        per = per.withColumn(
            "__mon_q",
            F.floor(F.col("monetary") * 100 + F.lit(0.5)).cast("long"),
        )
        per, total = _global_ranks(
            per,
            [
                ("recency_days", True, "__rk_r"),
                ("frequency", False, "__rk_f"),
                ("__mon_q", False, "__rk_m"),
            ],
            tiebreak=["key"],
            approx=approx,
        )
        per = per.drop("__mon_q")
        per = (
            per.withColumn("r_score", _ntile_from_rank(F.col("__rk_r"), total, n))
            .withColumn("f_score", _ntile_from_rank(F.col("__rk_f"), total, n))
            .withColumn("m_score", _ntile_from_rank(F.col("__rk_m"), total, n))
            .drop("__rk_r", "__rk_f", "__rk_m")
        )
        hi, lo = n - 1, 2  # >= hi: strong; <= lo: weak (classic 5-tile rules)
        seg = (
            F.when(
                (F.col("r_score") >= hi)
                & (F.col("f_score") >= hi)
                & (F.col("m_score") >= hi),
                "champion",
            )
            .when(
                (F.col("r_score") <= lo) & (F.col("f_score") >= hi), "at_risk"
            )
            .when(
                (F.col("r_score") <= lo) & (F.col("f_score") <= lo), "hibernating"
            )
            .when(F.col("f_score") >= hi, "loyal")
            .when(F.col("m_score") >= hi, "big_spender")
            .when(F.col("r_score") >= hi, "recent")
            .otherwise("regular")
        )
        out = per.select(
            "key", "recency_days", "frequency", "monetary",
            "r_score", "f_score", "m_score", seg.alias("segment"),
        )
        # eager checkpoint: the result stops depending on the
        # per-entity cache, which the scope then releases
        return out.localCheckpoint(eager=True)


def pareto_curve(
    df: DataFrame,
    key: str,
    amount_col: str,
    n_buckets: int = 64,
    approx: bool = False,
) -> DataFrame:
    """Revenue-concentration curve: per entity, its total, global rank
    by total DESC (key ASC tie-break), and the cumulative share of the
    grand total down the ranking — "the top x% of entities hold y% of
    the value".  ``cum_share``/``frac_keys`` are the curve's (y, x).
    As in ``rfm_segments``, the result is eagerly localCheckpoint()ed
    and the per-entity cache released before return.
    """
    # the per-entity table feeds the rank fit action + the final plan
    # twice; as in rfm_segments it is released before return
    with persisted() as keep:
        per = keep(
            df.groupBy(F.col(key).alias("key")).agg(
                F.sum(amount_col).alias("amount")
            )
        )
        # rank on whole cents (see rfm_segments) so engine-order float
        # summation cannot reorder near-equal entities
        per = per.withColumn(
            "__amt_q", F.floor(F.col("amount") * 100 + F.lit(0.5)).cast("long")
        )
        per, total = _global_rank(
            per,
            "__amt_q",
            ["key"],
            descending=True,
            n_buckets=n_buckets,
            sum_col="amount",
            rank_name="rank",
            cum_name="__cum",
            approx=approx,
        )
        per = per.drop("__amt_q")
        grand = per.agg(F.sum("amount").alias("__g"))
        out = (
            per.crossJoin(F.broadcast(grand))
            .select(
                "key",
                "amount",
                F.col("rank").cast("long").alias("rank"),
                (F.col("__cum") / F.col("__g")).alias("cum_share"),
                (F.col("rank") / F.lit(float(total))).alias("frac_keys"),
            )
        )
        return out.localCheckpoint(eager=True)
