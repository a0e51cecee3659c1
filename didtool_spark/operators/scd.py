"""Slowly-changing-dimension builders for feature-store inputs.

Point-in-time feature joins (temporal.asof_join) consume DIMENSION
tables with validity intervals.  Real pipelines rarely get those
ready-made — they get an append-only change stream (CDC / event log)
and must build the dimension themselves.  Two builders:

- ``scd2_compress``: collapse consecutive runs of identical attribute
  values per key into SCD type-2 validity intervals
  ``[valid_from, valid_to)`` (``valid_to`` NULL for the current run).
  Gaps-and-islands: a run starts where any tracked column differs
  (null-safely) from its per-key predecessor; the run id is the
  running count of starts; one groupBy collapses each run.
- ``snapshot_latest``: CDC snapshot compaction — the latest record
  per key under a total order, via ``max_by`` over a struct (ONE
  map-side-combined aggregation; no per-key sort, no row_number
  window), optionally dropping keys whose latest record is a delete
  tombstone.

Scale design: ``scd2_compress(strategy="window")`` costs one hash
exchange on ``keys``; rows within a run are contiguous in the sorted
partition, so the groupBy's partial aggregation collapses them before
the second (tiny) shuffle.  A key whose history is too hot for one
task takes ``strategy="bucketed"``: change flags come from the
bucketed lag (temporal._shift_step in a temporal._bucketed_scan) and
run ids are re-based per bucket by a temporal._carry_in of flag
counts.  Output is strategy-independent (equivalence units + fuzz in
tests/test_scd.py).

Reference parity: didtool has no dimension builder (its pandas frames
are point-in-time by construction); this generalizes its
fit-on-train-only discipline (reference model.py:167-171) to mutable
attributes.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["scd2_compress", "snapshot_latest"]


def _lst(x: Sequence[str] | str) -> list[str]:
    return [x] if isinstance(x, str) else list(x)


def _change_flag(value_cols: list[str], lag_of) -> Column:
    """TRUE where any tracked column differs null-safely from its
    predecessor, or where there is no predecessor (run start).
    ``lag_of(c)`` must yield the per-key previous value of column c,
    with ``lag_of(None)`` a marker that is NULL only on the first row."""
    first = lag_of(None).isNull()
    diff = F.lit(False)
    for c in value_cols:
        diff = diff | ~F.col(c).eqNullSafe(lag_of(c))
    return first | diff


def scd2_compress(
    df: DataFrame,
    value_cols: Sequence[str] | str,
    keys: Sequence[str] | str = "conv_id",
    order: Sequence[str] | str = ("ts", "event_id"),
    ts_col: str = "ts",
    strategy: str = "window",
    bucket_seconds: int = 604800,
) -> DataFrame:
    """Collapse the per-key change stream into SCD type-2 rows.

    Output: ``keys + value_cols + (valid_from, valid_to, n_rows)``
    where ``valid_from`` is the first ``ts_col`` of the run,
    ``valid_to`` the next run's ``valid_from`` (NULL for the last =
    current run) and ``n_rows`` the number of source rows collapsed.
    Intervals are half-open ``[valid_from, valid_to)`` — the shape
    temporal.asof_join's backward lookup expects.

    ``order`` must be a per-key total order (ties would make "previous
    value" ambiguous); ``ts_col`` must be one of its columns or
    consistent with it.
    """
    keys_l, vals_l, order_l = _lst(keys), _lst(value_cols), _lst(order)

    if strategy == "window":
        w = Window.partitionBy(*keys_l).orderBy(*order_l)
        marker = F.lag(F.lit(1)).over(w)

        def lag_of(c):
            return marker if c is None else F.lag(F.col(c)).over(w)

        flagged = df.withColumn(
            "__chg", _change_flag(vals_l, lag_of).cast("int")
        ).withColumn(
            "__run",
            F.sum("__chg").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    elif strategy == "bucketed":
        flagged = _bucketed_flags(
            df, vals_l, keys_l, order_l, ts_col, int(bucket_seconds)
        )
    else:
        raise ValueError(f"unknown scd2_compress strategy {strategy!r}")

    runs = flagged.groupBy(*keys_l, "__run").agg(
        F.min(F.struct(*order_l, F.col(ts_col).alias("__vf"))).alias("__first"),
        # value_cols are constant within a run; min is a deterministic pick
        *[F.min(c).alias(c) for c in vals_l],
        F.count(F.lit(1)).alias("n_rows"),
    )
    wnext = Window.partitionBy(*keys_l).orderBy("__run")
    return (
        runs.withColumn("valid_from", F.col("__first.__vf"))
        .withColumn("valid_to", F.lead("valid_from").over(wnext))
        .select(*keys_l, *vals_l, "valid_from", "valid_to", "n_rows")
    )


def _bucketed_flags(
    df: DataFrame,
    vals_l: list[str],
    keys_l: list[str],
    order_l: list[str],
    ts_col: str,
    bw: int,
) -> DataFrame:
    """Hot-key-safe change flags + global run ids.

    Per-key lags come from temporal._shift_step (in-bucket F.lag, tail
    stitched across the previous NON-EMPTY buckets — so empty buckets
    cannot orphan a run start), with a lagged constant
    as the is-first-row marker.  Global run numbering is the in-bucket
    cumulative flag count re-based by the flags of earlier buckets.
    """
    from .temporal import (
        _bucketed_scan, _bucketize, _carry_in, _keyed, _shift_step, _sum_before,
        epoch_seconds,
    )

    shifted = _bucketed_scan(
        df.withColumn("__one", F.lit(1)), keys_l, order_l, ts_col, bw,
        [_shift_step(["__one", *vals_l], [1])],
    )

    def lag_of(c):
        return F.col("__one_lag1") if c is None else F.col(f"{c}_lag1")

    flagged = (
        _keyed(shifted, keys_l)
        .withColumn("__chg", _change_flag(vals_l, lag_of).cast("int"))
        .withColumn("__bucket", _bucketize(epoch_seconds(ts_col), bw))
        .drop("__one", "__one_lag1", *[f"{c}_lag1" for c in vals_l])
    )
    wb = Window.partitionBy("__kk", "__bucket").orderBy(*order_l)
    flagged = flagged.withColumn(
        "__local",
        F.sum("__chg").over(
            wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    flagged = _carry_in(
        flagged, [F.sum("__chg").alias("__nb")],
        lambda w: [_sum_before("__nb", w).alias("__off")],
    )
    return flagged.withColumn("__run", F.col("__off") + F.col("__local")).drop(
        "__kk", "__bucket", "__local", "__off"
    )


def snapshot_latest(
    df: DataFrame,
    keys: Sequence[str] | str,
    order: Sequence[str] | str = ("ts", "event_id"),
    delete_col: str | None = None,
) -> DataFrame:
    """CDC snapshot compaction: the latest record per ``keys`` under
    the total order ``order`` — one ``max_by(struct(*), struct(order))``
    aggregation.  The map-side combined partial keeps the shuffle at
    one row per key per mapper; a row_number window would ship every
    key's FULL history through the exchange and sort it by (keys +
    order).  (Catalyst plans struct-ordered max_by as SortAggregate,
    but that sort is on the grouping keys only — never on the history
    order — and runs over the already-compressed rows after the
    exchange; asserted in tests/test_plan_shape.py.)  With
    ``delete_col`` (boolean), keys whose latest record is a tombstone
    are dropped — upsert+delete merge semantics.  Column order of the
    input is preserved.
    """
    keys_l, order_l = _lst(keys), _lst(order)
    cols = df.columns
    out = (
        df.groupBy(*keys_l)
        .agg(
            F.max_by(
                F.struct(*cols), F.struct(*[F.col(c) for c in order_l])
            ).alias("__r")
        )
        .select(*[F.col(f"__r.{c}").alias(c) for c in cols])
    )
    if delete_col is not None:
        out = out.where(~F.coalesce(F.col(delete_col), F.lit(False)))
    return out
