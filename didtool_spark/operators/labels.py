"""Forward-looking (future-window) label construction.

The point-in-time engine's feature side (temporal.py) only ever looks
BACKWARD from each anchor row; supervised training also needs the label
side, which looks strictly FORWARD: "did X happen within the next H
seconds after this turn?".  Keeping the two directions in separate,
single-purpose operators is what makes the zero-temporal-leakage audit
(plans/audit.py) checkable — a feature column can never silently read a
future frame, and a label column always does.

Reference parity: didtool has no label-window operator (its pipelines
assume a precomputed ``target`` column, e.g. transform.py fit(X, y)
signatures); this module supplies the missing forward half that a
point-in-time training-set build over event streams requires.

Scale design: the window strategy is one shuffle on ``keys`` with a
rangeBetween frame on unix seconds (each key = one task — fine for
conversation-sized keys).  ``strategy="bucketed"`` bounds task size by
time bucket for hot keys: temporal._range_frame with ``forward=True``
copies every row as context into the PREVIOUS bucket (width >= the
horizon), so the forward frame is complete inside each bucket.  Results
are exactly equal to the window strategy.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .temporal import _AGG, _range_frame, epoch_seconds

__all__ = ["with_future_label", "with_time_to_event"]


def with_future_label(
    df: DataFrame,
    specs: Iterable[tuple[str, str, int]],
    keys: Sequence[str] | str = "conv_id",
    ts_col: str = "ts",
    include_current: bool = False,
    fill=None,
    strategy: str = "window",
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Attach forward-window label columns.

    specs: (col, agg, horizon_seconds) -> column
    ``{col}_{agg}_next{h}s`` aggregating ``col`` over rows of the same
    ``keys`` whose ``ts_col`` lies in (row_ts, row_ts + h] — strictly
    future by default (``include_current=False``), so the label never
    reads the anchor row itself and the feature/label frames are
    disjoint.  ``fill`` (e.g. 0) replaces the NULL an empty future frame
    produces — the usual binary-label convention "no event in horizon".

    agg: any of sum/avg/min/max/count/stddev.
    """
    lower = 0 if include_current else 1
    keys_l = [keys] if isinstance(keys, str) else list(keys)
    specs_l = [(c, a, int(h)) for c, a, h in specs]
    if not specs_l:
        return df

    if strategy not in ("window", "bucketed"):
        raise ValueError(f"unknown with_future_label strategy {strategy!r}")

    def add(frame: DataFrame, base: Window) -> DataFrame:
        for col, agg, h in specs_l:
            expr: Column = _AGG[agg](col).over(base.rangeBetween(lower, h))
            if fill is not None:
                expr = F.coalesce(expr, F.lit(fill))
            frame = frame.withColumn(f"{col}_{agg}_next{h}s", expr)
        return frame

    return _range_frame(
        df, keys_l, epoch_seconds(ts_col), max(h for _, _, h in specs_l),
        bucket_seconds if strategy == "bucketed" else None, add, forward=True,
    )


def with_time_to_event(
    df: DataFrame,
    event: Column,
    horizon_s: int,
    keys: Sequence[str] | str = "conv_id",
    ts_col: str = "ts",
    name: str = "tte",
    strategy: str = "window",
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Survival-style time-to-event labels: for each anchor row, the
    seconds until the FIRST strictly-future row of the same ``keys``
    where ``event`` holds, right-censored at ``horizon_s``.

    Adds ``{name}_s`` (NULL when no qualifying event lies in
    (row_ts, row_ts + horizon] — the censored case) and
    ``{name}_observed`` (the censoring indicator survival losses need;
    a censored row's true time-to-event is only known to exceed the
    horizon, which is information a plain binary future-label throws
    away).  Like ``with_future_label``, the frame is strictly future —
    rows sharing the anchor's exact timestamp are excluded — so this
    is a LABEL column: keep it out of the feature set the zero-leakage
    audit covers.

    Scale design matches with_future_label: a conditional-min
    rangeBetween frame, per key or (``strategy="bucketed"``) per time
    bucket, with identical output.
    """
    keys_l = [keys] if isinstance(keys, str) else list(keys)
    h = int(horizon_s)
    if strategy not in ("window", "bucketed"):
        raise ValueError(f"unknown with_time_to_event strategy {strategy!r}")

    def attach(frame: DataFrame, base: Window) -> DataFrame:
        first_ev = F.min(F.when(event, F.col("__t"))).over(base.rangeBetween(1, h))
        return frame.withColumn(
            f"{name}_s", (first_ev - F.col("__t")).cast("long")
        ).withColumn(f"{name}_observed", first_ev.isNotNull())

    return _range_frame(
        df, keys_l, epoch_seconds(ts_col), h,
        bucket_seconds if strategy == "bucketed" else None, attach, forward=True,
    )
