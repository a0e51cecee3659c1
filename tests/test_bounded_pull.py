"""Every operator that pulls a bounded table to the driver
(functions.utils.bounded_pull) must give the same result as its
distributed fallback on NULL, NaN, empty and duplicate input: the same
rows, NULL kept apart from NaN, and the same output schema."""

from __future__ import annotations

import math

import pytest

from didtool_spark.operators.dedup import connected_components
from didtool_spark.operators.graph import pagerank
from didtool_spark.operators.scalers import _melt_num, exact_percentiles
from didtool_spark.operators.segments import _global_ranks

NAN = float("nan")
CASES = ("null", "nan", "empty", "dup")

EDGES = {
    "null": [(1.0, 2.0), (2.0, None), (None, 3.0), (3.0, 4.0), (5.0, 6.0),
             (None, None)],
    "nan": [(1.0, 2.0), (2.0, NAN), (NAN, 3.0), (5.0, 6.0), (NAN, 7.0)],
    "empty": [],
    "dup": [(1.0, 2.0), (1.0, 2.0), (2.0, 1.0), (3.0, 4.0), (3.0, 4.0),
            (4.0, 5.0)],
}

# (key, rank value, running-sum value) per entity
PER = {
    "null": [(1, 3.0, None), (2, None, 4.0), (3, 1.0, None),
             (4, None, None), (5, 2.0, 2.5), (6, 3.0, 1.0)],
    "nan": [(1, 3.0, 1.0), (2, NAN, 4.0), (3, None, 2.0), (4, 1.0, NAN),
            (5, NAN, None), (6, 2.0, 3.0)],
    "empty": [],
    "dup": [(1, 2.0, 1.5), (1, 2.0, 1.5), (2, 2.0, 1.5), (3, 1.0, 0.5),
            (3, 1.0, 0.5)],
}

# two features: in "null" b is all-NULL, so it is absent from the result
VALS = {
    "null": [(1.0, None), (None, None), (3.0, None), (2.0, None)],
    "nan": [(1.0, NAN), (NAN, 2.0), (3.0, NAN), (2.0, 1.0)],
    "empty": [],
    "dup": [(1.0, 2.0), (1.0, 2.0), (1.0, 2.0), (4.0, 2.0)],
}


def _canon(x, ndigits):
    if x is None:
        return "NULL"
    if isinstance(x, float):
        return "NaN" if math.isnan(x) else round(x, ndigits)
    return x


def _frame(df, ndigits=12):
    rows = sorted(
        (tuple(_canon(x, ndigits) for x in r) for r in df.collect()), key=repr
    )
    return [(f.name, f.dataType) for f in df.schema.fields], rows


def _cc(spark, case):
    pairs = spark.createDataFrame(EDGES[case], "id_a double, id_b double")
    return _frame(connected_components(pairs))


def _pagerank(spark, case):
    edges = spark.createDataFrame(EDGES[case], "src double, dst double")
    return _frame(pagerank(edges, iterations=6, tol=None))


def _ranks(spark, case):
    per = spark.createDataFrame(PER[case], "key long, v double, amount double")
    got, total = _global_ranks(
        per, [("v", True, "rk")], tiebreak=["key"], sum_col="amount"
    )
    return total, _frame(got, ndigits=9)


def _percentiles(spark, case):
    df = spark.createDataFrame(VALS[case], "a double, b double")
    got = exact_percentiles(_melt_num(df, ["a", "b"]), [0.0, 0.25, 0.5, 0.9, 1.0])
    return {f: [_canon(x, 15) for x in v] for f, v in got.items()}


@pytest.mark.parametrize("case", CASES)
@pytest.mark.parametrize(
    "consumer",
    [_cc, _pagerank, _ranks, _percentiles],
    ids=["connected_components", "pagerank", "global_ranks",
         "exact_percentiles"],
)
def test_driver_pull_matches_distributed(spark, force_distributed, consumer, case):
    drv = consumer(spark, case)
    with force_distributed():
        dist = consumer(spark, case)
    assert drv == dist


def test_parity_cases_keep_nan_and_null_apart(spark):
    # the cases above are only meaningful if NaN survives the driver
    # path as NaN and the NULL-prefix running sum stays NULL
    _, rows = _cc(spark, "nan")
    assert ("NaN", 1.0) in rows
    _, rows = _pagerank(spark, "nan")
    assert any(r[0] == "NaN" for r in rows)
    _, (_, rows) = _ranks(spark, "null")
    # key 1 ranks first (v = 3.0 DESC, key tiebreak) with a NULL amount
    assert (1, 3.0, "NULL", 1, "NULL") in rows
    _, (_, rows) = _ranks(spark, "nan")
    assert (2, "NaN", 4.0, 4, "NaN") in rows
    assert _percentiles(spark, "null") == {"a": [1.0, 1.5, 2.0, 2.8, 3.0]}
