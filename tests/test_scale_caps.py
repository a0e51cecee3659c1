"""Driver-memory caps and vocabulary-size plan switching.

Two scale contracts, tested on small data:
1. every fit that collects grouped state goes through the one capped
   fit pull (``binning.collect_capped``, limit(cap+1)) and falls back to
   a bounded plan above the cap: ``binning.micro_bin_rows`` (percentile
   micro-bins) for continuous values, ``binning.top_k_rows`` (top-k by
   frequency) for categorical ones. The ``tiny_driver_cap`` fixture
   patches ``binning.MAX_DISTINCT``/``PRE_BINS``, and that one patch
   reaches every fit; the default call is the exact reference;
2. transforms switch from a literal map expression to a broadcast-hash
   join above MAP_EXPR_MAX, so a 10^5-entry vocabulary never inlines
   into codegen.
"""

import math
import random

import pytest
from pyspark.sql import functions as F

from didtool_spark.functions.exprs import with_lookup
from didtool_spark.operators import binning, metrics
from didtool_spark.operators.binning import (
    chi_edges,
    dt_edges,
    lgb_edges,
    quantile_edges,
    _value_class_counts,
)
from didtool_spark.operators.category import (
    CategoryTransformer,
    ListTransformer,
    OneHotTransformer,
)
from didtool_spark.operators.metrics import _iv_discrete, iv_all, psi, psi_all
from didtool_spark.operators.woe import (
    LabelEncoder,
    SingleWOETransformer,
    WOEEncoder,
    WOETransformer,
)


def plan_str(df) -> str:
    from io import StringIO
    import contextlib

    buf = StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def wide_df(spark):
    """2000 distinct continuous values + a label correlated with x."""
    random.seed(7)
    rows = [
        (i, i / 1000.0 + random.random() * 0.0001, 1 if i > 1200 and random.random() < 0.8 else 0)
        for i in range(2000)
    ]
    return spark.createDataFrame(rows, ["id", "x", "y"]).repartition(4)


def test_value_class_counts_capped_matches_shape(wide_df, tiny_driver_cap):
    v, c0, c1 = _value_class_counts(wide_df, "x", "y")
    with tiny_driver_cap(200, pre_bins=64):
        vq, c0q, c1q = _value_class_counts(wide_df, "x", "y")
    # bounded driver state, exact mass, representatives from the data
    assert len(vq) <= 64
    assert (c0q.sum(), c1q.sum()) == (c0.sum(), c1.sum())
    assert set(vq) <= set(v)
    assert list(vq) == sorted(vq)


def test_dt_edges_capped_close_to_exact(wide_df, tiny_driver_cap):
    exact = dt_edges(wide_df, "x", "y", n_bins=4)
    with tiny_driver_cap(100, pre_bins=256):
        capped = dt_edges(wide_df, "x", "y", n_bins=4)
    assert len(capped) == len(exact)
    # the dominant split (label flips at x ~= 1.2) survives quantization
    assert any(abs(e - 1.2) < 0.05 for e in capped[1:-1])


def test_quantile_edges_capped_close_to_exact(wide_df, tiny_driver_cap):
    exact = quantile_edges(wide_df, "x", n_bins=5)
    with tiny_driver_cap(100, pre_bins=500):
        capped = quantile_edges(wide_df, "x", n_bins=5)
    assert len(capped) == len(exact)
    for a, b in zip(exact[1:-1], capped[1:-1]):
        assert abs(a - b) < 0.02


def test_single_woe_continuous_capped(wide_df, tiny_driver_cap):
    t = SingleWOETransformer(cut_method="dt", n_bins=4)
    t.fit(wide_df, "x", "y")
    tq = SingleWOETransformer(cut_method="dt", n_bins=4)
    with tiny_driver_cap(100, pre_bins=256):
        tq.fit(wide_df, "x", "y")
    # quantized edges land within one micro-bin of the exact ones; IV is
    # edge-sensitive around the sharp label flip, so compare edges
    for a, b in zip(t.bins[1:-1], tq.bins[1:-1]):
        assert abs(a - b) < 0.02
    assert abs(t.var_iv - tq.var_iv) / t.var_iv < 0.25
    out = tq.transform(wide_df, "x").select("x_woe").collect()
    assert all(math.isfinite(r[0]) for r in out)


def test_single_woe_categorical_top_k(spark, tiny_driver_cap):
    # 10 categories; force top-5 keep — tail hits the unknown path
    rows = []
    random.seed(3)
    for i in range(1000):
        cat = f"c{i % 10}" if i % 10 < 5 or i < 900 else f"rare{i % 10}"
        rows.append((cat, 1 if (i % 10) >= 5 and random.random() < 0.7 else 0))
    df = spark.createDataFrame(rows, ["x", "y"])
    t = SingleWOETransformer(is_continuous=False, cut_method="quantile", n_bins=4)
    with tiny_driver_cap(5):
        t.fit(df, "x", "y")
    assert len(t.value2code) <= 5
    out = t.transform(df, "x", default=99.0)
    assert out.where(F.col("x_woe").isNull()).count() == 0


def test_woe_encoder_capped_totals_exact(spark, tiny_driver_cap):
    rows = [(f"v{i % 20}", i % 3 == 0) for i in range(600)] + [(None, True)] * 30
    df = spark.createDataFrame(rows, ["x", "y"])
    full = WOEEncoder().fit(df, "x", "y")
    with tiny_driver_cap(10):
        capped = WOEEncoder().fit(df, "x", "y")
    # kept keys carry identical woe (totals exact, not truncated)
    for k, wv in capped.woe_map.items():
        assert k in full.woe_map
        assert abs(full.woe_map[k] - wv) < 1e-12
    assert WOEEncoder.NA in capped.woe_map


def test_label_encoder_cap_raises(spark, tiny_driver_cap):
    df = spark.range(500).select(F.concat(F.lit("k"), F.col("id")).alias("x"))
    with tiny_driver_cap(100), pytest.raises(ValueError, match="distinct"):
        LabelEncoder().fit(df, "x")


def test_label_encoder_big_vocab_join_path(spark):
    n = 1000  # > MAP_EXPR_MAX=256 -> broadcast join, not literal map
    df = spark.range(n).select(
        "id", F.format_string("key%04d", F.col("id")).alias("x")
    )
    enc = LabelEncoder().fit(df, "x")
    out = enc.transform(df, "x")
    assert "BroadcastHashJoin" in plan_str(out)
    got = {r["x"]: r["x_code"] for r in out.collect()}
    assert got["key0000"] == 0 and got["key0999"] == n - 1
    unknown = enc.transform(
        spark.createDataFrame([("nope",)], ["x"]), "x"
    ).first()["x_code"]
    assert unknown == -1


def test_woe_encoder_big_vocab_join_matches_literal(spark):
    rows = [(f"k{i:04d}", i % 2 == 0) for i in range(800) for _ in (0, 1)]
    df = spark.createDataFrame(rows, ["x", "y"])
    enc = WOEEncoder().fit(df, "x", "y")
    assert len(enc.woe_map) > 256
    out = enc.transform(df, "x")
    assert "BroadcastHashJoin" in plan_str(out)
    got = {r["x"]: r["x_woe"] for r in out.distinct().collect()}
    for k, v in enc.woe_map.items():
        assert abs(got[k] - v) < 1e-12


def test_with_lookup_huge_vocab_runs(spark):
    # the regression the threshold exists for: a 10^5-entry vocabulary
    # would previously codegen a megabyte-scale literal expression
    m = {f"t{i}": float(i) for i in range(100_000)}
    df = spark.range(2000).select(
        F.concat(F.lit("t"), (F.col("id") * 7 % 100_000)).alias("x")
    )
    out = with_lookup(df, "x", m, "v", default=-1.0)
    s = out.agg(F.sum("v")).first()[0]
    assert s == sum((i * 7) % 100_000 for i in range(2000))


def test_category_transformer_capped_top_k(spark, tiny_driver_cap):
    rows = [(f"c{i % 50}",) for i in range(2000)]
    df = spark.createDataFrame(rows, ["x"])
    full = CategoryTransformer().fit(df, ["x"], max_bins=5)
    with tiny_driver_cap(20):
        capped = CategoryTransformer().fit(df, ["x"], max_bins=5)
    assert full.map_encoder == capped.map_encoder
    with tiny_driver_cap(20), pytest.raises(ValueError, match="max_bins"):
        CategoryTransformer().fit(df, ["x"])


def test_list_transformer_capped(spark, tiny_driver_cap):
    rows = [(",".join(f"t{(i + j) % 40}" for j in range(3)),) for i in range(400)]
    df = spark.createDataFrame(rows, ["x"])
    full = ListTransformer().fit(df, ["x"], max_bins=8)
    with tiny_driver_cap(10):
        capped = ListTransformer().fit(df, ["x"], max_bins=8)
    assert full.map_encoder == capped.map_encoder


def test_iv_discrete_distributed_matches_driver(spark, tiny_driver_cap):
    rows = [(f"g{i % 30}", i % 4 == 0) for i in range(3000)]
    df = spark.createDataFrame(rows, ["x", "y"])
    exact = _iv_discrete(df, F.col("x"), "y")
    with tiny_driver_cap(10):
        dist = _iv_discrete(df, F.col("x"), "y")
    assert abs(exact - dist) < 1e-9


def test_psi_categorical_distributed(spark, tiny_driver_cap):
    rows_e = [(f"g{i % 30}",) for i in range(3000)]
    rows_a = [(f"g{(i * 3) % 35}",) for i in range(2500)]
    e = spark.createDataFrame(rows_e, ["x"])
    a = spark.createDataFrame(rows_a, ["x"])
    exact = psi(e, a, "x", is_continuous=False)
    with tiny_driver_cap(10):
        dist = psi(e, a, "x", is_continuous=False)
    assert abs(exact - dist) < 1e-9


# ------------------------------------------- one patch reaches every fit

K = 5  # patched driver cap: every column of reach_df has more distinct values


@pytest.fixture(scope="module")
def reach_df(spark):
    rows = [
        (i / 7.0, f"c{i % 20}", f"t{i % 20},t{(i + 1) % 20}", i % 2, int(i % 3 == 0))
        for i in range(200)
    ]
    return spark.createDataFrame(rows, "x double, c string, t string, month int, y int")


def _called(monkeypatch, mod, name, fit) -> bool:
    """True when ``fit()`` calls ``mod.<name>``."""
    calls = []
    real = getattr(mod, name)
    monkeypatch.setattr(mod, name, lambda *a, **kw: calls.append(1) or real(*a, **kw))
    fit()
    return bool(calls)


def _raises(fit) -> bool:
    try:
        fit()
    except ValueError:
        return True
    return False


# each fit -> True when it took its over-cap path: the per-feature
# fallback of a melted fit, the micro-bin pass of a continuous fit, <= K
# kept values of a categorical fit, or the raise of a fit that must keep
# every value
_REACH = {
    "iv_all": lambda df, mp: _called(
        mp, metrics, "_iv_all_per_feature",
        lambda: iv_all(df, ["x", "c"], "y", categorical_cols=["c"]),
    ),
    "psi_all": lambda df, mp: _called(
        mp, metrics, "_psi_all_per_pair",
        lambda: psi_all(df, ["x", "c"], "month", categorical_cols=["c"]),
    ),
    "SingleWOETransformer": lambda df, mp: len(
        SingleWOETransformer(is_continuous=False).fit(df, "c", "y").value2code
    ) <= K,
    "WOETransformer.fit": lambda df, mp: all(
        len(t.value2code) <= K
        for t in WOETransformer(features=["c"]).fit(df, "y").transformers.values()
    ),
    "WOEEncoder.fit": lambda df, mp: len(WOEEncoder().fit(df, "c", "y").woe_map) <= K,
    "LabelEncoder.fit": lambda df, mp: _raises(lambda: LabelEncoder().fit(df, "c")),
    "quantile_edges": lambda df, mp: _called(
        mp, binning, "micro_bin_expr", lambda: quantile_edges(df, "x")
    ),
    "dt_edges": lambda df, mp: _called(
        mp, binning, "micro_bin_expr", lambda: dt_edges(df, "x", "y")
    ),
    "lgb_edges": lambda df, mp: _called(
        mp, binning, "micro_bin_expr", lambda: lgb_edges(df, "x", "y")
    ),
    "chi_edges": lambda df, mp: _called(
        mp, binning, "micro_bin_expr", lambda: chi_edges(df, "x", "y")
    ),
    "CategoryTransformer.fit": lambda df, mp: _raises(
        lambda: CategoryTransformer().fit(df, ["c"])
    ),
    "OneHotTransformer.fit": lambda df, mp: _raises(
        lambda: OneHotTransformer().fit(df, ["c"])
    ),
    "ListTransformer.fit": lambda df, mp: _raises(
        lambda: ListTransformer().fit(df, ["t"])
    ),
}


@pytest.mark.parametrize("fit", list(_REACH))
def test_one_cap_patch_reaches_every_fit(reach_df, tiny_driver_cap, monkeypatch, fit):
    with tiny_driver_cap(K, pre_bins=4):
        assert _REACH[fit](reach_df, monkeypatch), f"{fit} kept its exact path"


# --------------------------------------------------- single-pass melts

def _jobs_for_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_woe_transformer_single_pass_matches_per_feature(spark):
    from didtool_spark.operators.woe import WOETransformer

    rows = [
        (f"a{i % 4}", f"b{i % 7}", float(i % 5), 1 if i % 3 == 0 else 0)
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "f1 string, f2 string, f3 double, y int")
    one = WOETransformer(cut_method="quantile", n_bins=4,
                         features=["f1", "f2", "f3"]).fit(df, "y")
    per = WOETransformer(cut_method="quantile", n_bins=4,
                         features=["f1", "f2", "f3"])
    per._fit_per_feature(df, "y", ["f1", "f2", "f3"])
    for f_ in ["f1", "f2", "f3"]:
        assert one.transformers[f_].bins == per.transformers[f_].bins
        assert one.transformers[f_].woe_map == per.transformers[f_].woe_map
        assert one.transformers[f_].value2code == per.transformers[f_].value2code
    a = one.transform(df).orderBy("y", "f1", "f2", "f3").collect()
    b = per.transform(df).orderBy("y", "f1", "f2", "f3").collect()
    assert a == b


def test_woe_transformer_single_pass_is_one_scan(spark):
    from didtool_spark.operators.woe import WOETransformer

    rows = [(f"a{i % 4}", f"b{i % 7}", str(i % 5), i % 3 == 0) for i in range(300)]
    df = spark.createDataFrame(rows, "f1 string, f2 string, f3 string, y boolean")
    n_one = _jobs_for_group(
        spark, "melt1",
        lambda: WOETransformer(features=["f1", "f2", "f3"]).fit(df, "y"),
    )
    def per_feature():
        # sequential per-feature fits (job groups are thread-local, so
        # the threadpool fallback can't be counted directly)
        for f_ in ["f1", "f2", "f3"]:
            SingleWOETransformer(is_continuous=False).fit(df, f_, "y")

    n_per = _jobs_for_group(spark, "perfeat1", per_feature)
    # melt: one aggregation (limit-collect may step a couple of jobs over
    # the SAME shuffle output); per-feature: >= one job per feature
    assert n_one < n_per
    assert n_one <= 3


def test_iv_all_single_pass_matches_per_feature(spark):
    import numpy as np
    from didtool_spark.operators.metrics import _iv_all_per_feature, iv_all

    rng = np.random.RandomState(2)
    rows = [
        (float(rng.rand()), f"c{i % 6}", int(rng.rand() < 0.4))
        for i in range(800)
    ]
    df = spark.createDataFrame(rows, "x1 double, x2 string, y int")
    for method in ["dt", "step", "quantile", "lgb", "chi"]:
        one = iv_all(df, ["x1", "x2"], "y", categorical_cols=["x2"],
                     cut_method=method)
        per = _iv_all_per_feature(df, ["x1", "x2"], "y", {"x2"},
                                  cut_method=method)
        for f_ in ["x1", "x2"]:
            assert abs(one.loc[f_, "iv"] - per.loc[f_, "iv"]) < 1e-9, (
                method, f_, one.loc[f_, "iv"], per.loc[f_, "iv"],
            )


def test_psi_all_single_pass_matches_per_pair(spark):
    import numpy as np
    from didtool_spark.operators.metrics import _psi_all_per_pair, psi_all

    rng = np.random.RandomState(6)
    rows = [
        (int(i % 4), float(rng.rand() + (i % 4) * 0.1), f"c{int(rng.rand() * 5)}")
        for i in range(2000)
    ]
    df = spark.createDataFrame(rows, "month int, x1 double, x2 string")
    one = psi_all(df, ["x1", "x2"], "month", categorical_cols=["x2"], n_bins=5)
    per = _psi_all_per_pair(df, ["x1", "x2"], "month", None, {"x2"}, 5)
    for f_ in ["x1", "x2"]:
        for g in [1, 2, 3]:
            assert abs(one.loc[f_, g] - per.loc[f_, g]) < 1e-12, (f_, g)

    # fixed expected frame
    exp = spark.createDataFrame(
        [(0, float(rng.rand()), f"c{int(rng.rand() * 5)}") for _ in range(900)],
        "month int, x1 double, x2 string",
    )
    one2 = psi_all(df, ["x1", "x2"], "month", expected=exp, categorical_cols=["x2"], n_bins=5)
    per2 = _psi_all_per_pair(df, ["x1", "x2"], "month", exp, {"x2"}, 5)
    for f_ in ["x1", "x2"]:
        for g in [0, 1, 2, 3]:
            assert abs(one2.loc[f_, g] - per2.loc[f_, g]) < 1e-12, (f_, g)


# ------------------------------------------------ hypothesis: lookup paths

from hypothesis import HealthCheck, given, settings, strategies as st

_keys = st.lists(
    st.text(alphabet="abcdefg", min_size=1, max_size=4),
    min_size=1, max_size=12, unique=True,
)


@settings(
    max_examples=15, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(keys=_keys, data=st.data())
def test_with_lookup_literal_equals_join(spark, keys, data):
    """The literal-map and broadcast-join forms of with_lookup are the
    same function: force each path via max_literal and compare."""
    import didtool_spark.functions.exprs as ex

    mapping = {k: float(i) for i, k in enumerate(keys)}
    probe = data.draw(
        st.lists(
            st.one_of(st.sampled_from(keys), st.just("zz"), st.just(None)),
            min_size=1, max_size=20,
        )
    )
    df = spark.createDataFrame([(p,) for p in probe], "x string")
    lit = ex.with_lookup(df, "x", mapping, "v", default=-1.0, max_literal=10**6)
    join = ex.with_lookup(df, "x", mapping, "v", default=-1.0, max_literal=0)
    a = sorted(((r["x"] or "", r["v"]) for r in lit.collect()))
    b = sorted(((r["x"] or "", r["v"]) for r in join.collect()))
    assert a == b


def test_category_transformer_big_vocab_join_path(spark):
    n = 400  # > MAP_EXPR_MAX
    rows = [(f"v{i % n}",) for i in range(n * 3)] + [(None,)]
    df = spark.createDataFrame(rows, "x string")
    ct = CategoryTransformer().fit(df, ["x"])
    assert len(ct.map_encoder["x"]) > 256
    out = ct.transform(df)
    assert "BroadcastHashJoin" in plan_str(out)
    # values: every fitted value maps to its fitted code; NaN -> nan code
    enc = dict(ct.map_encoder["x"])
    others = enc.pop("others")
    nan_code = enc.pop("nan", others)
    pairs = (
        df.withColumn("orig", F.col("x"))
        .transform(lambda d: ct.transform(d.select(F.col("orig").alias("x"), "orig")))
        .select("orig", "x")
        .distinct()
        .collect()
    )
    for r in pairs:
        expect = nan_code if r["orig"] is None else enc.get(r["orig"], others)
        assert r["x"] == expect, (r, expect)


def test_single_woe_categorical_big_vocab_join_path(spark):
    n = 300  # > MAP_EXPR_MAX
    rows = [(f"v{i % n}", i % 2 == 0) for i in range(n * 4)]
    df = spark.createDataFrame(rows, "x string, y boolean")
    t = SingleWOETransformer(is_continuous=False, cut_method="quantile", n_bins=5)
    t.fit(df, "x", "y")
    assert len(t.value2code) == n
    out = t.transform(df, "x")
    assert "BroadcastHashJoin" in plan_str(out)
    got = {r["x"]: r["x_woe"] for r in out.distinct().collect()}
    for v, w in t.value2woe.items():
        assert abs(got[v] - w) < 1e-12
    # unknown -> default / NA-woe semantics
    unk = t.transform(spark.createDataFrame([("zzz",)], ["x"]), "x", default=7.5)
    assert abs(unk.first()["x_woe"] - t.woe_map.get(-1, 7.5)) < 1e-12
