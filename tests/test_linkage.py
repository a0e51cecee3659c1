"""fuzzy_pairs units: typo pairs found inside blocks, blocking misses
documented, hot-block bound drops degenerate keys, multi-pass
block_exprs override."""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from didtool_spark.operators.linkage import fuzzy_pairs, normalize_name

NAMES = [
    (1, "Acme Corp"),
    (2, "Acme Corp."),       # dist 1
    (3, "ACME  corp"),       # normalizes to acme corp -> dist 0 vs 1
    (4, "Acme Group"),       # dist 4 from acme corp -> filtered
    (5, "Zenith Ltd"),
    (6, "Zenith Ltd"),       # exact dup
    (7, "Bcme Corp"),        # first-char typo: SAME length bucket but
                             # different prefix block -> documented miss
]


def _df(spark):
    return spark.createDataFrame(
        pd.DataFrame(NAMES, columns=["id", "name"])
    )


def test_fuzzy_pairs_finds_typos(spark):
    out = fuzzy_pairs(
        _df(spark), "id", "name", max_dist=2, prefix_len=3, length_bucket=4
    ).toPandas()
    pairs = set(zip(out.id_a, out.id_b))
    assert (1, 2) in pairs
    assert (1, 3) in pairs
    assert (5, 6) in pairs
    assert all(a < b for a, b in pairs)
    # distance values are the real edit distances
    d = {(r.id_a, r.id_b): r.dist for r in out.itertuples()}
    assert d[(1, 3)] == 0 and d[(1, 2)] == 1
    # beyond threshold, and cross-block, pairs are absent
    assert (1, 4) not in pairs
    assert (1, 7) not in pairs  # blocking miss: prefix differs


def test_fuzzy_pairs_hot_block_bound(spark):
    rows = [(i, "same prefix name") for i in range(30)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["id", "name"]))
    # every row identical -> one block of 30; cap at 10 drops it all
    out = fuzzy_pairs(
        df, "id", "name", max_dist=2, prefix_len=3, max_block=10
    ).toPandas()
    assert len(out) == 0
    out2 = fuzzy_pairs(
        df, "id", "name", max_dist=2, prefix_len=3, max_block=100
    ).toPandas()
    assert len(out2) == 30 * 29 / 2


def test_fuzzy_pairs_custom_blocking(spark):
    # block on length only: the first-char typo pair becomes reachable
    out = fuzzy_pairs(
        _df(spark), "id", "name", max_dist=2,
        block_exprs=[F.length(normalize_name("name"))],
    ).toPandas()
    pairs = set(zip(out.id_a, out.id_b))
    assert (1, 7) in pairs


def test_entity_resolution_composition(spark):
    """fuzzy_pairs -> connected_components -> golden record: typo
    variants collapse to one entity with the min-id canonical name;
    untouched records stay singletons."""
    import pandas as pd

    from didtool_spark.operators.dedup import connected_components

    rows = [
        (1, "Acme Corp"), (2, "Acme Corp."), (3, "ACME  corp"),
        (4, "Zenith Ltd"), (5, "Wholly Different Name"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["id", "name"]))
    pairs = fuzzy_pairs(
        df, "id", "name", max_dist=2, prefix_len=3
    ).select("id_a", "id_b")
    cc = connected_components(pairs)
    ent = (
        df.join(cc, df["id"] == cc["id"], "left")
        .select(
            F.coalesce(F.col("component"), df["id"]).alias("e"),
            df["id"].alias("m"), "name",
        )
    )
    got = (
        ent.groupBy("e")
        .agg(F.count(F.lit(1)).alias("n"), F.min_by("name", "m").alias("c"))
        .toPandas()
        .set_index("e")
        .sort_index()
    )
    assert got.loc[1, "n"] == 3 and got.loc[1, "c"] == "Acme Corp"
    assert got.loc[4, "n"] == 1 and got.loc[5, "n"] == 1


def test_fuzzy_pairs_length_boundary_pair_found(spark):
    """A true near-dup pair whose lengths straddle a bucket boundary
    must still be compared (double-emission blocking)."""
    rows = [(1, "abcdefg"), (2, "abcdefgh")]  # len 7 (bucket 1) / 8 (bucket 2)
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["id", "name"]))
    out = fuzzy_pairs(
        df, "id", "name", max_dist=2, prefix_len=3, length_bucket=4
    ).toPandas()
    assert set(zip(out.id_a, out.id_b)) == {(1, 2)}
    assert out.dist.iloc[0] == 1
    # and no duplicate emission of a same-bucket pair
    rows2 = [(1, "abcd"), (2, "abce")]
    df2 = spark.createDataFrame(pd.DataFrame(rows2, columns=["id", "name"]))
    out2 = fuzzy_pairs(
        df2, "id", "name", max_dist=2, prefix_len=3, length_bucket=4
    ).toPandas()
    assert len(out2) == 1


def test_fuzzy_pairs_rejects_narrow_length_bucket(spark):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        fuzzy_pairs(
            _df(spark), "id", "name", max_dist=4, length_bucket=2
        )


def _arrow_vs_jvm(spark, cases, ks):
    """The Arrow kernel at each threshold k vs ``F.levenshtein(a, b, k)``
    on (a, b) string pairs: the exact distance when it is <= k, else
    -1, and NULL in -> NULL out."""
    from didtool_spark.operators.linkage import _levenshtein_arrow_udf

    df = spark.createDataFrame(
        pd.DataFrame(cases, columns=["a", "b"]).astype(object),
        "a string, b string",
    )
    got = df.select(
        "a", "b",
        *[_levenshtein_arrow_udf(k)("a", "b").alias(f"k{k}") for k in ks],
        *[F.levenshtein("a", "b", k).alias(f"j{k}") for k in ks],
    ).toPandas()
    for _, r in got.iterrows():
        for k in ks:
            arrow, jvm = r[f"k{k}"], r[f"j{k}"]
            assert (pd.isna(arrow) and pd.isna(jvm)) or arrow == jvm, (
                r["a"], r["b"], k, arrow, jvm)


def test_levenshtein_arrow_matches_jvm(spark):
    # adversarial strings: unicode, empty, equal, insert/delete-heavy,
    # and long-vs-short pairs more than 2k+1 code points apart in both
    # orders (outside the band); k = 64 is the exact distance, since
    # no case is longer than 64 code points
    cases = [
        ("", ""), ("", "abc"), ("abc", ""), ("abc", "abc"),
        ("kitten", "sitting"), ("flaw", "lawn"),
        ("intention", "execution"), ("a", "b"),
        ("ab", "ba"), ("abcdefghij", "jihgfedcba"),
        ("naïve café", "naive cafe"), ("héllo wörld", "hello world"),
        ("日本語テキスト", "日本語のテキスト"), ("😀😃😄", "😀😄"),
        ("customer#000000001", "customer#000000101"),
        ("x" * 40, "x" * 39 + "y"), (None, "abc"), ("abc", None),
        (None, None),
        ("abcdefghijklmnop", "ab"), ("ab", "abcdefghijklmnop"),
        ("x" * 16, "xy"), ("yx", "x" * 16), ("😀" * 16, "😀😃"),
        ("", "x" * 16), ("x" * 64, "y"),
    ]
    _arrow_vs_jvm(spark, cases, [0, 1, 2, 3, 64])


_UNI = st.one_of(
    st.none(),
    # a small alphabet (ASCII, Latin-1, CJK, astral) so many pairs
    # fall inside the band, and arbitrary unicode
    st.text(alphabet="ab é日😀𝔸", max_size=12),
    st.text(max_size=8),
)


@settings(max_examples=20, deadline=None)
@given(
    cases=st.lists(st.tuples(_UNI, _UNI), min_size=1, max_size=40),
    k=st.sampled_from([0, 1, 2, 3, 64]),
)
def test_levenshtein_arrow_matches_jvm_fuzz(spark, cases, k):
    _arrow_vs_jvm(spark, cases, [k])


def test_fuzzy_pairs_arrow_matches_expr(spark):
    # both compute paths must emit the identical pair set + distances
    import pandas as pd

    from didtool_spark.operators.linkage import fuzzy_pairs

    names = [
        (i, n)
        for i, n in enumerate(
            ["acme corp", "acme  corp", "acme cord", "acme co",
             "beta llc", "beta lld", "beta llc ", "gamma inc",
             "gamma 1nc", "delta gmbh", "delta gmb", "delta gmbhh"]
        )
    ]
    df = spark.createDataFrame(pd.DataFrame(names, columns=["id", "name"]))
    kw = dict(max_dist=2, prefix_len=4, length_bucket=4)
    a = fuzzy_pairs(df, "id", "name", compute="arrow", **kw).toPandas()
    e = fuzzy_pairs(df, "id", "name", compute="expr", **kw).toPandas()
    key = ["id_a", "id_b"]
    a = a.sort_values(key).reset_index(drop=True)
    e = e.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, e)


def test_fuzzy_pairs_long_outlier_string(spark):
    # one outlier far above the Arrow kernel's length bound shares a
    # block (and so a batch) with short names: its pairs go to the JVM
    # form instead of padding every row of the batch to 2000+ code
    # points (a length^2 = 4M-step recurrence), and the pair set still
    # equals compute='expr'
    import pandas as pd

    from didtool_spark.operators.linkage import _ARROW_MAX_LEN, fuzzy_pairs

    long_a = "acme " + "x" * 2000
    long_b = "acme " + "x" * 1999 + "y"
    assert len(long_a) > _ARROW_MAX_LEN
    names = [(0, "acme corp"), (1, "acme corq"), (2, long_a), (3, long_b),
             (4, "acme co")]
    df = spark.createDataFrame(pd.DataFrame(names, columns=["id", "name"]))
    kw = dict(max_dist=2, prefix_len=4, length_bucket=None)
    a = fuzzy_pairs(df, "id", "name", compute="arrow", **kw).toPandas()
    e = fuzzy_pairs(df, "id", "name", compute="expr", **kw).toPandas()
    key = ["id_a", "id_b"]
    a = a.sort_values(key).reset_index(drop=True)
    e = e.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, e)
    got = set(zip(a["id_a"], a["id_b"], a["dist"]))
    assert {(0, 1, 1), (2, 3, 1), (0, 4, 2)} <= got
