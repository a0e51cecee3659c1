"""BPE trainer/tokenizer: classic-example goldens, the
double-delimiter encoding's equivalence to the greedy symbol loop
across Spark / Python / DuckDB, driver==distributed fit, and the
tokenizer's round trip."""

from collections import Counter

import duckdb
import pytest
from pyspark.sql import functions as F

from didtool_spark.operators import bpe
from didtool_spark.operators.bpe import (
    EOW,
    SEP,
    _merge_tuple,
    apply_merges_expr,
    bpe_tokenize,
    fit_bpe,
    fit_bpe_py,
    seg_init_expr,
    tokens_from_seg_expr,
)


def _encode(symbols):
    return SEP * 2 + (SEP * 2).join(symbols) + SEP * 2


def _py_replace_apply(word, merges):
    s = _encode(list(word) + [EOW])
    for a, b in merges:
        s = s.replace(SEP + a + SEP + SEP + b + SEP, SEP + a + b + SEP)
    return [t for t in s.split(SEP * 2) if t]


def _tuple_apply(word, merges):
    s = tuple(word) + (EOW,)
    for a, b in merges:
        s = _merge_tuple(s, a, b)
    return list(s)


def test_fit_classic_example():
    """The Sennrich et al. running example: {low, lower, newest,
    widest} — 'es', 'est', 'est</w>' emerge among the first merges
    given est-heavy counts."""
    freqs = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    merges = fit_bpe_py(freqs, 4)
    assert merges[0] == ("e", "s")
    assert merges[1] == ("es", "t")
    assert merges[2] == ("est", EOW)
    toks = _tuple_apply("newest", merges)
    assert "est" + EOW in toks or toks[-1] == "est" + EOW


ADVERSARIAL = [
    # (word, merges) — runs of repeats are where single-delimiter
    # encodings break
    ("aaaa", [("a", "a")]),
    ("aaaaa", [("a", "a")]),
    ("aaaaaa", [("a", "a"), ("aa", "aa")]),
    ("soooo", [("o", "o")]),
    ("abababab", [("a", "b"), ("ab", "ab")]),
    ("mississippi", [("s", "s"), ("i", "ss"), ("p", "p")]),
    ("xyxyx", [("x", "y"), ("xy", "x")]),
]


@pytest.mark.parametrize("word,merges", ADVERSARIAL)
def test_encoding_equals_tuple_loop_python(word, merges):
    assert _py_replace_apply(word, merges) == _tuple_apply(word, merges)


def test_run_of_repeats_pairs_up():
    # classic greedy: aaaa -> (aa)(aa), aaaaa -> (aa)(aa)(a)
    assert _tuple_apply("aaaa", [("a", "a")]) == ["aa", "aa", EOW]
    assert _py_replace_apply("aaaa", [("a", "a")]) == ["aa", "aa", EOW]
    assert _py_replace_apply("aaaaa", [("a", "a")]) == ["aa", "aa", "a", EOW]


@pytest.mark.parametrize("word,merges", ADVERSARIAL)
def test_encoding_equals_tuple_loop_duckdb(word, merges):
    s = _encode(list(word) + [EOW])
    expr = f"'{s}'"
    for a, b in merges:
        expr = (
            f"replace({expr}, '{SEP + a + SEP + SEP + b + SEP}', "
            f"'{SEP + a + b + SEP}')"
        )
    (out,) = duckdb.sql(f"SELECT {expr}").fetchone()
    assert [t for t in out.split(SEP * 2) if t] == _tuple_apply(word, merges)


def test_encoding_equals_tuple_loop_spark(spark):
    rows = [(i, w) for i, (w, _) in enumerate(ADVERSARIAL)]
    df = spark.createDataFrame(rows, "i long, w string")
    for i, (word, merges) in enumerate(ADVERSARIAL):
        got = (
            df.where(F.col("i") == i)
            .select(
                tokens_from_seg_expr(
                    apply_merges_expr(seg_init_expr(F.col("w")), merges)
                ).alias("t")
            )
            .collect()[0]["t"]
        )
        assert list(got) == _tuple_apply(word, merges), word


CORPUS = [
    "low lower lowest low low",
    "newest newer new news",
    "the newest of the new lows",
    "wider widest wide low",
    "so soooo smooth aaaa",
]


def test_fit_driver_equals_distributed(spark, monkeypatch):
    df = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    driver = fit_bpe(df, "text", n_merges=12)
    monkeypatch.setattr(bpe, "_DRIVER_WORDS", 1)
    dist = fit_bpe(df, "text", n_merges=12)
    assert driver == dist


def test_tokenize_strategies_agree_and_roundtrip(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS + ["", "   "])],
        "doc_id long, text string",
    )
    merges = fit_bpe(df, "text", n_merges=10)
    a = bpe_tokenize(df, merges).toPandas()
    a = a.sort_values("doc_id").reset_index(drop=True)
    # round trip: joining tokens and splitting at EOW restores the words
    for r in a.itertuples():
        words = "".join(r.tokens).split(EOW)[:-1] if list(r.tokens) else []
        assert words == r.text.split()
    # empty / whitespace-only docs -> empty token arrays, rows retained
    assert list(a[a["doc_id"] >= len(CORPUS)]["tokens"].map(len)) == [0, 0]


def test_fit_over_cap_equals_driver(spark, monkeypatch):
    """One kept word over the cap: the fit runs distributed instead of
    raising, and the gate counts the table AFTER the min_count prune."""
    df = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    driver = fit_bpe(df, "text", n_merges=5, min_count=2)
    kept = sum(c >= 2 for c in Counter(" ".join(CORPUS).split()).values())
    monkeypatch.setattr(bpe, "_DRIVER_WORDS", kept - 1)
    assert fit_bpe(df, "text", n_merges=5, min_count=2) == driver


def test_min_count_prunes_tail(spark):
    df = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    full = fit_bpe(df, "text", n_merges=5, min_count=1)
    pruned = fit_bpe(df, "text", n_merges=5, min_count=2)
    assert len(pruned) == 5 and pruned != full  # hapax words dropped
