"""Decontamination, Gopher quality rules, domain mixing."""

import pytest
from pyspark.sql import functions as F

from didtool_spark.operators.decontam import (
    decontaminate,
    domain_mix,
    gopher_quality,
)


@pytest.fixture()
def corpus(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different tokens appear here now"),
            (3, "another text with the quick brown fox jumps phrase inside"),
        ],
        "doc_id int, text string",
    )


def test_decontaminate_flags_shared_ngrams(spark, corpus):
    bench = spark.createDataFrame([("quick brown fox jumps",)], "text string")
    out = {
        r["doc_id"]: r
        for r in decontaminate(corpus, bench, n=4).collect()
    }
    assert out[1]["contaminated"] == 1 and out[1]["n_hit_grams"] == 1
    assert out[2]["contaminated"] == 0 and out[2]["n_hit_grams"] == 0
    assert out[3]["contaminated"] == 1


def test_decontaminate_normalizes_case_and_whitespace(spark, corpus):
    bench = spark.createDataFrame([("QUICK  Brown   fox JUMPS",)], "text string")
    out = {r["doc_id"]: r["contaminated"]
           for r in decontaminate(corpus, bench, n=4).collect()}
    assert out == {1: 1, 2: 0, 3: 1}


def test_decontaminate_min_hits_and_drop(spark, corpus):
    bench = spark.createDataFrame([("quick brown fox jumps",)], "text string")
    out = {r["doc_id"]: r["contaminated"]
           for r in decontaminate(corpus, bench, n=4, min_hits=2).collect()}
    assert out == {1: 0, 2: 0, 3: 0}  # only one shared gram each
    clean = decontaminate(corpus, bench, n=4, keep_contaminated=False)
    assert set(clean.columns) == set(corpus.columns)
    assert [r["doc_id"] for r in clean.collect()] == [2]


def test_gopher_quality_metrics(spark):
    clean = " ".join(f"w{i:02d}" for i in range(30))  # 30 distinct 3-char words
    dup = "hello world\nhello world\nhello world"
    rep = ("spam ham " * 20).strip()
    bullets = "intro line\n- a\n- b\n- c"
    dots = "one\ntwo...\nthree..."
    df = spark.createDataFrame(
        [(0, clean), (1, dup), (2, rep), (3, bullets), (4, dots)],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in gopher_quality(df, "text").collect()}

    r0 = out[0]
    assert r0["dup_line_frac"] == 0.0
    assert r0["mean_word_len"] == pytest.approx(3.0)
    assert r0["alpha_word_frac"] == 1.0
    assert r0["top2gram_char_frac"] == pytest.approx(7 / 119)
    assert r0["keep"] == 1

    r1 = out[1]
    assert r1["dup_line_frac"] == pytest.approx(2 / 3)
    assert r1["dup_line_char_frac"] == pytest.approx(2 / 3)
    assert r1["keep"] == 0

    r2 = out[2]  # "spam ham" occurs 20x: 20*8 chars / 179 stream chars
    assert r2["top2gram_char_frac"] == pytest.approx(160 / 179)
    assert r2["keep"] == 0

    assert out[3]["bullet_line_frac"] == pytest.approx(3 / 4)
    assert out[4]["ellipsis_line_frac"] == pytest.approx(2 / 3)
    assert out[4]["keep"] == 0


def test_gopher_threshold_override(spark):
    dup = "hello world\nhello world\nhello world"
    df = spark.createDataFrame([(1, dup)], "doc_id int, text string")
    loose = gopher_quality(
        df,
        "text",
        thresholds={
            "max_dup_line_frac": 1.0,
            "max_dup_line_char_frac": 1.0,
            "max_top2gram_char_frac": 1.0,
            "min_mean_word_len": 1.0,
        },
    ).collect()[0]
    assert loose["keep"] == 1


def test_domain_mix_proportions_and_determinism(spark):
    rows = (
        [(i, "a") for i in range(100)]
        + [(1000 + i, "b") for i in range(50)]
        + [(2000 + i, "c") for i in range(200)]
    )
    df = spark.createDataFrame(rows, "doc_id int, source string")
    out = domain_mix(df, "source", {"a": 1, "b": 1}, id_col="doc_id", seed=2)
    got = out.groupBy("source").count().collect()
    by = {r["source"]: r["count"] for r in got}
    # scale = min(100/0.5, 50/0.5) = 100 -> b keeps everything (frac 1.0),
    # a keeps ~half (Bernoulli 0.5), c (weight 0) is dropped
    assert "c" not in by
    assert by["b"] == 50
    assert 30 <= by["a"] <= 70
    # deterministic under repartitioning
    again = (
        domain_mix(df.repartition(7), "source", {"a": 1, "b": 1},
                   id_col="doc_id", seed=2)
        .select("doc_id").collect()
    )
    assert sorted(r["doc_id"] for r in again) == sorted(
        r["doc_id"] for r in out.select("doc_id").collect()
    )
    with pytest.raises(ValueError):
        domain_mix(df, "source", {})
