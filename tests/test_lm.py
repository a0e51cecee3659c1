"""N-gram LM perplexity scorer: golden math vs an independent pure-
python reference, OOV handling, pruning backoff, and join-strategy
equivalence."""

import math

import numpy as np
import pytest

from didtool_spark.operators.lm import NgramLM, lm_perplexity

K, LAM = 0.5, 0.8


def _py_lm(corpus_texts):
    """Independent reference: same model, plain dicts."""
    docs = [t.strip().lower().split() for t in corpus_texts]
    docs = [d for d in docs if d]
    uni, bi = {}, {}
    for d in docs:
        for w in d:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(d, d[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
    n = sum(uni.values())
    v = len(uni)
    return uni, bi, n, v


def _py_score(text, uni, bi, n, v):
    toks = text.strip().lower().split()
    if not toks:
        return None

    def p_uni(w):
        return (uni.get(w, 0) + K) / (n + K * (v + 1))

    lp = math.log(p_uni(toks[0]))
    for a, b in zip(toks, toks[1:]):
        pb = bi.get((a, b), 0) / uni[a] if a in uni else 0.0
        lp += math.log(LAM * pb + (1 - LAM) * p_uni(b))
    nll = -lp / len(toks)
    return nll, math.exp(nll)


CORPUS = [
    "the cat sat on the mat",
    "the dog sat on the log",
    "a cat and a dog",
    "the cat likes the dog",
]


def test_golden_vs_python_reference(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id int, text string"
    )
    out = {
        r["doc_id"]: r
        for r in lm_perplexity(df, k=K, lam=LAM).collect()
    }
    uni, bi, n, v = _py_lm(CORPUS)
    for i, t in enumerate(CORPUS):
        nll, ppl = _py_score(t, uni, bi, n, v)
        assert out[i]["n_tokens"] == len(t.split())
        assert np.isclose(out[i]["avg_nll"], nll, atol=1e-9)
        assert np.isclose(out[i]["perplexity"], ppl, atol=1e-9)


def test_oov_scores_finite_and_worse(spark):
    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id int, text string"
    )
    lm = NgramLM.fit(corpus, k=K, lam=LAM)
    score_df = spark.createDataFrame(
        [(0, "the cat sat on the mat"), (1, "zebra quark flux zebra")],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r for r in lm.score(score_df).collect()}
    uni, bi, n, v = _py_lm(CORPUS)
    for i, t in [(0, "the cat sat on the mat"), (1, "zebra quark flux zebra")]:
        nll, ppl = _py_score(t, uni, bi, n, v)
        assert np.isclose(got[i]["avg_nll"], nll, atol=1e-9)
    assert got[1]["perplexity"] > got[0]["perplexity"]
    assert math.isfinite(got[1]["perplexity"])


def test_min_count_pruning_backs_off(spark):
    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id int, text string"
    )
    lm = NgramLM.fit(corpus, k=K, lam=LAM, min_count=2)
    # N and V fixed from UNPRUNED counts
    uni, bi, n, v = _py_lm(CORPUS)
    assert (lm.n_total, lm.v) == (n, v)
    got = lm.score(corpus).collect()
    assert all(math.isfinite(r["perplexity"]) for r in got)
    # pruned reference: drop count-1 entries, keep n/v
    uni_p = {w: c for w, c in uni.items() if c >= 2}
    bi_p = {p: c for p, c in bi.items() if c >= 2}

    def p_uni(w):
        return (uni_p.get(w, 0) + K) / (n + K * (v + 1))

    r0 = next(r for r in got if r["doc_id"] == 0)
    toks = CORPUS[0].split()
    lp = math.log(p_uni(toks[0]))
    for a, b in zip(toks, toks[1:]):
        pb = bi_p.get((a, b), 0) / uni_p[a] if a in uni_p else 0.0
        lp += math.log(LAM * pb + (1 - LAM) * p_uni(b))
    assert np.isclose(r0["avg_nll"], -lp / len(toks), atol=1e-9)


def test_shuffle_join_strategy_matches_broadcast(spark, monkeypatch):
    from didtool_spark.operators import lm as lm_mod

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id int, text string"
    )
    a_df = lm_perplexity(df, k=K, lam=LAM)
    # an LM over the broadcast bound takes the shuffle-join form
    monkeypatch.setattr(lm_mod, "_BROADCAST_ROWS", 0)
    b_df = lm_perplexity(df, k=K, lam=LAM)
    hinted = [
        "strategy=broadcast" in d._jdf.queryExecution().analyzed().toString()
        for d in (a_df, b_df)
    ]
    assert hinted == [True, False]
    a = a_df.orderBy("doc_id").collect()
    b = b_df.orderBy("doc_id").collect()
    assert len(a) == len(b) == len(CORPUS)
    for ra, rb in zip(a, b):
        assert ra["doc_id"] == rb["doc_id"]
        assert np.isclose(ra["avg_nll"], rb["avg_nll"], atol=1e-12)


def test_empty_and_single_token_docs(spark):
    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id int, text string"
    )
    lm = NgramLM.fit(corpus, k=K, lam=LAM)
    df = spark.createDataFrame(
        [(0, "cat"), (1, None)], "doc_id int, text string"
    )
    got = lm.score(df).collect()
    # NULL text drops (no tokens); single-token doc = unigram only
    assert len(got) == 1 and got[0]["doc_id"] == 0
    uni, bi, n, v = _py_lm(CORPUS)
    nll, _ = _py_score("cat", uni, bi, n, v)
    assert np.isclose(got[0]["avg_nll"], nll, atol=1e-9)


def test_score_plan_two_broadcasts(spark):
    """Scale contract of the single-stream score: exactly TWO
    BroadcastExchange nodes — bi_ratio on (w1, w2) and uni on w2 — and
    one final aggregation; the old first/interior/backoff split built
    three vocab broadcasts. Built from literal LM tables so cached-plan
    internals can't leak into the count."""
    import re

    from didtool_spark.operators.lm import NgramLM
    from tests.test_plan_shape import plan_str

    uni = spark.createDataFrame([("a", 3), ("b", 2)], "w string, c long")
    bi = spark.createDataFrame([("a", "b", 2)], "w1 string, w2 string, c long")
    bir = spark.createDataFrame(
        [("a", "b", 2 / 3)], "w1 string, w2 string, ratio double"
    )
    lm = NgramLM(uni=uni, bi=bi, bi_ratio=bir, n_total=5, v=2, k=K, lam=LAM)
    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "b")], "doc_id long, text string"
    )
    p = plan_str(lm.score(docs))
    assert len(re.findall(r"\(\d+\) BroadcastExchange", p)) == 2, p
    assert "PythonUDF" not in p
