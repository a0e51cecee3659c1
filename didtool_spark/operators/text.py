"""Text analysis for large-scale training-data pipelines: token
counting, quality scoring, language-ID heuristic, document
fingerprinting. All pure ``pyspark.sql.functions`` column expressions —
no Python in the row path, fully codegen'd, scale = scan speed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

# small public stopword seed lists (heuristic language votes)
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "para", "en", "que"],
}

BPE_ISH = r"\w+|[^\w\s]"  # word pieces + isolated punctuation


def tokens_expr(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(F.lower(c)), r"\s+")


def n_tokens_ws(col: str | Column) -> Column:
    return F.size(tokens_expr(col))


def window_concat_expr(toks: Column, k: int) -> Column:
    """Array of space-joined k-token windows: element ``i`` is
    ``toks[i..i+k-1]``; a document with fewer than k tokens yields ONE
    whole-document window.

    Built as a zip_with chain over shifted slices rather than an
    index lambda over ``sequence``: higher-order-function ARGUMENTS are
    evaluated once per row, while a lambda body that captures the token
    subtree re-evaluates it per element (O(k·n) tokenizations per row
    interpreted) — and a nested lambda that captures the outer lambda's
    variable silently breaks PythonUDF extraction when the expression
    is collapsed into a pandas-UDF argument (the UDF stays in the plan
    and dies on interpreted eval). This shape costs O(k) tokenize
    evaluations per row and contains no capture at any nesting level.
    """
    win = toks
    for j in range(1, k):
        shifted = F.slice(toks, j + 1, F.greatest(F.size(toks) - j, F.lit(0)))
        # zip_with pads the shorter side with NULL; concat_ws drops it,
        # and the final slice cuts the short tail windows anyway
        win = F.zip_with(win, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return F.slice(win, 1, F.greatest(F.size(toks) - (k - 1), F.lit(1)))


def n_tokens_bpe(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    # regexp_count: no match-array materialization (vs regexp_extract_all)
    return F.regexp_count(c, F.lit(BPE_ISH))


def stopword_hits(col: str | Column, lang: str = "en") -> Column:
    toks = tokens_expr(col)
    vocab = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.array_contains(vocab, t).cast("int")
    )


def with_text_features(df: DataFrame, col: str = "text") -> DataFrame:
    """Per-document quality features + composite score."""
    c = F.col(col)
    n_chars = F.length(c)
    n_tok = n_tokens_ws(col)
    punct = F.regexp_count(c, F.lit(r"[^\w\s]"))
    digits = F.regexp_count(c, F.lit(r"[0-9]"))
    alpha = F.regexp_count(c, F.lit(r"[A-Za-z]"))
    sw = stopword_hits(col, "en")
    # later columns reference the ALREADY-MATERIALIZED ones (F.col) —
    # re-inlining n_tok/n_chars would re-split/re-scan the text per use
    out = (
        df.withColumn("n_chars_calc", n_chars)
        .withColumn("n_tokens", n_tok)
        .withColumn("n_tokens_bpe", n_tokens_bpe(col))
        .withColumn(
            "mean_token_len",
            F.col("n_chars_calc") / F.greatest(F.col("n_tokens"), F.lit(1)),
        )
        .withColumn("punct_ratio", punct / F.greatest(F.col("n_chars_calc"), F.lit(1)))
        .withColumn("digit_ratio", digits / F.greatest(F.col("n_chars_calc"), F.lit(1)))
        .withColumn("alpha_ratio", alpha / F.greatest(F.col("n_chars_calc"), F.lit(1)))
        .withColumn("stopword_ratio", sw / F.greatest(F.col("n_tokens"), F.lit(1)))
    )
    # simple composite: long-enough, alphabetic, not punct/digit-heavy
    q = (
        F.least(F.col("n_tokens") / 20.0, F.lit(1.0)) * 0.3
        + F.col("alpha_ratio") * 0.4
        + (1 - F.least(F.col("punct_ratio") * 4, F.lit(1.0))) * 0.2
        + F.least(F.col("stopword_ratio") * 5, F.lit(1.0)) * 0.1
    )
    return out.withColumn("quality_score", q)


def with_readability(df: DataFrame, col: str = "text") -> DataFrame:
    """Classic readability statistics — Flesch Reading Ease and
    Flesch-Kincaid grade — from regex-countable proxies: sentences =
    terminal-punctuation runs, words = whitespace tokens, syllables =
    vowel-group runs (the standard cheap approximation; exact syllable
    counting needs a dictionary no 100 TB pass wants).  Pure codegen
    expressions (``regexp_count``), scale = scan speed; the DuckDB
    oracle replays each count as ``len(regexp_extract_all(...))``.

    Adds ``n_sentences, n_words, n_syllables, words_per_sentence,
    syllables_per_word, long_word_ratio, flesch, fk_grade``.  All
    denominators are floored at 1 so empty/degenerate docs yield
    finite scores instead of NULL/inf.
    """
    c = F.col(col)
    n_sent = F.greatest(F.regexp_count(c, F.lit(r"[.!?]+")), F.lit(1))
    n_words = F.greatest(n_tokens_ws(col), F.lit(1))
    n_syll = F.greatest(
        F.regexp_count(F.lower(c), F.lit(r"[aeiouy]+")), F.lit(1)
    )
    long_words = F.regexp_count(c, F.lit(r"\w{7,}"))
    out = (
        df.withColumn("n_sentences", n_sent)
        .withColumn("n_words", n_words)
        .withColumn("n_syllables", n_syll)
        .withColumn(
            "words_per_sentence", F.col("n_words") / F.col("n_sentences")
        )
        .withColumn(
            "syllables_per_word", F.col("n_syllables") / F.col("n_words")
        )
        .withColumn("long_word_ratio", long_words / F.col("n_words"))
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * F.col("words_per_sentence")
        - F.lit(84.6) * F.col("syllables_per_word")
    )
    fk = (
        F.lit(0.39) * F.col("words_per_sentence")
        + F.lit(11.8) * F.col("syllables_per_word")
        - F.lit(15.59)
    )
    return out.withColumn("flesch", flesch).withColumn("fk_grade", fk)


LANGS = ("en", "de", "fr", "es")


def lang_votes_expr(col: str | Column) -> Column:
    """ONE pass over the token array accumulating stopword hits for all
    languages at once (array<int>[len(LANGS)]) — building a separate
    aggregate per language would re-scan the tokens per language, per
    reference to the vote."""
    toks = tokens_expr(col)
    vocabs = [
        F.array(*[F.lit(w) for w in STOPWORDS[lang]]) for lang in LANGS
    ]
    return F.aggregate(
        toks,
        F.array_repeat(F.lit(0), len(LANGS)),
        lambda acc, t: F.zip_with(
            acc,
            F.array(*[F.array_contains(v, t).cast("int") for v in vocabs]),
            lambda x, y: x + y,
        ),
    )


def lang_id_from_votes(col: str | Column, votes: Column) -> Column:
    """Decision expression over a MATERIALIZED vote array (cheap element
    references; keep ``votes`` a named column from a prior select)."""
    c = F.col(col) if isinstance(col, str) else col
    cjk = F.regexp_count(c, F.lit(r"[\x{4e00}-\x{9fff}]"))
    best = F.greatest(*[votes[i] for i in range(len(LANGS))])
    expr = F.when(cjk > F.length(c) * 0.2, F.lit("zh")).when(best == 0, F.lit("unk"))
    # deterministic priority order on ties: en, de, fr, es
    for i, lang in enumerate(LANGS):
        expr = expr.when(votes[i] == best, F.lit(lang))
    return expr.otherwise(F.lit("unk"))


def with_lang_id(df: DataFrame, col: str = "text", out_col: str = "lang") -> DataFrame:
    """Heuristic language ID: CJK-character ratio, else stopword votes
    ('zh'/'en'/'de'/'fr'/'es'/'unk'). Two-stage select so the one-pass
    vote aggregate materializes before the multi-reference decision."""
    return (
        df.withColumn("__lv", lang_votes_expr(col))
        .withColumn(out_col, lang_id_from_votes(col, F.col("__lv")))
        .drop("__lv")
    )


def lang_id_expr(col: str | Column) -> Column:
    """Single-expression variant (inline-friendly, but the vote
    aggregate is re-evaluated per reference — prefer with_lang_id for
    the scan path)."""
    votes = lang_votes_expr(col)
    return lang_id_from_votes(col, votes)


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS scheme): hash every k-token shingle, then
    keep the MINIMUM hash of every window of ``w`` consecutive shingle
    hashes. Guarantees any shared run of ``w + k - 1`` tokens between
    two documents produces at least one shared fingerprint, at ~1/w the
    storage of full shingle sets. Returns one (id, fp) row per distinct
    selected hash per document.

    Divergence from the paper: fingerprints are deduplicated per doc by
    hash only (no positions) — overlap DETECTION needs the set, not the
    alignment.

    All column expressions: the rolling minimum is a zip_with chain of
    shifted slices with ``least`` (null-padded tails are ignored, so a
    document with fewer than ``w`` shingles yields ONE fingerprint —
    the min over all of them), the same no-capture shape as
    ``window_concat_expr`` and for the same reason (O(w) evaluations,
    survives PythonUDF extraction). ``hash_fn='md5_60'`` swaps xxhash64
    for the portable 60-bit md5 prefix so a SQL engine can replay the
    selection exactly (same gate cost the MinHash/SimHash family pays).
    """
    kgrams = window_concat_expr(tokens_expr(text_col), k)
    if hash_fn == "xxhash64":
        h = F.transform(kgrams, lambda g: F.xxhash64(g))
    elif hash_fn == "md5_60":
        h = F.transform(
            kgrams,
            lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long"),
        )
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    based = df.select(F.col(id_col), h.alias("__h"))
    rm = F.col("__h")
    for j in range(1, w):
        shifted = F.slice(
            F.col("__h"), j + 1, F.greatest(F.size("__h") - j, F.lit(0))
        )
        rm = F.zip_with(rm, shifted, lambda a, b: F.least(a, b))
    rm = F.slice(rm, 1, F.greatest(F.size("__h") - (w - 1), F.lit(1)))
    return based.select(
        F.col(id_col), F.explode(F.array_distinct(rm)).alias("fp")
    )


def fingerprint_overlap(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_common: int = 2,
    max_postings: int = 1000,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Document-overlap candidates from shared winnowing fingerprints:
    (id_a, id_b, n_common) for every pair sharing at least
    ``min_common`` fingerprints. The same bounded-inverted-index shape
    as MinHash banding: the only shuffle keys are (fp), and hot
    fingerprints — boilerplate shared by more than ``max_postings``
    docs — are dropped MAP-SIDE via a broadcast anti-join of the
    (small) hot-fp set before the self-join can co-locate them, so no
    task ever materializes a boilerplate posting list."""
    # the fingerprint table feeds FOUR consumers of the returned plan
    # (hot-fp aggregate, anti-join probe, both self-join sides) and
    # Spark does not reuse common subplans — store it once as an eager
    # local checkpoint (it is 1/w the corpus token count: the winnowing
    # paper's own storage bound) so the hash + window-min chain runs
    # once, not four times
    fps = winnow_fingerprints(df, text_col, id_col, k, w, hash_fn).localCheckpoint(
        eager=True
    )
    hot = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > max_postings)
        .select("fp")
    )
    fps = fps.join(F.broadcast(hot), "fp", "left_anti")
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("int").alias("n_common"))
        .where(F.col("n_common") >= min_common)
    )


def collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 100,
) -> DataFrame:
    """Corpus-level bigram collocations ranked by pointwise mutual
    information: PMI(a,b) = ln( p(a,b) / (p(a) p(b)) ) with p over
    bigram/unigram occurrence totals; pairs below ``min_count``
    occurrences are dropped (PMI's low-count pathology). Returns the
    global ``top_k`` as (token_a, token_b, n_pair, pmi), ties broken
    deterministically on the rounded PMI then the tokens.

    Plan: two counting aggregations (token, bigram — map-side combined,
    the shuffled unit is a count), two joins of the bigram table to the
    unigram counts (AQE broadcasts the unigram side when the vocabulary
    is bounded), scalar totals as broadcast cross joins, and a top-k
    sort over the ``min_count``-filtered pair table — at web scale the
    filter leaves collocations, not the long tail, so the global sort
    input is bounded."""
    toks = df.select(tokens_expr(text_col).alias("__toks"))
    uni = (
        toks.select(F.explode("__toks").alias("t"))
        .where(F.col("t") != "")
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bigrams = F.slice(
        F.zip_with(
            F.col("__toks"),
            F.slice(
                F.col("__toks"), 2, F.greatest(F.size("__toks") - 1, F.lit(0))
            ),
            lambda x, y: F.concat_ws(" ", x, y),
        ),
        1,
        F.greatest(F.size("__toks") - 1, F.lit(0)),
    )
    big = (
        toks.select(F.explode(bigrams).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("cab"))
        .where(F.col("cab") >= min_count)
    )
    n1 = uni.agg(F.sum("c").cast("double").alias("n1"))
    n2 = toks.select(
        F.sum(F.greatest(F.size("__toks") - 1, F.lit(0))).cast("double").alias("n2")
    )
    sp = F.split(F.col("bg"), " ", 2)
    scored = (
        big.withColumn("token_a", sp.getItem(0))
        .withColumn("token_b", sp.getItem(1))
        .join(uni.select(F.col("t").alias("token_a"), F.col("c").alias("ca")), "token_a")
        .join(uni.select(F.col("t").alias("token_b"), F.col("c").alias("cb")), "token_b")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
        .select(
            "token_a",
            "token_b",
            F.col("cab").alias("n_pair"),
            F.round(
                F.log(
                    (F.col("cab") / F.col("n2"))
                    / ((F.col("ca") / F.col("n1")) * (F.col("cb") / F.col("n1")))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.desc("pmi"), F.asc("token_a"), F.asc("token_b")
    ).limit(top_k)


def tfidf_keywords(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 5,
    min_df: int = 1,
) -> DataFrame:
    """Per-document top-k keywords by smoothed TF-IDF
    (tf = count/len; idf = ln((1+N)/(1+df)) + 1, sklearn's smooth_idf).

    Plan (three shuffles, all on natural keys):
      1. explode tokens -> groupBy (doc, token) count — partial
         aggregation combines map-side, so the shuffle carries
         (doc, token, count), not one row per token occurrence;
      2. document frequency = groupBy token over the SAME (doc, token)
         table (already distinct per doc — no count(DISTINCT) pass) —
         vocab-sized result, shuffle on token; joined back on token
         (AQE broadcasts it when the vocabulary is small);
      3. per-doc top-k via row_number over (doc) — shuffle on doc id.
    N (corpus size) is a scalar aggregate joined in by broadcast.
    Ties are deterministic: ordered by rounded score desc, token asc.
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens_expr(text_col)).alias("token")
    ).where(F.col("token") != "")
    tf = toks.groupBy(id_col, "token").agg(F.count("*").alias("cnt"))
    doc_len = tf.groupBy(id_col).agg(F.sum("cnt").alias("doc_len"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    if min_df > 1:
        dfreq = dfreq.where(F.col("df") >= min_df)
    n_docs = df.select(
        F.count("*").cast("double").alias("n_docs")
    )
    scored = (
        tf.join(dfreq, "token")
        .join(doc_len, id_col)
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                (F.col("cnt") / F.col("doc_len"))
                * (F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df"))) + 1.0),
                6,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(id_col, "token", "score", "rank")
    )


def fingerprint_exprs(col: str | Column) -> dict[str, Column]:
    """Document fingerprints: exact (md5 of whitespace-normalized text)
    and a 64-bit rolling-window content hash (min over token-trigram
    hashes — shift-resistant)."""
    c = F.col(col) if isinstance(col, str) else col
    norm = F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")
    tri = window_concat_expr(F.split(norm, " "), 3)
    return {
        "fp_exact": F.md5(norm),
        "fp_rolling": F.array_min(F.transform(tri, lambda w: F.xxhash64(w))),
    }


# --------------------------------------------------------------- normalize
# Unicode cruft that survives web extraction: zero-widths/BOM, curly
# quotes and long dashes, NBSP, C0/C1 control characters. Kept as a
# module constant so the SQL oracle replays the exact same tables.
ZERO_WIDTH = "​‌‍﻿"
PUNCT_FROM = "‘’“”–— "
PUNCT_TO = "''\"\"-- "
CONTROL_CLASS = "[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"


def normalize_text_expr(col: str | Column) -> Column:
    """Deterministic text-normalization expression: drop zero-widths,
    ASCII-fold curly quotes/dashes/NBSP, strip control characters
    (keeping \\n and \\t), collapse space/tab runs, cap blank-line runs
    at one, trim.  Pure codegen — scale = scan speed; the same steps
    replay verbatim in DuckDB (regexp_replace + translate)."""
    c = F.col(col) if isinstance(col, str) else col
    x = F.regexp_replace(c, f"[{ZERO_WIDTH}]", "")
    x = F.translate(x, PUNCT_FROM, PUNCT_TO)
    x = F.regexp_replace(x, CONTROL_CLASS, "")
    x = F.regexp_replace(x, "[ \t]+", " ")
    x = F.regexp_replace(x, " ?\n ?", "\n")
    x = F.regexp_replace(x, "\n{3,}", "\n\n")
    return F.trim(x)


def normalize_text(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document normalization report: the cleaned text plus
    before/after lengths and a changed flag (cheap audit columns a
    pipeline logs before overwriting the raw text)."""
    norm = normalize_text_expr(text_col)
    return df.select(
        F.col(id_col),
        norm.alias("text_norm"),
        F.length(text_col).cast("int").alias("len_raw"),
        F.length(norm).cast("int").alias("len_norm"),
        # content inequality, not length: quote/dash folding is
        # length-preserving and must still count as a change
        (F.col(text_col) != norm).alias("changed"),
    )


# --------------------------------------------------------------- diversity
def ngram_diversity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_ratio: float = 0.5,
) -> DataFrame:
    """Per-document n-gram diversity (distinct n-grams / total n-grams)
    — the self-repetition score used to drop template/boilerplate and
    degenerate-generation documents (cf. Gopher's repetition rules,
    which didtool_spark ships in decontam.quality_gopher; this is the
    single-ratio form used for quick corpus triage).

    Pure per-row array expressions (token split -> shifted-slice
    zip_with windows -> array_distinct), zero shuffle: diversity of
    100 TB is one scan. Documents with fewer than ``n`` tokens have no
    n-gram, diversity 1.0 by convention, never flagged.
    """
    toks = tokens_expr(text_col)
    grams = F.when(
        F.size(toks) >= n, window_concat_expr(toks, n)
    ).otherwise(F.array().cast("array<string>"))
    n_grams = F.size(grams)
    n_distinct = F.size(F.array_distinct(grams))
    ratio = F.when(
        n_grams > 0, F.round(n_distinct.cast("double") / n_grams, 6)
    ).otherwise(F.lit(1.0))
    return df.select(
        F.col(id_col),
        F.size(toks).cast("int").alias("n_tokens"),
        n_grams.cast("int").alias("n_ngrams"),
        n_distinct.cast("int").alias("n_distinct"),
        ratio.alias("diversity"),
        (ratio < min_ratio).alias("is_repetitive"),
    )
