"""Benchmark decontamination, Gopher-style repetition quality rules,
and domain-mix resampling for training-corpus preparation.

These complete the curation family (didtool_spark.operators.curate)
with the three remaining steps every large-scale pretraining pipeline
runs between raw crawl and tokenizer:

- ``decontaminate``: drop/flag documents sharing any n-gram with an
  evaluation benchmark (the GPT-3 / The Pile 13-gram rule).
- ``gopher_quality``: the repetition/format heuristics of Rae et al.
  2021 ("Scaling Language Models", §A1.1) — duplicate-line fractions,
  most-frequent-2-gram coverage, bullet/ellipsis line shares, word
  shape checks — each as a column plus a composite ``keep`` flag.
- ``domain_mix``: deterministic downsampling to target per-domain
  proportions (the static-weights form of domain reweighting).

Scale notes:
- decontaminate ships the benchmark gram set (benchmark suites are
  MBs, corpora are TBs) to the scan: the contamination test is a
  map-side hash-join with NO shuffle of the corpus grams at all.
- gopher_quality is per-row column expressions except the
  most-frequent-2-gram statistic, which genuinely needs a per-(doc,
  gram) count: that is one shuffle of (doc_id, gram_hash) with
  map-side partial aggregation, grouped straight back to doc_id.
- domain_mix aggregates per-domain counts (a dozen rows), broadcasts
  the keep-fractions back, and filters by a portable md5-derived
  uniform — reproducible at any parallelism, no ``DataFrame.sample``
  partitioning dependence.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import Column, DataFrame, functions as F

from .curate import _hash_unit

__all__ = [
    "decontaminate",
    "gopher_quality",
    "GOPHER_THRESHOLDS",
    "domain_mix",
]


def _norm_tokens(col: Column) -> Column:
    """Whitespace tokens of lowercased, whitespace-collapsed text —
    the same normalization the dedup family uses (dedup.py)."""
    return F.split(F.regexp_replace(F.trim(F.lower(col)), r"\s+", " "), " ")


def _gram_hashes(toks: Column, n: int) -> Column:
    """64-bit xxhash of each n-token shingle (array<long>, one per
    start position). Hashing swaps a ~100-byte string for 8 bytes in
    the join key — at 13-gram scale the gram strings dominate shuffle
    bytes otherwise. Collisions (~1e-9 at 1e5 distinct grams) can only
    flag an extra false contamination, never miss one."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i + 1, n))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    bench_col: str | None = None,
    n: int = 13,
    min_hits: int = 1,
    keep_contaminated: bool = True,
) -> DataFrame:
    """Flag (or drop) documents that share >= ``min_hits`` distinct
    n-grams with ``benchmark`` texts.

    Reference semantics: the 13-gram decontamination rule of the GPT-3
    appendix / The Pile — a document is contaminated iff ANY length-n
    token window also occurs in any benchmark text, after lowercasing
    and whitespace normalization on both sides.

    Adds ``n_hit_grams`` (distinct contaminated grams in the doc) and
    ``contaminated``; with ``keep_contaminated=False`` returns only the
    clean rows (columns unchanged).

    The DISTINCT benchmark gram hashes are broadcast and each doc's
    grams probe the hash map map-side — zero shuffle of the corpus
    (eval suites are ~MBs; the gram set of a 100 MB benchmark is ~100M
    longs = 800 MB worst case).
    """
    bench_col = bench_col or col
    # Materialize the token array BELOW the gram transform: the slice
    # inside _gram_hashes's lambda is evaluated once per gram position,
    # so if it captures the _norm_tokens subtree directly the regex
    # tokenization re-runs per position — O(tokens^2) per row on the
    # interpreted HOF path. As a separate multiply-referenced alias it
    # survives CollapseProject and the lambda reads a bound attribute.
    # The docs side is also spread across the cluster first (HOFs are
    # interpreted; one small source file would mean one task).
    bench_grams = (
        benchmark.select(_norm_tokens(F.col(bench_col)).alias("__toks"))
        .select(F.explode(_gram_hashes(F.col("__toks"), n)).alias("__g"))
        .distinct()
    )
    doc_grams = (
        docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
        .select(F.col(id_col), _norm_tokens(F.col(col)).alias("__toks"))
        .select(
            F.col(id_col),
            F.explode(F.array_distinct(_gram_hashes(F.col("__toks"), n))).alias("__g"),
        )
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "__g")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hit_grams"))
    )
    out = docs.join(hits, id_col, "left").withColumn(
        "n_hit_grams", F.coalesce(F.col("n_hit_grams"), F.lit(0)).cast("int")
    )
    out = out.withColumn(
        "contaminated", (F.col("n_hit_grams") >= min_hits).cast("int")
    )
    if not keep_contaminated:
        out = out.where(F.col("contaminated") == 0).drop(
            "n_hit_grams", "contaminated"
        )
    return out


# Rae et al. 2021 table A1 thresholds (document kept iff every rule
# passes). mean_word_len bounds are inclusive.
GOPHER_THRESHOLDS: dict[str, float] = {
    "max_dup_line_frac": 0.30,
    "max_dup_line_char_frac": 0.20,
    "max_top2gram_char_frac": 0.20,
    "max_bullet_line_frac": 0.90,
    "max_ellipsis_line_frac": 0.30,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "min_alpha_word_frac": 0.80,
    "max_symbol_word_ratio": 0.10,
}


def gopher_quality(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    thresholds: Mapping[str, float] | None = None,
) -> DataFrame:
    """Gopher repetition/format quality signals + composite ``keep``.

    Columns added (all ratios in [0,1], 6-dp-stable arithmetic):
    ``dup_line_frac``, ``dup_line_char_frac``, ``top2gram_char_frac``,
    ``bullet_line_frac``, ``ellipsis_line_frac``, ``mean_word_len``,
    ``alpha_word_frac``, ``symbol_word_ratio``, ``keep``.

    Every signal except ``top2gram_char_frac`` is a per-row array
    expression (codegen, no shuffle). The most-frequent-2-gram coverage
    needs per-(doc, gram) counts, so it is ONE shuffle of
    (doc_id, xxhash64(gram), gram_chars) with map-side combine — the
    documented divergence from a per-row plan.

    Coverage definition: ``max over 2-grams of count(g) * chars(g) /
    total_word_chars`` where chars(g) counts the gram's characters
    including its separating space and total_word_chars is the length
    of the space-joined token stream — a deterministic variant of
    Gopher's "fraction of characters contained in the most frequent
    2-gram" that needs no tie-break on equal counts.
    """
    th = dict(GOPHER_THRESHOLDS)
    if thresholds:
        th.update(thresholds)

    # The signals are higher-order-function-heavy (interpreted, not
    # codegen'd): spread the rows across the cluster even when the
    # source is one small file, and materialize the shared line/token
    # arrays ONCE — as multiply-referenced non-cheap aliases they
    # survive CollapseProject, so each signal below reads the computed
    # array instead of re-inlining the split/regexp subtree per column.
    c = F.col(col)
    prepared = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism
    ).withColumns(
        {
            "__lines": F.filter(F.split(c, r"\n"), lambda l: F.trim(l) != ""),
            "__toks": _norm_tokens(c),
        }
    ).withColumn("__dlines", F.array_distinct(F.col("__lines")))

    lines, dlines, toks = F.col("__lines"), F.col("__dlines"), F.col("__toks")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    line_chars = F.aggregate(
        lines, F.lit(0.0), lambda acc, l: acc + F.length(l)
    )
    dline_chars = F.aggregate(
        dlines, F.lit(0.0), lambda acc, l: acc + F.length(l)
    )
    n_words = F.greatest(F.size(toks), F.lit(1))
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    symbols = F.regexp_count(c, F.lit(r"#|\.\.\.|…"))
    bullet = F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]")))
    ellipsis = F.size(
        F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))
    )

    base = (
        prepared.withColumn(
            "dup_line_frac",
            (F.lit(1.0) - F.size(dlines) / n_lines)
            * (F.size(lines) > 0).cast("double"),
        )
        .withColumn(
            "dup_line_char_frac",
            F.when(line_chars > 0, F.lit(1.0) - dline_chars / line_chars).otherwise(
                F.lit(0.0)
            ),
        )
        .withColumn("bullet_line_frac", bullet / n_lines)
        .withColumn("ellipsis_line_frac", ellipsis / n_lines)
        .withColumn(
            "mean_word_len",
            F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + F.length(t)) / n_words,
        )
        .withColumn("alpha_word_frac", alpha_words / n_words)
        .withColumn("symbol_word_ratio", symbols / n_words)
        .drop("__lines", "__dlines", "__toks")
    )

    # most-frequent-2-gram coverage: explode (id, gram) -> count ->
    # max(count * gram_chars) per doc; partial agg keeps the shuffle at
    # one row per distinct (doc, gram)
    grams2 = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(" ", toks[i], toks[i + 1]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = prepared.select(
        F.col(id_col),
        (F.length(F.concat_ws(" ", toks))).alias("__wchars"),
        F.explode(grams2).alias("__g"),
    )
    top = (
        exploded.groupBy(id_col, "__wchars", F.xxhash64("__g").alias("__gh"))
        .agg(F.count("*").alias("__cnt"), F.first(F.length("__g")).alias("__glen"))
        .groupBy(id_col)
        .agg(
            (
                F.max(F.col("__cnt") * F.col("__glen"))
                / F.greatest(F.first("__wchars"), F.lit(1))
            ).alias("top2gram_char_frac")
        )
    )
    out = base.join(top, id_col, "left").withColumn(
        "top2gram_char_frac", F.coalesce(F.col("top2gram_char_frac"), F.lit(0.0))
    )

    keep = (
        (F.col("dup_line_frac") <= th["max_dup_line_frac"])
        & (F.col("dup_line_char_frac") <= th["max_dup_line_char_frac"])
        & (F.col("top2gram_char_frac") <= th["max_top2gram_char_frac"])
        & (F.col("bullet_line_frac") <= th["max_bullet_line_frac"])
        & (F.col("ellipsis_line_frac") <= th["max_ellipsis_line_frac"])
        & (F.col("mean_word_len") >= th["min_mean_word_len"])
        & (F.col("mean_word_len") <= th["max_mean_word_len"])
        & (F.col("alpha_word_frac") >= th["min_alpha_word_frac"])
        & (F.col("symbol_word_ratio") <= th["max_symbol_word_ratio"])
    )
    return out.withColumn("keep", keep.cast("int"))


def domain_mix(
    df: DataFrame,
    domain_col: str,
    weights: Mapping[str, float],
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Downsample to target per-domain proportions.

    Given target weights ``w_d`` (need not sum to 1 — normalized
    internally), finds the largest feasible corpus where every domain
    holds exactly its target share WITHOUT upsampling any domain
    (scale = min_d n_d / w_d), then keeps each row of domain ``d``
    with probability ``w_d * scale / n_d`` via the portable md5-derived
    uniform (reproducible across engines and partitionings; exact in
    expectation — the per-domain realized count is Binomial).

    Domains absent from ``weights`` get weight 0 (dropped). Two jobs:
    a per-domain count aggregate (rows = |domains|, broadcast back)
    and the filter scan — no extra shuffle of the data.
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    total_w = float(sum(weights.values()))
    if total_w <= 0:
        raise ValueError("weights must sum to a positive value")

    from ..functions.exprs import map_expr

    w = map_expr(
        F.col(domain_col),
        {k: float(v) / total_w for k, v in weights.items()},
        default=0.0,
    )
    counts = (
        df.where(w > 0)
        .groupBy(domain_col)
        .agg(F.count("*").alias("__n"))
        .withColumn("__w", w)
        .withColumn("__scale", F.col("__n") / F.col("__w"))
    )
    # scale = min over domains; a one-row cross-joined aggregate keeps
    # the whole derivation in the plan (no driver collect)
    min_scale = counts.agg(F.min("__scale").alias("__min_scale"))
    frac = (
        counts.crossJoin(F.broadcast(min_scale))
        .select(
            domain_col,
            F.least(
                F.col("__w") * F.col("__min_scale") / F.col("__n"), F.lit(1.0)
            ).alias("__keep_frac"),
        )
    )
    return (
        df.join(F.broadcast(frac), domain_col)
        .where(_hash_unit(F.col(id_col), seed) < F.col("__keep_frac"))
        .drop("__keep_frac")
    )


# C4 (Raffel et al. 2020, §2.2 "Colossal Clean Crawled Corpus") line
# and document rules. Line kept iff it ends in terminal punctuation,
# has >= C4_MIN_LINE_WORDS words, and does not mention javascript;
# document kept iff it contains no curly brace or "lorem ipsum" and
# retains >= C4_MIN_KEPT_LINES lines (the sentence-count proxy).
C4_TERMINAL = r'[.!?"]$'
C4_MIN_LINE_WORDS = 5
C4_MIN_KEPT_LINES = 3


def c4_rules(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    min_line_words: int = C4_MIN_LINE_WORDS,
    min_kept_lines: int = C4_MIN_KEPT_LINES,
    out_col: str = "clean_text",
) -> DataFrame:
    """C4 heuristic cleaning: per-line filter + document-level flags.

    Adds ``n_lines``, ``n_kept_lines``, ``keep`` and ``out_col`` (the
    kept lines, trimmed, newline-joined). Entirely per-row array
    expressions — no shuffle, no Python; embarrassingly parallel at any
    corpus size (the C4 pipeline stage that IS just a map).

    Divergences from the paper, kept deliberately: the "at least three
    sentences" page rule uses kept-LINE count as the sentence proxy
    (the paper's sentence splitter is a language-specific model); the
    bad-words list is out of scope (policy, not engine).
    """
    c = F.col(col)
    lines = F.filter(F.split(c, r"\n"), lambda l: F.trim(l) != "")
    kept = F.filter(
        lines,
        lambda l: F.trim(l).rlike(C4_TERMINAL)
        & (F.size(F.split(F.trim(l), r"\s+")) >= min_line_words)
        & ~F.lower(l).contains("javascript"),
    )
    doc_ok = (
        ~F.lower(c).contains("lorem ipsum")
        & ~c.contains("{")
    )
    out = (
        df.withColumn("__lines", lines)
        .withColumn("__kept", kept)
        .withColumn("n_lines", F.size("__lines").cast("int"))
        .withColumn("n_kept_lines", F.size("__kept").cast("int"))
        .withColumn(
            "keep",
            (doc_ok & (F.col("n_kept_lines") >= min_kept_lines)).cast("int"),
        )
        .withColumn(
            out_col,
            F.concat_ws("\n", F.transform(F.col("__kept"), lambda l: F.trim(l))),
        )
    )
    return out.drop("__lines", "__kept")
