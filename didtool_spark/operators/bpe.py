"""From-scratch BPE tokenizer (Sennrich, Haddow, Birch 2016,
arXiv:1508.07909) as a distributed Spark operator pair:

- ``fit_bpe``: learn merge rules from a corpus. The sufficient
  statistic is the word-frequency table (groupBy(word).count() — the
  ONLY pass over the corpus; distinct words, not occurrences, drive
  every later cost). The merge loop runs on the driver over the
  collected table when it has at most ``_DRIVER_WORDS`` distinct words
  (bit-reproducible, mirrors the reference ecosystem's subword-nmt
  which also loops over a word-freq dict); larger tables run the same
  loop Spark-side (each round is one pair-count aggregation + one
  argmax + one column rewrite over the word table, proven equal to the
  driver loop in tests).
- ``bpe_tokenize``: apply the learned merges. Segmentation happens on
  the DISTINCT-word vocabulary (each word segmented ONCE however many
  times it occurs), then a join + one groupBy(doc) reassembly — the
  classic bounded-vocabulary trick that makes tokenization cost
  O(vocab) + one shuffle instead of O(corpus) expression work.

SQL-replayable by construction — the double-delimiter encoding:
a word's symbol sequence is stored as ``SEP*2 + SEP*2.join(symbols) +
SEP*2`` and merge (a, b) is the single string replacement
``SEP+a+SEP+SEP+b+SEP -> SEP+ab+SEP``. Each occurrence consumes one
delimiter from each side of the pair and leaves one for the
neighboring pair, so standard leftmost non-overlapping replace (Spark
``replace``, Python ``str.replace``, DuckDB ``replace`` — all the same
scan rule) applies the merge EXACTLY like the classic greedy
left-to-right symbol-tuple loop, including on runs of repeated
symbols ("aaaa" with merge (a,a) -> (aa)(aa), not (aa)(a)(a)). A
single-delimiter encoding would silently skip every other occurrence
in such runs; see test_bpe.py's run-of-repeats cases.

Ties in the pair-count argmax break deterministically on
(count DESC, first symbol ASC, second symbol ASC) — subword-nmt's
dict-order tie is not reproducible across engines, this is.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .binning import collect_capped

SEP = "\x1f"  # U+001F unit separator: stripped from input defensively
EOW = "</w>"  # end-of-word symbol (one symbol, never char-split)
# distinct-word tables up to this size are collected for the driver loop
_DRIVER_WORDS = 2_000_000


# ----------------------------------------------------------- encoding

def words_expr(text: str | Column) -> Column:
    """Whitespace-split word array with empties and any stray SEP
    characters removed — the shared normalization of fit and apply."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(
        F.split(F.regexp_replace(F.trim(c), SEP, ""), r"\s+"),
        lambda w: w != "",
    )


def seg_init_expr(word: Column) -> Column:
    """Initial segmentation: every character a symbol plus the EOW
    symbol, double-delimiter encoded."""
    return F.concat(
        F.lit(SEP + SEP),
        F.regexp_replace(word, "(.)", "$1" + SEP + SEP),
        F.lit(EOW + SEP + SEP),
    )


def apply_merges_expr(seg: Column, merges: list[tuple[str, str]]) -> Column:
    """Chained replace nodes — one per merge, in learned order. Pure
    JVM string ops (whole-stage codegen; Spark splits oversized
    generated methods itself)."""
    out = seg
    for a, b in merges:
        out = F.replace(
            out, F.lit(SEP + a + SEP + SEP + b + SEP), F.lit(SEP + a + b + SEP)
        )
    return out


def tokens_from_seg_expr(seg: Column) -> Column:
    """Decode a segmentation string back to the token array."""
    return F.filter(F.split(seg, SEP + SEP), lambda t: t != "")


# ------------------------------------------------------------- fitting

def _merge_tuple(seq: tuple[str, ...], a: str, b: str) -> tuple[str, ...]:
    """Greedy left-to-right merge of one pair in a symbol tuple —
    provably the same result as the encoded string replace."""
    out: list[str] = []
    i = 0
    while i < len(seq):
        if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(seq[i])
            i += 1
    return tuple(out)


def fit_bpe_py(
    word_freqs: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str]]:
    """Driver-side merge loop over a (word, count) table. Kept as a
    standalone pure function so oracles and tests can replay the fit
    from literals."""
    seqs = {w: tuple(w) + (EOW,) for w, _ in word_freqs}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, c in word_freqs:
            s = seqs[w]
            for p in zip(s, s[1:]):
                counts[p] = counts.get(p, 0) + c
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        a, b = best
        for w, s in seqs.items():
            if a in s and b in s:
                seqs[w] = _merge_tuple(s, a, b)
    return merges


def _word_freqs(corpus: DataFrame, text_col: str) -> DataFrame:
    return (
        corpus.select(F.explode(words_expr(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def fit_bpe(
    corpus: DataFrame,
    text_col: str = "text",
    n_merges: int = 100,
    min_count: int = 1,
) -> list[tuple[str, str]]:
    """Learn BPE merges from a corpus.

    ONE corpus pass builds (word, count); words below ``min_count`` are
    dropped (they cannot win an argmax that a kept word ties, and at
    web scale the hapax tail IS the table).

    Driver path: a distinct-word table of at most ``_DRIVER_WORDS``
    rows is collected (``binning.collect_capped`` — the driver never
    holds more than the cap) and ``fit_bpe_py`` loops over it.

    Distributed path (larger tables): the same algorithm with the word
    table kept in Spark. Per round: adjacent-pair explode -> ONE count
    aggregation (map-side combined; the shuffled unit is (pair, long))
    -> argmax to the driver (one row) -> one replace-column rewrite,
    localCheckpoint-ed so round r does not replay rounds 0..r-1.
    2 jobs x n_merges; equality with the driver loop is unit-tested.
    """
    wf = _word_freqs(corpus, text_col)
    if min_count > 1:
        wf = wf.where(F.col("cnt") >= min_count)
    rows = collect_capped(wf, _DRIVER_WORDS)
    if rows is not None:
        freqs = sorted((r["word"], r["cnt"]) for r in rows)
        return fit_bpe_py(freqs, n_merges)

    tbl = wf.select(seg_init_expr(F.col("word")).alias("seg"), "cnt")
    tbl = tbl.localCheckpoint()
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        syms = tokens_from_seg_expr(F.col("seg"))
        pairs = F.slice(
            F.zip_with(
                syms,
                F.slice(syms, 2, F.greatest(F.size(syms) - 1, F.lit(0))),
                lambda x, y: F.concat(x, F.lit(SEP), y),
            ),
            1,
            F.greatest(F.size(syms) - 1, F.lit(0)),
        )
        top = (
            tbl.select(F.explode(pairs).alias("p"), "cnt")
            .groupBy("p")
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), F.asc("p"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = top[0]["p"].split(SEP)
        merges.append((a, b))
        tbl = tbl.select(
            apply_merges_expr(F.col("seg"), [(a, b)]).alias("seg"), "cnt"
        ).localCheckpoint()
    return merges


# ---------------------------------------------------------- tokenizing

def bpe_tokenize(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "tokens",
) -> DataFrame:
    """Tokenize ``text_col`` with learned merges; adds ``out_col``
    (array<string>) preserving all other columns.

    Each DISTINCT word is segmented once (the chained-replace
    projection runs over the vocabulary table, inside codegen), the
    occurrences join to their segmentation and ONE groupBy reassembles
    each doc — word order restored via posexplode positions. AQE
    broadcasts the vocab side when it fits; at web scale it degrades to
    a shuffled equi-join on the word, never to per-occurrence
    expression work.
    """
    occ = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(words_expr(text_col)).alias("__pos", "__w"),
    )
    vocab = occ.select("__w").distinct().withColumn(
        "__toks",
        tokens_from_seg_expr(
            apply_merges_expr(seg_init_expr(F.col("__w")), merges)
        ),
    )
    per_doc = (
        occ.join(vocab, "__w")
        .groupBy("__id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__pos", "__toks"))
                    ),
                    lambda s: s["__toks"],
                )
            ).alias(out_col)
        )
    )
    return (
        df.join(per_doc, df[id_col] == per_doc["__id"], "left")
        .drop("__id")
        .withColumn(
            out_col, F.coalesce(F.col(out_col), F.array().cast("array<string>"))
        )
    )
