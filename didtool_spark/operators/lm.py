"""N-gram language-model perplexity scoring — the CCNet-style quality
filter (Wenzek et al. 2020: score web documents by the perplexity of a
small LM trained on a trusted corpus; low perplexity ~ fluent text).

The didtool reference has no LM scorer (its quality signals are the
IV/PSI family over tabular features); this operator extends the
training-data curation family (curate.py / decontam.py) with the one
standard filter they still lacked. Spark-first design:

- ``NgramLM.fit``: TWO distributed aggregations over the reference
  corpus — unigram counts and bigram counts (both with map-side
  combine; only (hashable token, count) rows shuffle, never text).
  The fitted state is a pair of SMALL DataFrames (vocab-sized), the
  didtool fit-state shape (SURVEY §1.1) at corpus scale.
- ``NgramLM.score``: pure JVM column expressions — per-position
  bigrams explode, the LM tables join in (broadcast while both fit
  ``_BROADCAST_ROWS``: a pruned LM is MBs; corpora are TBs — zero
  shuffle of the corpus), and one ``groupBy(doc_id)`` with partial
  aggregation re-folds the positions. No Python in the row path.

Model (deterministic, SQL-replayable — every constant is a literal):
  P_uni(w)     = (c(w) + k) / (N + k * (V + 1))      add-k smoothing,
                 one reserved unknown-word slot in the vocab size
  P(w2 | w1)   = lam * c(w1 w2)/c(w1) + (1 - lam) * P_uni(w2)
                 (Jelinek-Mercer interpolation; the bigram term is 0
                 when w1 is unseen or the bigram was pruned)
  first token  = P_uni alone (no begin-of-sentence context)
  avg_nll(doc) = -(log P(t1) + sum_i log P(t_i | t_{i-1})) / n_tokens
  perplexity   = exp(avg_nll)

Scale path (10^12 turns / 100 TB): ``min_count`` prunes both tables at
fit time — pruned unigrams fall into the shared unknown slot and pruned
bigrams back off to (1-lam)*P_uni, so the score stays well-defined and
the broadcast stays bounded (top-V vocab + surviving bigrams). The
pruning changes scores (documented divergence knob, default off) the
same way KenLM pruning does in the reference pipeline.

Storage note: fit() stores three vocab-sized tables — unigram counts,
bigram counts, and the pre-divided conditional ``bi_ratio`` (score()
joins exactly two of them) — as eager local checkpoints: no
CacheManager entry is made, and their blocks are freed once the model
and every plan built from it are gone.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from .decontam import _norm_tokens

__all__ = ["NgramLM", "lm_perplexity"]

# score() broadcasts the LM tables while vocab and bigram counts are
# both at most this; above, (doc_id, token) pairs shuffle, never text
_BROADCAST_ROWS = 1_000_000


def _bigram_structs(toks):
    """array<struct<w1,w2>> of adjacent token pairs (positions 2..n);
    EMPTY for arrays shorter than 2 (sequence(1, 0) would DESCEND and
    index out of bounds under ANSI). The index lambda reads the BOUND
    ``toks`` attribute (callers alias the token array first), so
    tokenization runs once per row, not per position — see
    window_concat_expr (text.py) for the failure mode."""
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.struct(
            F.element_at(toks, i).alias("w1"),
            F.element_at(toks, i + 1).alias("w2"),
        ),
    )
    return F.when(F.size(toks) >= 2, pairs).otherwise(
        F.array().cast("array<struct<w1:string,w2:string>>")
    )


@dataclass
class NgramLM:
    """Fitted bigram LM: two small DataFrames + the scalar constants.

    ``uni``:  (w, c)      unigram counts over the reference corpus
    ``bi``:   (w1, w2, c) bigram counts
    ``bi_ratio``: (w1, w2, ratio) with ratio = c(w1 w2) / c(w1) —
        the conditional term PRE-DIVIDED at fit time (one vocab-sized
        join, checkpointed), so score() needs exactly TWO lookups:
        this table on (w1, w2) and ``uni`` on w2. ratio is NULL when
        w1 was pruned from the vocab (falls into the backoff, same as
        a missing bigram).
    ``n_total``: total token count N;  ``v``: distinct vocab size V;
    ``n_bigrams``: rows of ``bi_ratio`` (with ``v``, picks the join).
    """

    uni: DataFrame
    bi: DataFrame
    bi_ratio: DataFrame
    n_total: int
    v: int
    k: float
    lam: float
    n_bigrams: int = 0

    @classmethod
    def fit(
        cls,
        corpus: DataFrame,
        col: str = "text",
        k: float = 0.5,
        lam: float = 0.8,
        min_count: int = 1,
    ) -> "NgramLM":
        """Fit unigram + bigram counts on ``corpus``. ``min_count``
        prunes both tables AFTER N/V are fixed from the unpruned
        counts, so pruning only moves probability into the backoff
        terms — it never changes the normalizer."""
        toks = corpus.select(_norm_tokens(F.col(col)).alias("__toks")).where(
            F.size("__toks") > 0
        )
        # Checkpoint both fitted tables eagerly: they are vocab-sized,
        # but their PLANS each contain a full corpus scan, and the
        # model's score() plans keep reading them — without this each
        # reference would re-scan the corpus.
        uni = (
            toks.select(F.explode("__toks").alias("w"))
            .groupBy("w")
            .agg(F.count("*").alias("c"))
            .localCheckpoint(eager=True)
        )
        bi = (
            toks.where(F.size("__toks") > 1)
            .select(F.explode(_bigram_structs(F.col("__toks"))).alias("p"))
            .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
            .agg(F.count("*").alias("c"))
            .localCheckpoint(eager=True)
        )
        # one tiny action for the two scalars (vocab-sized input)
        tot = uni.agg(
            F.sum("c").alias("n"), F.count("*").alias("v")
        ).collect()[0]
        if min_count > 1:
            uni = uni.where(F.col("c") >= min_count)
            bi = bi.where(F.col("c") >= min_count)
        # pre-divide the conditional term (vocab-sized join over the two
        # checkpointed tables, itself checkpointed, so every score()
        # plan reads only the two stored tables): the division over
        # (pruned) unigram counts is bit-identical whether it runs here
        # or per scored position
        bi_ratio = (
            bi.join(
                uni.select(F.col("w").alias("__rw"), F.col("c").alias("__c1")),
                F.col("w1") == F.col("__rw"),
                "left",
            )
            .select(
                "w1",
                "w2",
                (F.col("c").cast("double") / F.col("__c1").cast("double")).alias(
                    "ratio"
                ),
            )
            .localCheckpoint(eager=True)
        )
        return cls(
            uni=uni, bi=bi, bi_ratio=bi_ratio,
            n_total=int(tot["n"]), v=int(tot["v"]),
            k=float(k), lam=float(lam), n_bigrams=bi_ratio.count(),
        )

    def _p_uni(self, c_col):
        denom = float(self.n_total) + self.k * (self.v + 1)
        return (F.coalesce(c_col, F.lit(0.0)) + F.lit(self.k)) / F.lit(denom)

    def score(
        self,
        df: DataFrame,
        col: str = "text",
        id_col: str = "doc_id",
    ) -> DataFrame:
        """(id_col, n_tokens, avg_nll, perplexity) per document with at
        least one token. The LM tables are broadcast while both fit
        ``_BROADCAST_ROWS``; larger LMs join by shuffle equi-joins.

        Single-stream design: every position — the unigram-only first
        token rides a (w1=NULL, w2=t1) row — flows through ONE stream
        with exactly TWO left lookups: ``bi_ratio`` on (w1, w2) (the
        conditional term pre-divided at fit) and ``uni`` on w2. The
        plan carries two BroadcastExchange nodes total (plan-asserted
        in test_lm.py), where the former first/interior/backoff split
        built three; one groupBy(id) folds everything."""
        bcast = max(self.v, self.n_bigrams) <= _BROADCAST_ROWS
        hint = F.broadcast if bcast else (lambda d: d)
        uni = hint(self.uni.select("w", F.col("c").cast("double").alias("__cu")))
        bir = hint(
            self.bi_ratio.select(
                F.col("w1").alias("__bw1"),
                F.col("w2").alias("__bw2"),
                F.col("ratio").alias("__ratio"),
            )
        )

        toks = df.select(
            F.col(id_col), _norm_tokens(F.col(col)).alias("__toks")
        ).where(F.size("__toks") > 0)

        # one row per position: (NULL, t1) then (t_{i-1}, t_i)
        positions = F.concat(
            F.array(
                F.struct(
                    F.lit(None).cast("string").alias("w1"),
                    F.element_at("__toks", 1).alias("w2"),
                )
            ),
            _bigram_structs(F.col("__toks")),
        )
        pos = (
            toks.select(
                F.col(id_col),
                F.size("__toks").alias("n_tokens"),
                F.explode(positions).alias("p"),
            )
            .select(
                id_col,
                "n_tokens",
                F.col("p.w1").alias("w1"),
                F.col("p.w2").alias("w2"),
            )
            .join(
                bir,
                (F.col("w1") == F.col("__bw1")) & (F.col("w2") == F.col("__bw2")),
                "left",
            )
            .join(uni, F.col("w2") == F.col("w"), "left")
        )
        # first token (w1 NULL): unigram-only; else Jelinek-Mercer
        lp = F.when(
            F.col("w1").isNull(), F.log(self._p_uni(F.col("__cu")))
        ).otherwise(
            F.log(
                F.lit(self.lam) * F.coalesce(F.col("__ratio"), F.lit(0.0))
                + F.lit(1.0 - self.lam) * self._p_uni(F.col("__cu"))
            )
        )
        return (
            pos.groupBy(id_col)
            .agg(
                F.first("n_tokens").alias("n_tokens"),
                F.sum(lp).alias("__lps"),
            )
            .select(
                id_col,
                "n_tokens",
                (-F.col("__lps") / F.col("n_tokens")).alias("avg_nll"),
            )
            .withColumn("perplexity", F.exp("avg_nll"))
        )


def lm_perplexity(
    df: DataFrame,
    corpus: DataFrame | None = None,
    col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.5,
    lam: float = 0.8,
    min_count: int = 1,
) -> DataFrame:
    """One-call form: fit on ``corpus`` (default: ``df`` itself — the
    self-scored form used for relative quality ranking), score ``df``."""
    lm = NgramLM.fit(corpus if corpus is not None else df, col, k, lam, min_count)
    return lm.score(df, col, id_col)
