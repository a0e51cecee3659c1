"""Deduplication for web-scale corpora: exact, MinHash+LSH, SimHash,
n-gram Jaccard. Everything is DataFrame expressions + joins; the
signature folds (minhash affine mins, simhash vote sums) default to
Arrow-batched numpy kernels with bit-identical pure-JVM expression
siblings (``compute='expr'``) — never row-at-a-time Python. String
hashing always stays JVM-side (one xxhash64 pass). Candidates come from
an equi-join on band buckets (shuffle on band key — the LSH point is
precisely that this replaces the O(n²) cross join), and verification is
an exact shingle-Jaccard on candidate pairs only.

Scale notes: at 10^12 docs the band-bucket groupBy is the only shuffle;
hot buckets (boilerplate shingles) are bounded by ``max_bucket`` —
buckets above it are dropped — no silent cap: ``minhash_bucket_stats``
returns the dropped-bucket table (band, bucket, count) so a pipeline
can report exactly what was excluded (they are near-identical
boilerplate clusters handled by exact dedup).

Caching note: minhash_near_dupes and ngram_jaccard_pairs store bounded
intermediates (band table / pair set / inverted index) that the
returned lazy DataFrame reads as eager local checkpoints: no
CacheManager entry is made, and the blocks are freed once no plan
references them.
"""

from __future__ import annotations

from typing import NamedTuple

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.utils import bounded_pull, persisted
from .text import tokens_expr, window_concat_expr


# ----------------------------------------------------------------- exact

def exact_dupes(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: canonical = min id per normalized-text
    hash. Returns (id, canonical_id, is_dup)."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    h = df.select(F.col(id_col), F.md5(norm).alias("__h"))
    canon = h.groupBy("__h").agg(F.min(id_col).alias("canonical_id"))
    return (
        h.join(canon, "__h")
        .select(
            id_col,
            "canonical_id",
            (F.col(id_col) != F.col("canonical_id")).cast("int").alias("is_dup"),
        )
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
    out_col: str = "text_clean",
) -> DataFrame:
    """Paragraph-level exact dedup across the corpus (RefinedWeb-style):
    a paragraph is kept only in its FIRST occurrence — the smallest
    (doc id, position) over all documents containing an identical
    (whitespace-normalized, case-folded) copy — and every document is
    reassembled from its surviving paragraphs in original order.

    Returns (id, out_col, n_paras, n_kept). Documents whose every
    paragraph occurred earlier elsewhere come back with ``out_col = ''``
    and ``n_kept = 0`` (the caller decides whether to drop empties).

    Plan: posexplode -> md5-of-normalized-paragraph -> groupBy(hash)
    min(struct(id, pos)) (map-side combined; the shuffle carries one
    row per distinct paragraph) -> join back on hash -> single
    groupBy(id) reassembly where collect_list skips the dropped
    paragraphs via when()-null (collect_list drops nulls), array_sort
    restores document order. Two shuffles total (paragraph hash, doc
    id); no window, no driver state. At 10^12 docs the hash groupBy is
    the only wide dependency and boilerplate hot paragraphs are
    *aggregated*, not co-located row-by-row.
    """
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep, -1)).alias("__pos", "__para"),
    )
    norm = F.regexp_replace(F.trim(F.lower(F.col("__para"))), r"\s+", " ")
    hashed = paras.withColumn("__h", F.md5(norm))
    first = hashed.groupBy("__h").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("__pos").alias("p"))).alias(
            "__first"
        )
    )
    kept = hashed.join(first, "__h").withColumn(
        "__keep",
        (F.col("__first.i") == F.col(id_col)) & (F.col("__first.p") == F.col("__pos")),
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count("*").cast("int").alias("n_paras"),
        F.sum(F.col("__keep").cast("int")).cast("int").alias("n_kept"),
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__keep"),
                            F.struct(F.col("__pos").alias("p"), F.col("__para").alias("t")),
                        )
                    )
                ),
                lambda s: s["t"],
            ),
        ).alias(out_col),
    )
    return rebuilt.select(id_col, out_col, "n_paras", "n_kept")


# --------------------------------------------------------------- shingles

def shingles_expr(text_col: str | Column, k: int = 5) -> Column:
    """Distinct word k-shingles of the lowercased text. Documents
    shorter than k tokens yield ONE shingle of all their tokens.

    Built on ``window_concat_expr`` (zip_with chain, no lambda capture):
    tokenize cost is O(k) per row, and the expression stays safe to
    collapse into a pandas-UDF argument — an index lambda capturing the
    token subtree would re-tokenize per position AND break PythonUDF
    extraction (see window_concat_expr)."""
    return F.array_distinct(window_concat_expr(tokens_expr(text_col), k))


def jaccard_expr(a: Column, b: Column) -> Column:
    """Exact Jaccard of two (distinct-element) arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


# ---------------------------------------------------------------- minhash

MINHASH_P = (1 << 31) - 1  # Mersenne field for the affine hash family


def base_hash_expr(shingles: Column) -> Column:
    """One xxhash64 per shingle, folded into [0, 2^31-1) — the single
    string-hash pass every MinHash function derives from."""
    return F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(MINHASH_P)))


def _minhash_coeffs(n_hashes: int) -> list[tuple[int, int]]:
    """The seeded (a, b) affine-family coefficients — ONE definition
    shared by the expression kernel, the Arrow kernel, and any SQL
    replay, so signatures can never desynchronize between paths."""
    import random

    rng = random.Random(0xD1D7)
    return [
        (rng.randrange(1, MINHASH_P), rng.randrange(0, MINHASH_P))
        for _ in range(n_hashes)
    ]


def minhash_arrow_udf(n_hashes: int = 32):
    """Arrow-vectorized sibling of minhash_expr: base-hash array<long>
    -> signature array<long>. String hashing stays JVM-side
    (xxhash64 in base_hash_expr); this kernel only does the affine
    mins — one (n_hashes x len) integer broadcast per document vs
    len * n_hashes interpreted aggregate/zip_with lambda evaluations
    on the expression path. Products stay < 2^62 (a, h < 2^31), so
    int64 math is exact and parity with the JVM kernel is bit-exact
    (asserted in tests)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    coeffs = _minhash_coeffs(n_hashes)
    A = np.array([a for a, _ in coeffs], dtype=np.int64)[:, None]
    B = np.array([b for _, b in coeffs], dtype=np.int64)[:, None]
    empty_sig = [MINHASH_P] * n_hashes  # == the aggregate's init array

    @pandas_udf("array<long>")
    def mh(hs: pd.Series) -> pd.Series:
        out: list[list[int] | None] = []
        for h in hs:
            if h is None:
                # NULL base-hash array (null text) -> NULL signature,
                # same as the expression kernel
                out.append(None)
                continue
            hv = np.asarray(h, dtype=np.int64)
            if len(hv) == 0:
                out.append(list(empty_sig))
                continue
            mins = ((A * hv[None, :] + B) % MINHASH_P).min(axis=1)
            out.append([int(v) for v in mins])
        return pd.Series(out, dtype="object")

    return mh


def minhash_expr(hashes: Column, n_hashes: int = 32) -> Column:
    """MinHash signature from a MATERIALIZED base-hash array: the i-th
    hash is min over (a_i*h + b_i mod p) with fixed seeded coefficients
    — string hashing happens once (base_hash_expr), not n_hashes times;
    the per-function work is two integer ops per element (products stay
    < 2^62, so no ANSI overflow).

    Shape: ONE ``aggregate`` over the hash array whose accumulator is
    the running array of n_hashes mins, merged per element with a
    ``zip_with`` against a literal (a, b) coefficient array — instead of
    n_hashes separate transform+array_min columns. Same signatures
    (asserted in tests), but the plan carries 2 HOF nodes instead of
    2*n_hashes, which cuts per-action analysis time — the banded table
    is analyzed by every job of the dedup pipeline."""
    entries = [
        f"named_struct('a', CAST({a} AS BIGINT), 'b', CAST({b} AS BIGINT))"
        for a, b in _minhash_coeffs(n_hashes)
    ]
    ab = F.expr("array(" + ",".join(entries) + ")")
    init = F.expr(f"array_repeat(CAST({MINHASH_P} AS BIGINT), {n_hashes})")

    def merge(acc, h):
        # closure over h (a bound lambda var): pyspark counts python
        # params, so inner lambdas must close over it, not default-arg it
        def inner(m, s):
            return F.least(m, F.pmod(s["a"] * h + s["b"], F.lit(MINHASH_P)))

        return F.zip_with(acc, ab, inner)

    return F.aggregate(hashes, init, merge)


def _docs_table(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    # signature computation is expression-heavy (higher-order functions
    # are interpreted, not codegen'd): spread it across the cluster even
    # when the source is a single small file
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    return df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))


def band_buckets_expr(sig: Column, n_hashes: int, bands: int) -> Column:
    """array<struct<band,bucket>> from a MATERIALIZED signature column —
    the ONE band/bucket definition (bucket = xxhash64 of the band's
    comma-joined signature rows) shared by every consumer, batch or
    streaming, so band identity can never desynchronize."""
    rows = n_hashes // bands
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        *[sig[b * rows + r].cast("string") for r in range(rows)],
                    )
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )


def _minhash_banded(
    docs: DataFrame, k_shingle: int, n_hashes: int, bands: int,
    compute: str = "arrow",
) -> DataFrame:
    """(id, band, bucket) band table — the ONE banding definition shared
    by minhash_near_dupes and minhash_bucket_stats, so the reported
    dropped-bucket table can never desynchronize from what near_dupes
    actually drops. Staged selects so each expensive array materializes
    once per row: shingles -> one string-hash pass -> n_hashes affine
    mins, the last via the Arrow kernel by default ('expr' = pure-JVM
    aggregate/zip_with; bit-identical signatures either way, asserted
    in tests)."""
    hashed = docs.select(
        "id", shingles_expr(F.col("__text"), k_shingle).alias("sh")
    ).select("id", base_hash_expr(F.col("sh")).alias("hs"))
    if compute == "arrow":
        sig = hashed.select(
            "id", minhash_arrow_udf(n_hashes)(F.col("hs")).alias("sig")
        )
    elif compute == "expr":
        sig = hashed.select(
            "id", minhash_expr(F.col("hs"), n_hashes).alias("sig")
        )
    else:
        raise ValueError(f"unknown compute `{compute}`")
    return sig.select(
        "id",
        F.explode(band_buckets_expr(F.col("sig"), n_hashes, bands)).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_near_dupes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 5,
    n_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.6,
    max_bucket: int = 1000,
    compute: str = "arrow",
) -> DataFrame:
    """shingle -> minhash -> band -> bucket-join -> exact-Jaccard verify.
    Returns verified pairs (id_a < id_b, jaccard >= threshold).
    Buckets holding more than ``max_bucket`` docs are dropped by a
    map-side anti-join before the self-join (skew-safe at any bucket
    size). ``compute``: 'arrow' (default — numpy affine-min kernel per Arrow
    batch) or 'expr' (pure-JVM lambda expressions; bit-identical
    signatures).

    Shuffle hygiene (the 100 TB path): only (id, band, bucket) rides the
    band explode and the candidate self-join — carrying the shingle
    arrays would multiply shuffled bytes by bands x shingle-size. The
    deduped candidate pair set (orders of magnitude smaller than the
    corpus) is checkpointed, its ids are joined back to the source, and
    shingles are recomputed ONLY for candidate rows: the shingle
    projection sits above the id join, so the interpreted shingle
    lambda never runs for non-candidate docs in the verify pass."""
    docs = _docs_table(df, text_col, id_col)
    banded = _minhash_banded(docs, k_shingle, n_hashes, bands, compute)

    # bound hot buckets (boilerplate clusters): bucket sizes via a
    # partial-aggregated groupBy (map-side combine — no task ever holds
    # a whole hot bucket) and a broadcast anti-join that drops hot rows
    # MAP-SIDE, before any shuffle co-locates them. The slim (id, band,
    # bucket) table feeds the sizes aggregate and both self-join sides,
    # so the signature pipeline runs once into an eager local
    # checkpoint (no CacheManager entry; its blocks are freed with the
    # last plan that reads them)
    banded = banded.localCheckpoint(eager=True)
    sizes = banded.groupBy("band", "bucket").count()
    banded = banded.join(
        F.broadcast(sizes.where(F.col("count") > max_bucket)),
        ["band", "bucket"],
        "left_anti",
    )

    a = banded.alias("a")
    b = banded.alias("b")
    # the pair set feeds TWO consumers of the returned plan (the id set
    # and the verify join): filling it in its own job runs the LSH DAG
    # exactly once.  Checkpointing it from the filled cache gives the
    # checkpoint the measured size, not the self-join's estimate, so the
    # pair joins below still plan as broadcasts.
    with persisted() as keep:
        cands = keep(
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        cands.count()
        cands = cands.select("*").localCheckpoint(eager=True)
    ids = (
        cands.select(F.col("id_a").alias("id"))
        .union(cands.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # shingles recomputed ONLY for candidate rows: the projection sits
    # above the id join (non-candidates never evaluate the lambda) and
    # below the pair joins (a join boundary, so CollapseProject cannot
    # inline the interpreted shingle lambda into the jaccard expression
    # and re-evaluate it per reference). No broadcast hint: AQE
    # broadcasts the small side; at scale a shuffle join is correct.
    sh_tbl = docs.join(ids, "id").select(
        "id", shingles_expr(F.col("__text"), k_shingle).alias("sh")
    )
    verified = (
        cands.join(
            sh_tbl.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
        )
        .join(
            sh_tbl.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b"
        )
        .withColumn("jaccard", jaccard_expr(F.col("sh_a"), F.col("sh_b")))
    )
    return verified.where(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def minhash_bucket_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 5,
    n_hashes: int = 32,
    bands: int = 16,
    max_bucket: int = 1000,
    compute: str = "arrow",
) -> DataFrame:
    """The (band, bucket, count) rows that minhash_near_dupes' hot-bucket
    bound EXCLUDES with the same parameters — report these alongside the
    pair output so the cap is never silent. Shares _minhash_banded with
    near_dupes, so the two can never disagree on bucket identity."""
    banded = _minhash_banded(
        _docs_table(df, text_col, id_col), k_shingle, n_hashes, bands, compute
    )
    return (
        banded.groupBy("band", "bucket")
        .count()
        .where(F.col("count") > max_bucket)
    )


# ---------------------------------------------------------------- simhash

def simhash_votes_expr(hashes: Column, bits: int = 64) -> Column:
    """Per-bit vote sums (array<long>[bits]) from a MATERIALIZED
    token-hash array: Σ over tokens of ±1 per bit. The lambda variable
    ``h`` is a bound value, so referencing it ``bits`` times costs bit
    ops only — hashing each token string happens ONCE, in the caller's
    prior select (inlining xxhash64 here would re-hash every token
    ``bits`` times)."""
    return F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    (
                        F.shiftright(h, j).bitwiseAND(F.lit(1)) * 2 - 1
                    ).cast("long")
                    for j in range(bits)
                ]
            ),
            lambda x, y: x + y,
        ),
    )


def simhash_from_votes(votes: Column, bits: int = 64) -> Column:
    """Fold vote signs into the 64-bit signature. Keep ``votes`` a
    materialized column (two-step select) so the aggregate isn't
    duplicated 64x in the plan."""
    out = F.lit(0).cast("long")
    for j in range(bits):
        mask = (1 << j) if j < 63 else -(1 << 63)  # bit 63 = sign bit
        out = out.bitwiseOR(
            F.when(votes[j] > 0, F.lit(mask).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return out


def simhash_arrow_udf(bits: int = 64):
    """Arrow-vectorized sibling of simhash_votes_expr +
    simhash_from_votes: token-hash array<long> -> 64-bit signature.
    Token STRING hashing stays JVM-side (xxhash64 in the caller's
    select); this kernel only does the integer vote fold — numpy bit
    unpack + sum per document vs 2*bits interpreted lambda ops per
    token on the expression path. Integer math throughout, so parity
    with the JVM kernel is bit-exact (asserted in tests)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    shifts = np.arange(bits, dtype=np.uint64)

    @pandas_udf("long")
    def sim(hs: pd.Series) -> pd.Series:
        out: list[int | None] = []
        for h in hs:
            if h is None:
                # NULL token array (null text) -> NULL signature, same
                # as the expression kernel; the chunk equi-join then
                # drops the row (null keys never match)
                out.append(None)
                continue
            hv = np.asarray(h, dtype=np.int64).astype(np.uint64)
            onebits = (hv[:, None] >> shifts[None, :]) & np.uint64(1)
            votes = 2 * onebits.astype(np.int64).sum(axis=0) - len(hv)
            sig = ((votes > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64)
            out.append(int(sig.astype(np.int64)))
        return pd.Series(out, dtype="object")

    return sim


def simhash_near_dupes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    compute: str = "arrow",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64 bits into 4 16-bit chunks
    (pigeonhole: hamming<=3 pairs share >=1 exact chunk), bucket-join,
    verify hamming distance. ``compute``: 'arrow' (default — numpy vote
    fold per Arrow batch) or 'expr' (pure-JVM lambda expressions, the
    reference kernel; both produce bit-identical signatures).
    ``hash_fn``: 'xxhash64' (default — fastest JVM token hash) or
    'md5_60' (60-bit hash from the first 15 md5 hex chars — slower, but
    reproducible in any engine with md5, which makes the whole simhash
    pipeline independently checkable in SQL; bits 60-63 then never
    vote positive, identically in both engines)."""
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    if hash_fn == "md5_60":
        tok_hash = lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")
    elif hash_fn == "xxhash64":
        tok_hash = lambda t: F.xxhash64(t)
    else:
        raise ValueError(f"unknown hash_fn `{hash_fn}`")
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.transform(tokens_expr(text_col), tok_hash).alias("hs"),
    )
    if compute == "arrow":
        sig = hashed.select("id", simhash_arrow_udf()(F.col("hs")).alias("sim"))
    else:
        sig = hashed.select(
            "id", simhash_votes_expr(F.col("hs")).alias("votes")
        ).select("id", simhash_from_votes(F.col("votes")).alias("sim"))
    chunks = sig.select(
        "id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("sim"), c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ck"),
    ).select("id", "sim", F.col("ck.chunk").alias("chunk"), F.col("ck.key").alias("key"))
    a, b = chunks.alias("a"), chunks.alias("b")
    # hamming-verify BEFORE the pair dedup: the bit_count filter is a
    # per-row expression evaluated inside the join stage, so candidate
    # pairs that fail it never enter the dropDuplicates exchange —
    # filter commutes with distinct, the surviving pair set is
    # identical, and the dedup shuffle shrinks from every
    # shared-chunk pair to only the hamming<=k ones (guide §2.3:
    # shuffle fewer bytes; hot signature buckets otherwise explode
    # quadratically into the exchange)
    ham = F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim")))
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .where(ham <= max_hamming)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "hamming")
    )


class NearDupIndex(NamedTuple):
    """Static MinHash index of a reference corpus: band table for
    candidate generation, shingle table for exact verification, and
    the banding PARAMETERS baked in — a querier that re-specified
    k_shingle/n_hashes/bands and got them wrong would silently match
    nothing (different bucket hashes), so the parameters travel with
    the index instead."""

    bands_df: DataFrame
    shingles_df: DataFrame
    k_shingle: int
    n_hashes: int
    bands: int


def near_dup_index(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 5,
    n_hashes: int = 32,
    bands: int = 16,
) -> NearDupIndex:
    """Build the static near-dup index of a reference corpus for
    INCREMENTAL checking: (id, band, bucket) for candidate generation
    and (id, sh) for exact verification. Build once per corpus
    snapshot, write both frames to parquet partitioned/bucketed by
    their join keys; new documents (batch increments or a stream — see
    streaming.stream.streaming_near_dup_matches) equi-join the band
    index and verify against the shingle index without ever touching
    the corpus text again. Same banding expression as
    minhash_near_dupes (band_buckets_expr), so an index lookup and a
    full self-dedup can never disagree on candidates."""
    docs = _docs_table(corpus, text_col, id_col)
    banded = _minhash_banded(docs, k_shingle, n_hashes, bands)
    shingles = docs.select(
        "id", shingles_expr(F.col("__text"), k_shingle).alias("sh")
    )
    return NearDupIndex(banded, shingles, k_shingle, n_hashes, bands)


# ----------------------------------------------------------- ngram jaccard

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 5,
    threshold: float = 0.6,
    min_df_prune: int = 10000,
) -> DataFrame:
    """Exact n-gram-Jaccard duplicate pairs via an inverted shingle
    index (explode -> self-join on shingle -> count common -> Jaccard).
    Exact but heavier than MinHash — the oracle-grade ground truth
    **with min_df_prune=None**. With pruning on, the Jaccard is exact
    over the RETAINED shingle universe only, which can land on either
    side of the true value: a pair sharing pruned boilerplate loses
    intersection (under-report), a pair where only one side carries
    pruned shingles loses union (over-report — near-dup on their rare
    content). For oracle use disable pruning; for corpus-scale runs
    prefer MinHash and treat this with pruning as a
    boilerplate-insensitive similarity, not true Jaccard."""
    df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    # materialize shingles once via the inverted index (the shingle
    # lambda expression is interpreted — evaluating it twice for a
    # separate sizes pass doubles the dominant cost)
    inv = df.select(
        F.col(id_col).alias("id"),
        F.explode(shingles_expr(text_col, k_shingle)).alias("s"),
    )
    # the inverted index feeds up to four consumers of the returned
    # plan (df-prune counts, per-doc sizes, both self-join sides):
    # checkpoint it eagerly so the interpreted shingle lambda runs once
    # — storing the exploded index is the standard trade for this
    # oracle-grade exact tool (MinHash is the low-memory 100 TB path)
    inv = inv.localCheckpoint(eager=True)
    # prune ultra-common shingles (stopword boilerplate) for scalability.
    # Numerator AND denominators are computed over the retained shingle
    # universe (sizes post-prune), so the Jaccard is exact over that
    # universe — with min_df_prune=None it is exact, full stop.
    if min_df_prune is not None:
        common = inv.groupBy("s").count().where(F.col("count") > min_df_prune)
        inv = inv.join(F.broadcast(common), "s", "left_anti")
    sizes = inv.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = inv.alias("a"), inv.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "n_sh": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n_sh": "n_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
    )
    return out.where(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


# ------------------------------------------------- connected components

def _edge_checksum(e: DataFrame) -> tuple[int, int]:
    # sum of 64-bit hashes overflows long (ANSI mode throws): fold in
    # decimal(38,0) — still order-insensitive and collision-resistant
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


def _driver_union_find(edges: list[tuple[int, int]]):
    """Exact union-find over a collected edge list; returns
    {node: min-node-of-component} — identical labels to the
    distributed fixpoint."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # second pass: root then min-label (roots are already the min by
    # construction — we always parent the larger root to the smaller)
    return {x: find(x) for x in parent}


def _numpy_union_find(u, v):
    """Vectorized exact components over two id columns: min-label
    propagation with pointer jumping — every pass is a handful of O(E)
    numpy kernels, so millions of edges resolve in well under a second
    where the dict-based union-find above spends seconds in the
    interpreter.  Returns (node_ids, component_min_id) with the SAME
    labels as ``_driver_union_find`` (component = min node id): labels
    only ever decrease, a fixpoint is constant on every edge, and since
    labels always index nodes INSIDE the component (ids factorized in
    sorted order; a masked-float NaN sorts last, as in Spark) the
    constant can only be the component's min index (parity asserted in
    tests/test_pipeline_ops.py)."""
    import numpy as np

    m = len(u)
    codes, ids = pd.factorize(
        pd.concat([pd.Series(u), pd.Series(v)], ignore_index=True), sort=True
    )
    iu, iv = codes[:m], codes[m:]
    lbl = np.arange(len(ids), dtype=np.int64)
    while True:
        prev = lbl
        mn = np.minimum(lbl[iu], lbl[iv])
        lbl = lbl.copy()
        np.minimum.at(lbl, iu, mn)
        np.minimum.at(lbl, iv, mn)
        # pointer jumping: label of my label (two hops per pass)
        lbl = np.minimum(lbl, lbl[lbl])
        lbl = np.minimum(lbl, lbl[lbl])
        if np.array_equal(lbl, prev):
            break
    return ids, ids[lbl]


# driver union-find cap: 30M raw edges is ~480 MB of longs on the driver
# and about a second of numpy; a near-dup pair graph only exceeds it at
# corpus scales where the iterative path is the point
_DRIVER_EDGES = 30_000_000


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 50,
) -> DataFrame:
    """Resolve a candidate-pair graph into components: (id, component)
    with ``component`` = the MIN node id of each connected component.
    Nodes appearing in no pair are absent (callers coalesce to self —
    see ``dedup_clusters``).  Edges with a NULL id never match and are
    dropped.

    Graphs of at most ``_DRIVER_EDGES`` raw edges resolve on the driver
    by the exact vectorized union-find (``_numpy_union_find``) over one
    ``functions.utils.bounded_pull``; larger ones take the distributed
    path below.

    Algorithm (distributed path): alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the standard shuffle-based CC that converges in O(log n)
    rounds regardless of graph diameter (plain min-label propagation
    needs O(diameter) rounds and dies on chain-shaped dup clusters).

    Scale notes (the 100 TB path):
    - Each round is two groupBy-min passes + equi-joins on the edge
      table. Neighbor lists are NEVER collected into a task: the
      per-node minimum comes from a partially-aggregated groupBy
      (map-side combine), so a boilerplate hub with 10^8 neighbors
      costs one scalar per map task, and the join back emits one row
      per edge — hub skew is spread across whatever partitions its
      edges already occupy (AQE skew-join splits the probe side).
    - The edge set SHRINKS monotonically toward one star per
      component, so later rounds are cheaper than early ones.
    - ``localCheckpoint`` truncates the per-round lineage (an
      iterative join chain would otherwise grow the plan
      exponentially). On a real cluster with executor loss concerns,
      set a reliable ``spark.sparkContext.setCheckpointDir`` and swap
      in ``checkpoint()`` — same semantics, HDFS-backed.
    - Convergence is detected by an (edge-count, xxhash64-sum)
      checksum — one tiny aggregate per round, no expensive
      ``exceptAll`` diff.
    """
    # Persist the input edges: the driver pull reads them twice (count
    # + pull), the iterative path's distinct checkpoint once after the
    # count, and an uncached pair lineage (e.g. the whole MinHash
    # candidate pipeline) would re-execute per read.  The scope
    # releases them as soon as `pdf` or `e` holds the edges.  Union-find
    # is idempotent under duplicate/reversed edges, so only the
    # iterative path pays for the `.distinct()` shuffle.
    with persisted() as keep:
        e_raw = keep(
            pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
            .where(F.col("u") != F.col("v"))
        )
        pdf = bounded_pull(e_raw, _DRIVER_EDGES)
        if pdf is None:
            e = e_raw.distinct().localCheckpoint(eager=True)
    if pdf is not None:
        ids, comp = _numpy_union_find(pdf["u"], pdf["v"])
        t = e_raw.schema["u"].dataType.simpleString()
        return pairs.sparkSession.createDataFrame(
            pd.DataFrame({"id": ids, "component": comp}),
            schema=f"id {t}, component {t}",
        )
    prev = None
    for _ in range(max_rounds):
        # ---- large-star: connect strictly-larger neighbors to the min
        und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = (
            und.groupBy("u")
            .agg(F.min("v").alias("__mn"))
            .select("u", F.least("__mn", "u").alias("m"))
        )
        e = (
            und.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
            # small-star reads this twice (the o->m agg and the o join):
            # materialize so the large-star join chain runs once
            .localCheckpoint(eager=True)
        )
        # ---- small-star: orient max->min, connect smaller nbrs to min
        o = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        m = o.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            o.join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        cur = _edge_checksum(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    # fixpoint: every edge is (node, component-min); roots map to selves
    labels = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("id"), F.col("v").alias("component"))
    return labels.union(roots).distinct()


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    **minhash_kw,
) -> DataFrame:
    """Full near-dup cluster resolution: candidate pairs (MinHash-LSH by
    default, or any (id_a, id_b) pair frame) -> transitive closure ->
    one canonical doc per cluster. Returns one row per INPUT document:
    (id_col, cluster_id, is_dup) with cluster_id = min doc id of the
    near-dup component (own id for singletons) and is_dup = 1 for every
    non-canonical member — the "keep one per cluster" flag pair-level
    dedup cannot provide (pairs are not transitive: A~B, B~C but A!~C
    must still collapse to one cluster).

    reference parity: didtool has no corpus dedup; this is the
    train-data-pipeline mandate. The pair graph is orders of magnitude
    smaller than the corpus (only near-dup members appear), so the CC
    iteration runs on a tiny fraction of the data; the final join back
    to ``df`` is a left equi-join AQE will broadcast when the dup set
    is small."""
    if pairs is None:
        pairs = minhash_near_dupes(df, text_col, id_col, **minhash_kw)
    cc = connected_components(pairs, "id_a", "id_b")
    return df.select(F.col(id_col)).join(
        cc.withColumnRenamed("id", id_col), id_col, "left"
    ).select(
        F.col(id_col),
        F.coalesce("component", F.col(id_col)).alias("cluster_id"),
        (F.col(id_col) != F.coalesce("component", F.col(id_col)))
        .cast("int")
        .alias("is_dup"),
    )


def split_by_cluster(
    df: DataFrame,
    pairs: DataFrame | None = None,
    test_frac: float = 0.1,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 0,
    group_col: str = "group",
    **minhash_kw,
) -> DataFrame:
    """Contamination-safe train/test split: assign whole NEAR-DUP
    CLUSTERS to one side, never individual documents — a per-document
    split leaks test content into train through its near-duplicates
    (the standard eval-contamination failure; decontaminate() guards
    against a KNOWN benchmark, this guards the corpus against its own
    split). group 0 = train, 1 = test, decided by a deterministic md5
    Bernoulli on the CLUSTER id (same portable hash rule as
    stratified_sample), so the split is reproducible under any
    partitioning and cluster co-assignment is structural, not sampled.

    Returns df + (cluster_id, ``group_col``); downstream didtool-parity
    operators (split_data, GBMModelSingle) consume ``group_col``
    directly."""
    from .curate import _hash_unit

    assign = dedup_clusters(
        df, pairs=pairs, text_col=text_col, id_col=id_col, **minhash_kw
    )
    assign = assign.select(
        id_col,
        "cluster_id",
        (_hash_unit(F.col("cluster_id"), seed) < F.lit(float(test_frac)))
        .cast("int")
        .alias(group_col),
    )
    return df.join(assign, id_col)


# ------------------------------------------- exact substring (window-hash)

def _window_hashes(toks: Column, k: int) -> Column:
    """xxhash64 of every k-token window (array<bigint>, element i =
    hash of toks[i..i+k-1]); fewer than k tokens -> empty array (a doc
    shorter than the window can never carry a duplicated substring of
    length k — unlike shingles_expr, which falls back to a whole-doc
    shingle for near-dup recall). Built on window_concat_expr (zip_with
    chain — O(k) tokenize evaluations per row, no lambda capture)."""
    return F.when(
        F.size(toks) >= k,
        F.transform(window_concat_expr(toks, k), lambda g: F.xxhash64(g)),
    ).otherwise(F.array().cast("array<bigint>"))


def _dup_window_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    min_count: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared core of the exact-substring family: (per-doc token counts,
    merged duplicated spans). A window is duplicated iff its normalized
    k-token text occurs >= min_count times across the WHOLE corpus —
    counting repeats inside a single document too, the Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better",
    dedup via suffix arrays) criterion, approximated at fixed window
    length k so it becomes pure DataFrame algebra:

      explode (doc, pos, window-hash)         [one scan, no text moved]
      -> groupBy hash, count >= min_count     [map-side combine; the
                                               shuffled unit is 8 bytes]
      -> join back on hash                    [equi-join; AQE broadcasts
                                               it when the dup set is small]
      -> gaps-and-islands merge per doc       [window over (doc, pos) —
                                               only DUP windows reach it]

    Scale notes (100 TB): the explode emits ~n_tokens rows per doc but
    only (id, pos, int64) triples — text never shuffles; the dup-hash
    table after HAVING is the duplicated-substring vocabulary
    (boilerplate), orders of magnitude smaller than the corpus; the
    plain join lets AQE pick (broadcast when it fits, skew-split on hot
    boilerplate hashes). The island merge partitions by doc — bounded
    per-doc work.
    """
    norm = F.split(F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " "), " ")
    # materialized token alias: HOFs are interpreted — see decontam.py
    base = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism
    ).select(F.col(id_col), norm.alias("__toks"))
    wins = base.select(
        F.col(id_col),
        F.posexplode(_window_hashes(F.col("__toks"), k)).alias("__pos", "__gh"),
    )
    dup = (
        wins.groupBy("__gh")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") >= min_count)
        .select("__gh")
    )
    dwin = wins.join(dup, "__gh")

    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("__pos")
    # coverage of window at pos is [pos, pos+k-1]; sorted starts =>
    # sorted ends, so contiguity only needs the previous start: a new
    # island begins when this window leaves a gap (pos > prev + k)
    brk = (
        F.when(F.lag("__pos").over(w).isNull(), 1)
        .when(F.col("__pos") > F.lag("__pos").over(w) + k, 1)
        .otherwise(0)
    )
    spans = (
        dwin.withColumn("__isl", F.sum(brk).over(w))
        .groupBy(id_col, "__isl")
        .agg(
            F.min("__pos").alias("s"),
            (F.max("__pos") + (k - 1)).alias("e"),
            F.count(F.lit(1)).alias("__nw"),
        )
    )
    n_tokens = base.select(F.col(id_col), F.size("__toks").alias("n_tokens"))
    return n_tokens, spans


def duplicated_substring_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 50,
    min_count: int = 2,
) -> DataFrame:
    """Per-document duplicated-substring statistics: one row per INPUT
    doc with ``n_tokens``, ``n_dup_windows`` (duplicated k-token window
    starts), ``n_dup_spans`` (merged maximal duplicated spans),
    ``dup_tokens`` (tokens covered by those spans) and ``dup_frac``.
    k=50 is the Lee et al. threshold; the gate/demo queries use a
    smaller k to match the synthetic corpus' doc lengths."""
    n_tokens, spans = _dup_window_spans(df, text_col, id_col, k, min_count)
    stats = spans.groupBy(id_col).agg(
        F.sum("__nw").cast("int").alias("n_dup_windows"),
        F.count(F.lit(1)).cast("int").alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("int").alias("dup_tokens"),
    )
    return (
        n_tokens.join(stats, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0))
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                6,
            ).alias("dup_frac"),
        )
    )


def remove_duplicated_substrings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 50,
    min_count: int = 2,
    out_col: str = "clean_text",
    with_stats: bool = False,
) -> DataFrame:
    """Cut every duplicated span out of each document (the actual
    Lee et al. removal, at token granularity on normalized text):
    returns ``df`` + ``out_col`` = the space-joined tokens outside all
    merged duplicated spans. Whitespace/case inside surviving text is
    normalized — removal operates on the same token stream the match
    was found in, so the cut can never split a surviving token.
    ``with_stats=True`` also adds the duplicated_substring_stats
    columns, derived from the SAME single spans pass (per-row array
    expressions over the collected span list — no second aggregation).

    The span list per doc is collect_list of merged spans — bounded by
    doc length (documents are bounded; conversations are not, which is
    why the temporal family has bucketed strategies and this does not
    need them). The token filter is one per-row array expression."""
    _, spans = _dup_window_spans(df, text_col, id_col, k, min_count)
    span_lists = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("s", "e", "__nw")).alias("__spans")
    )
    norm = F.split(F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " "), " ")
    out = (
        df.join(span_lists, id_col, "left")
        .withColumn(
            "__spans",
            F.coalesce(
                "__spans",
                F.array().cast("array<struct<s:int,e:int,__nw:bigint>>"),
            ),
        )
        .withColumn("__toks", norm)
    )
    kept = F.filter(
        F.sequence(F.lit(0), F.size("__toks") - 1),
        lambda i: ~F.exists(
            F.col("__spans"), lambda sp: (i >= sp["s"]) & (i <= sp["e"])
        ),
    )
    clean = F.concat_ws(
        " ", F.transform(kept, lambda i: F.element_at(F.col("__toks"), i + 1))
    )
    out = out.withColumn(out_col, clean)
    if with_stats:
        sp = F.col("__spans")
        dup_tokens = F.aggregate(
            sp, F.lit(0), lambda acc, x: acc + (x["e"] - x["s"] + 1)
        )
        out = (
            out.withColumn("n_tokens", F.size("__toks").cast("int"))
            .withColumn(
                "n_dup_windows",
                F.aggregate(sp, F.lit(0), lambda acc, x: acc + x["__nw"].cast("int")),
            )
            .withColumn("n_dup_spans", F.size(sp))
            .withColumn("dup_tokens", dup_tokens)
            .withColumn(
                "dup_frac",
                F.round(dup_tokens / F.greatest(F.size("__toks"), F.lit(1)), 6),
            )
        )
    return out.drop("__spans", "__toks")
