"""Similarity search over an embedding column (array<float>).

- cosine_topk: brute-force exact baseline — broadcast the (small) query
  set against the corpus, dot products via zip_with/aggregate (JVM
  lambda expressions, no Python), row_number window for top-k.
- lsh_topk: the scale path — random-hyperplane sign-bit buckets
  (deterministic planes from xxhash64, so no RNG state to ship),
  multi-probe via band tables, exact cosine re-rank inside buckets.
  At 10^12 rows brute force is a non-starter; LSH turns it into one
  equi-join shuffle on bucket keys.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v.cast("double"),
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine_expr(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query (excluding self-matches by id).
    Queries are broadcast — keep the query set small; the corpus scan
    is embarrassingly parallel."""
    # norms materialize per ROW below the join (the projections sit
    # under the join node, so they cannot collapse into the per-pair
    # cosine) — cosine then costs ONE array aggregate per pair, not 3
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).withColumn("cn", _norm(F.col("cv")))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine", _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


def mean_vector(df: DataFrame, vec_col: str, dim: int) -> list[float]:
    """Per-dimension corpus mean — ONE aggregation. Hyperplane bits must
    be computed on CENTERED vectors: with an off-center corpus (e.g.
    all-positive embeddings) dot(mean, r_j) dominates every projection,
    most vectors share most sign bits, and the buckets collapse toward
    all-pairs."""
    rows = (
        df.select(F.posexplode(vec_col).alias("__pos", "__v"))
        .groupBy("__pos")
        .agg(F.avg("__v").alias("m"))
        .collect()
    )
    # posexplode + 64-key hash agg instead of one 64-avg-wide aggregate:
    # same numbers, but the narrow plan skips the multi-second janino
    # compile a 64-expression aggregate costs (at bench scale that
    # compile IS the job)
    by_pos = {r["__pos"]: r["m"] for r in rows}
    return [float(by_pos.get(i) or 0.0) for i in range(dim)]


def center_expr(vec: Column, mean: list[float]) -> Column:
    lit_m = F.array(*[F.lit(float(x)) for x in mean])
    return F.zip_with(vec, lit_m, lambda x, m: x.cast("double") - m)


def _stack_valid(v, dim: int):
    """Stack a pandas Series of fixed-``dim`` vectors into an
    (n_valid, dim) float64 matrix; returns (matrix | None, valid_mask).
    None / wrong-length entries are invalid: the JVM expression kernels
    produce NULL for a NULL vector (and the row is dropped by the
    downstream join/filter), so the Arrow kernels mirror that instead
    of crashing on inhomogeneous numpy input. (A wrong-LENGTH vector is
    treated as invalid too — stricter than the zip_with kernels, which
    would compute over the null-padded overlap.)"""
    import numpy as np

    valid = np.array(
        [x is not None and len(x) == dim for x in v], dtype=bool
    )
    if not valid.any():
        return None, valid
    M = np.array(
        [np.asarray(x, dtype=np.float64) for x, ok in zip(v, valid) if ok]
    )
    return M, valid


def _scatter_valid(rows, valid, n: int) -> pd.Series:
    """Scatter per-valid-row results back to a length-n nullable
    Series (None at invalid positions)."""
    out: list = [None] * n
    it = iter(rows)
    for i, ok in enumerate(valid):
        if ok:
            out[i] = next(it)
    return pd.Series(out, dtype="object")


def _plane_matrix(dim: int, n_bits: int, seed: int = 7) -> list[list[float]]:
    """The seeded Rademacher hyperplane matrix (n_bits x dim) — ONE
    generation shared by the JVM-expression and Arrow kernels so both
    compute the same signature."""
    import random

    rng = random.Random(seed)
    return [
        [1.0 if rng.random() < 0.5 else -1.0 for _ in range(dim)]
        for _ in range(n_bits)
    ]


def hyperplane_bits_expr(vec: Column, dim: int, n_bits: int, seed: int = 7) -> Column:
    """array<int>[n_bits] of sign bits of dot(vec, r_j) for n_bits
    seeded Rademacher hyperplanes — ONE transform over a single literal
    plane matrix (driver-generated from ``seed``: deterministic at any
    parallelism, zero per-row hashing, and the whole signature is one
    lambda in the plan instead of n_bits separate aggregates — plan
    analysis time matters when n_bits is 64). Pass a CENTERED vector
    (see mean_vector)."""
    # one F.expr parse instead of dim x n_bits F.lit py4j round trips —
    # constructing 4096 Column objects costs seconds of driver time
    rows_sql = ",".join(
        "array(" + ",".join(f"{x:.1f}D" for x in row) + ")"
        for row in _plane_matrix(dim, n_bits, seed)
    )
    planes = F.expr(f"array({rows_sql})")
    return F.transform(
        planes,
        lambda p: F.when(
            F.aggregate(
                F.zip_with(vec, p, lambda x, r: x.cast("double") * r),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            >= 0,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )


def band_keys_arrow(
    dim: int, n_bits: int, bands: int, mean: list[float], seed: int = 7
):
    """Arrow-vectorized sibling of center_expr + hyperplane_bits_expr +
    band_keys_expr: a scalar pandas_udf mapping the raw vector column
    straight to its array<int>[bands] of band keys. Per Arrow batch the
    whole signature is ONE float64 BLAS matmul against the (shared —
    see _plane_matrix) literal plane matrix, vs n_bits interpreted
    zip_with/aggregate lambdas per row on the expression path. Same
    planes, same centering, same bit packing (bits[b*rows+r] << r);
    sign parity with the expression kernel is asserted in tests (a
    projection would need |dot| within float rounding of 0 to flip)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    planes_t = np.array(_plane_matrix(dim, n_bits, seed), dtype=np.float64).T
    mu = np.asarray(mean, dtype=np.float64)
    rows = n_bits // bands
    weights = (1 << np.arange(rows)).astype(np.int64)

    @pandas_udf("array<int>")
    def keys(v: pd.Series) -> pd.Series:
        M, valid = _stack_valid(v, dim)
        if M is None:
            return pd.Series([None] * len(v), dtype="object")
        bits = ((M - mu) @ planes_t) >= 0
        K = bits.reshape(len(M), bands, rows) @ weights
        return _scatter_valid(K.astype(np.int32), valid, len(v))

    return keys


def band_keys_expr(bits: Column, bands: int, rows: int) -> Column:
    """array<int>[bands] of band keys from a MATERIALIZED bits column:
    key_b = Σ_r bits[b*rows + r] << r (small ints — no 64-bit packing,
    no ANSI overflow edge at the sign bit)."""
    keys = []
    for b in range(bands):
        k = F.lit(0)
        for r in range(rows):
            k = k + bits[b * rows + r] * F.lit(1 << r)
        keys.append(k)
    return F.array(*keys)


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bits: int = 16,
    bands: int = 4,
    compute: str = "arrow",
) -> DataFrame:
    """Approximate top-k: random-hyperplane signature split into bands;
    candidates share >= 1 exact band; exact cosine re-rank. Recall grows
    with bands; cost is one shuffle on (band, key). Signatures are
    computed on corpus-mean-centered vectors (both sides use the CORPUS
    mean) so bucket occupancy stays balanced — see mean_vector.
    ``compute``: 'arrow' (default — one BLAS matmul per Arrow batch,
    see band_keys_arrow) or 'expr' (pure-JVM lambda expressions, the
    reference kernel the arrow path is tested against)."""
    rows = n_bits // bands
    m = mean_vector(corpus, vec_col, dim)
    keys_udf = band_keys_arrow(dim, n_bits, bands, m) if compute == "arrow" else None

    def banded(df: DataFrame, role: str) -> DataFrame:
        out = df.select(
            F.col(id_col).alias(f"{role}_id"),
            F.col(vec_col).alias(f"{role}v"),
        )
        if keys_udf is not None:
            out = out.withColumn("__keys", keys_udf(F.col(f"{role}v")))
        else:
            # __bits stays a NAMED multiply-referenced column so
            # CollapseProject keeps it materialized instead of inlining
            # the interpreted lambda once per band key
            out = out.withColumn(
                "__c", center_expr(F.col(f"{role}v"), m)
            ).withColumn(
                "__bits", hyperplane_bits_expr(F.col("__c"), dim, n_bits)
            ).withColumn(
                "__keys", band_keys_expr(F.col("__bits"), bands, rows)
            )
        return (
            out.withColumn(f"{role}n", _norm(F.col(f"{role}v")))
            .select(
                f"{role}_id", f"{role}v", f"{role}n",
                F.posexplode(F.col("__keys")).alias("band", "key"),
            )
        )

    qb = banded(queries, "query")
    cb = banded(corpus, "neighbor")
    cands = (
        qb.join(cb, ["band", "key"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn(
            "cosine",
            _dot(F.col("queryv"), F.col("neighborv"))
            / (F.col("queryn") * F.col("neighborn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


# ----------------------------------------------------------------- IVF

def _centroid_matrix_expr(centroids: list[list[float]]) -> Column:
    # ONE F.expr parse for the whole m x d literal matrix — building it
    # from F.lit would cost m*d py4j round trips per construction
    rows = ",".join(
        "array(" + ",".join(f"{float(x)!r}D" for x in c) + ")" for c in centroids
    )
    return F.expr(f"array({rows})")


def _sq_dists_expr(vec: Column, centroids: list[list[float]]) -> Column:
    """array<double>[m] of squared distances to every centroid — one
    transform over the literal centroid matrix (2 HOF nodes in the
    plan, not 2m)."""
    cmat = _centroid_matrix_expr(centroids)

    def dist(c):
        return F.aggregate(
            F.zip_with(
                vec, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    return F.transform(cmat, dist)


def _cluster_expr(vec: Column, centroids: list[list[float]]) -> Column:
    dists = _sq_dists_expr(vec, centroids)
    # first minimal index (1-based array_position) -> 0-based cluster id
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def nearest_centroid_arrow(centroids: list[list[float]]):
    """Arrow sibling of _cluster_expr: batch argmin over the centroid
    matrix via one BLAS matmul (||v-c||^2 = ||c||^2 - 2 v.c + ||v||^2;
    the ||v||^2 term is constant per row and dropped). Ties break to
    the first minimal index, same as array_position."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)
    Cn = (C * C).sum(axis=1)

    @pandas_udf("int")
    def assign(v: pd.Series) -> pd.Series:
        M, valid = _stack_valid(v, C.shape[1])
        if M is None:
            return pd.Series([None] * len(v), dtype="object")
        d = Cn[None, :] - 2.0 * (M @ C.T)
        return _scatter_valid(
            [int(i) for i in np.argmin(d, axis=1)], valid, len(v)
        )

    return assign


def centroid_dists_arrow(centroids: list[list[float]]):
    """Arrow sibling of _sq_dists_expr (exact (x-y)^2 formulation)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)

    @pandas_udf("array<double>")
    def dists(v: pd.Series) -> pd.Series:
        M, valid = _stack_valid(v, C.shape[1])
        if M is None:
            return pd.Series([None] * len(v), dtype="object")
        d = ((M[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return _scatter_valid(list(d), valid, len(v))

    return dists


def ivf_fit_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 9,
    compute: str = "arrow",
) -> list[list[float]]:
    """Distributed Lloyd k-means over DataFrame aggregations.

    Init: the n_centroids vectors with smallest xxhash64(id, seed) —
    deterministic, cluster-size independent. Each iteration is one
    assignment pass + one groupBy(cluster, dim) average (posexplode);
    only n_centroids x dim numbers ever reach the driver.
    ``compute``: 'arrow' (default — batch argmin via BLAS matmul) or
    'expr' (pure-JVM lambda expressions; assignment-parity tested)."""
    init_rows = (
        corpus.select(vec_col, F.xxhash64(id_col, F.lit(seed)).alias("__h"))
        .orderBy("__h")
        .limit(n_centroids)
        .collect()
    )
    centroids = [list(map(float, r[vec_col])) for r in init_rows]
    for _ in range(iters):
        if compute == "arrow":
            cl = nearest_centroid_arrow(centroids)(F.col(vec_col))
        else:
            cl = _cluster_expr(F.col(vec_col), centroids)
        assigned = corpus.select(
            cl.alias("__c"),
            F.posexplode(vec_col).alias("__pos", "__v"),
        )
        rows = (
            assigned.groupBy("__c", "__pos")
            .agg(F.avg("__v").alias("m"))
            .collect()
        )
        new = {}
        for r in rows:
            new.setdefault(r["__c"], {})[r["__pos"]] = r["m"]
        centroids = [
            [new[c][p] for p in sorted(new[c])] if c in new else centroids[c]
            for c in range(len(centroids))
        ]
    return centroids


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compute: str = "arrow",
) -> DataFrame:
    """IVF search: corpus bucketed by nearest centroid; each query
    probes its n_probe nearest centroids' buckets; exact cosine re-rank
    inside the probed buckets. One equi-join shuffle on cluster id.
    ``compute`` as in ivf_fit_centroids."""
    if compute == "arrow":
        cl = nearest_centroid_arrow(centroids)(F.col(vec_col))
        qdist = centroid_dists_arrow(centroids)(F.col(vec_col))
    else:
        cl = _cluster_expr(F.col(vec_col), centroids)
        qdist = _sq_dists_expr(F.col(vec_col), centroids)
    c_assigned = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        cl.alias("cluster"),
    ).withColumn("cn", _norm(F.col("cv")))
    m = len(centroids)
    qd = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        qdist.alias("__d"),
    ).withColumn("qn", _norm(F.col("qv")))
    ranked = F.slice(
        F.array_sort(
            F.arrays_zip(F.col("__d").alias("d"), F.sequence(F.lit(0), F.lit(m - 1)).alias("i"))
        ),
        1,
        n_probe,
    )
    probes = qd.select(
        "query_id", "qv", "qn", F.explode(ranked).alias("__p")
    ).select("query_id", "qv", "qn", F.col("__p.i").cast("int").alias("cluster"))

    cands = (
        probes.join(c_assigned, "cluster")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine", _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


def _exact_block_pairs(base: DataFrame, threshold: float, n_blocks: int) -> DataFrame:
    """All-pairs cosine >= threshold via BLOCK MATRIX MULTIPLY: rows are
    hashed into ``n_blocks`` blocks, each block is packed into one row
    (ids array + vectors array), the n_blocks*(n_blocks+1)/2 block pairs
    are enumerated, and each pair's full cosine sub-matrix is ONE
    float64 BLAS matmul inside an Arrow ``mapInPandas`` batch — no
    per-pair row ever materializes JVM-side, and the per-element work
    is vectorized instead of an interpreted zip_with/aggregate lambda.

    Shuffle cost: each block travels to its n_blocks partner pairs, so
    bytes shuffled = n_blocks x corpus — the irreducible cost of exact
    all-pairs; pick n_blocks so one block (~block_rows x dim x 8 bytes)
    fits comfortably in an executor task (a few MB).  This is the
    validation-grade exact tool; the LSH strategy stays the 10^12-row
    path."""
    import pandas as pd

    # drop null vectors BEFORE packing: collect_list skips nulls, so a
    # null embedding would silently desynchronize the parallel ids/vecs
    # arrays; the expression strategy drops such rows too (null cosine
    # fails the threshold filter). The vector LENGTH is part of the
    # block key: each packed block is then numpy-homogeneous, and
    # mixed-length pairs — which the zip_with kernel nulls out anyway —
    # never co-locate.
    blk = base.where(F.col("v").isNotNull()).select(
        F.size(F.col("v")).alias("__len"),
        F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).cast("int").alias("__b"),
        "id",
        "v",
    )
    packed = blk.groupBy("__len", "__b").agg(
        F.collect_list("id").alias("ids"), F.collect_list("v").alias("vecs")
    )
    joined = (
        packed.select(
            "__len",
            F.col("__b").alias("bi"),
            F.col("ids").alias("ids_a"),
            F.col("vecs").alias("vecs_a"),
        )
        .join(
            packed.select(
                "__len",
                F.col("__b").alias("bj"),
                F.col("ids").alias("ids_b"),
                F.col("vecs").alias("vecs_b"),
            ),
            "__len",
        )
        .where(F.col("bi") <= F.col("bj"))
        # one block pair per task: the matmul is the unit of work
        .repartition(max(n_blocks * (n_blocks + 1) // 2, 1))
    )

    thr = float(threshold)
    # the JVM lambda multiplies in the STORAGE element type — mirror it
    # (float32 products for array<float>, float64 for array<double>)
    elem_t = base.schema["v"].dataType.elementType.simpleString()
    prod_dtype = "float32" if elem_t == "float" else "float64"

    def compute(batches):
        import numpy as np

        def seq_dot(X32, Y32):
            # BIT-IDENTICAL to the JVM _dot kernel: each product is
            # rounded to float32 (the storage type), accumulation is
            # sequential float64 in dimension order — one vectorized
            # outer-product add per dimension keeps the per-element
            # order while staying BLAS-shaped. (A plain float64 matmul
            # differs at ~1e-8 via double products + pairwise sums —
            # enough to flip a 6-dp rounding or a threshold boundary.)
            acc = np.zeros((X32.shape[0], Y32.shape[0]), dtype=np.float64)
            for k in range(X32.shape[1]):
                acc += np.outer(X32[:, k], Y32[:, k]).astype(np.float64)
            return acc

        def seq_norm(X32):
            acc = np.zeros(X32.shape[0], dtype=np.float64)
            for k in range(X32.shape[1]):
                acc += (X32[:, k] * X32[:, k]).astype(np.float64)
            return np.sqrt(acc)

        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for row in pdf.itertuples(index=False):
                ia = np.asarray(row.ids_a, dtype=np.int64)
                ib = np.asarray(row.ids_b, dtype=np.int64)
                A = np.array([np.asarray(x, dtype=prod_dtype) for x in row.vecs_a])
                B = np.array([np.asarray(x, dtype=prod_dtype) for x in row.vecs_b])
                na = seq_norm(A)
                nb = seq_norm(B)
                denom = np.outer(na, nb)
                with np.errstate(divide="ignore", invalid="ignore"):
                    S = np.where(denom > 0, seq_dot(A, B) / denom, 0.0)
                mask = S >= thr
                if row.bi == row.bj:
                    # diagonal block: both orientations are present —
                    # keep the upper triangle by id
                    mask &= ia[:, None] < ib[None, :]
                ii, jj = np.nonzero(mask)
                pa, pb = ia[ii], ib[jj]
                # off-diagonal blocks see each unordered row pair once
                # with arbitrary id order: emit (min, max)
                out_a.append(np.minimum(pa, pb))
                out_b.append(np.maximum(pa, pb))
                out_c.append(S[ii, jj])
            if out_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "cosine": np.concatenate(out_c),
                    }
                )

    return joined.mapInPandas(compute, "id_a long, id_b long, cosine double").select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine")
    )


def embedding_near_dupes(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "lsh",
    dim: int = 64,
    n_bits: int = 64,
    bands: int = 8,
    n_blocks: int = 16,
    compute: str = "arrow",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b,
    cosine >= threshold) — the embedding-space sibling of
    dedup.minhash_near_dupes.

    strategy='exact': all-pairs ground truth (O(n^2) — the oracle-grade
    validation tool, like ngram_jaccard_pairs for text).
    strategy='block': same exact all-pairs result, computed as block
    matrix multiplies (hash rows into ``n_blocks`` blocks, one BLAS
    matmul per block pair inside Arrow mapInPandas) — ~2 orders of
    magnitude less per-element overhead than the interpreted lambda
    path; requires a long/int id column. Size ``n_blocks`` so ONE
    block (≈ corpus_rows/n_blocks x dim x 8 bytes) is a few MB — a
    whole block must fit in a single task and Arrow record; the
    default 16 suits ~10^4-10^5-row validation corpora, scale it up
    with the corpus.
    strategy='lsh': random-hyperplane banded candidates + exact cosine
    re-check — one equi-join shuffle on (band, key); the 100 TB path.
    Defaults (64 bits / 8 bands = 8-bit band keys) give ~256 buckets
    per band — recall ~100% at near-dup cosines (>= ~0.9) while keeping
    buckets small; pairs far below that (e.g. cosine 0.5) rarely share
    a band — that regime is what `exact` is for. Recall grows with
    ``bands``; too few bits per band collapses buckets and degenerates
    toward all-pairs."""
    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).withColumn("n", _norm(F.col("v")))
    if strategy == "block":
        return _exact_block_pairs(base.select("id", "v"), threshold, n_blocks)
    if strategy == "exact":
        a = base.select(
            F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("n").alias("na")
        )
        b = base.select(
            F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("n").alias("nb")
        )
        pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    elif strategy == "lsh":
        rows = n_bits // bands
        m = mean_vector(base, "v", dim)
        if compute == "arrow":
            keyed = base.withColumn(
                "__keys", band_keys_arrow(dim, n_bits, bands, m)(F.col("v"))
            )
        else:
            keyed = (
                base.withColumn("__c", center_expr(F.col("v"), m))
                .withColumn(
                    "__bits", hyperplane_bits_expr(F.col("__c"), dim, n_bits)
                )
                .withColumn(
                    "__keys", band_keys_expr(F.col("__bits"), bands, rows)
                )
            )
        banded = keyed.select(
            "id", "v", "n",
            F.posexplode(F.col("__keys")).alias("band", "key"),
        )
        a, b = banded.alias("a"), banded.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(
                F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.v").alias("va"), F.col("b.v").alias("vb"),
                F.col("a.n").alias("na"), F.col("b.n").alias("nb"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
    else:
        raise ValueError(f"unknown strategy `{strategy}`")
    out = pairs.withColumn(
        "cosine", _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    )
    return out.where(F.col("cosine") >= threshold).select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine")
    )


# ------------------------------------------------------------ SemDeDup

def semantic_dedup(
    corpus: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compute: str = "arrow",
    pairwise: str = "grouped",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means the
    embedding space, then deduplicate WITHIN each cluster only — two
    rows are semantic duplicates when their cosine similarity reaches
    ``threshold``, and the paper keeps the member with the LOWEST
    similarity to the cluster centroid (the least prototypical one).

    Deterministic keep rule, replayable in ANSI SQL: order each
    cluster's rows by (squared distance to assigned centroid DESC,
    id ASC) and keep the FIRST occurrence — a row is a duplicate iff
    some EARLIER row in that order is >= threshold-similar to it. This
    is the standard upper-triangular implementation of the paper's rule
    (pairwise sims are only ever consulted against already-kept rows).

    Output: one row per corpus row —
      (id, cluster, centroid_dist, max_prior_sim, is_dup).
    ``max_prior_sim`` is NULL for the row that opens its cluster.

    Scale design: clusters are the ONLY co-location unit — one
    self-equi-join shuffle on (cluster), pairwise work is
    sum(|C_k|^2)/2 and embarrassingly parallel across clusters; that is
    the paper's own cost model (they run k=110k on 1.3e9 embeddings to
    keep |C_k| small). Pick n_centroids ~ n/target_cluster_size; a hot
    cluster is visible in `groupBy(cluster).count()` before the join.
    Cosines use the float32-product sequential-sum form, bit-identical
    to the DuckDB replay (see SQL_EMBEDDING_TOPK's note).

    ``compute``: 'arrow' (BLAS batch assignment, default) or 'expr'
    (pure-JVM lambda expressions) — parity-tested like ivf_topk.

    ``pairwise``: 'grouped' (default) runs each cluster's O(|C|^2)
    similarity matrix as ONE Arrow task (applyInPandas over the
    cluster key, seq_dot/seq_norm kernels — bit-identical to the JVM
    lambda form, see the block kernel's note) and emits the final
    per-row output straight from the kernel: one shuffle total,
    vectorized math. 'join' keeps the pure-JVM cluster self-join —
    the parity reference and the fallback for a runtime without
    Arrow. NOTE: the default ('grouped') therefore requires
    pandas/pyarrow-capable workers — pass pairwise='join' for a
    pure-JVM plan (plan-shape pinned in test_plan_shape.py). Both
    paths need a whole cluster co-located; |C| x |C| doubles must fit
    one task's memory in the grouped path, so size
    ``n_centroids ~ n / target_cluster_size`` exactly as the paper
    does (their k=110k at 1.3e9 embeddings).
    """
    if compute == "arrow":
        cl = nearest_centroid_arrow(centroids)(F.col(vec_col))
        dists = centroid_dists_arrow(centroids)(F.col(vec_col))
    else:
        cl = _cluster_expr(F.col(vec_col), centroids)
        dists = _sq_dists_expr(F.col(vec_col), centroids)
    base = (
        corpus.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            cl.alias("cluster"),
            dists.alias("__d"),
        )
        .withColumn("centroid_dist", F.col("__d")[F.col("cluster")])
        .withColumn("n", _norm(F.col("v")))
        .drop("__d")
    )
    if pairwise == "grouped":
        return _semantic_dedup_grouped(base, threshold, id_col)
    a = base.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"),
        F.col("n").alias("na"), "cluster",
        F.col("centroid_dist").alias("da"),
    )
    b = base.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"),
        F.col("n").alias("nb"), "cluster",
        F.col("centroid_dist").alias("db"),
    )
    # b strictly precedes a in the keep order (farther-from-centroid
    # first, id tie-break) — one equi-join shuffle on cluster
    prior = (F.col("db") > F.col("da")) | (
        (F.col("db") == F.col("da")) & (F.col("id_b") < F.col("id_a"))
    )
    sims = (
        a.join(b, "cluster")
        .where(prior)
        .select(
            "id_a",
            # try_divide: a zero-norm side yields a NULL sim (ignored by
            # max) on EVERY ansi setting — plain `/` would raise under
            # the Spark 4 ANSI default and NaN-poison the max without it
            F.try_divide(
                _dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")
            ).alias("__sim"),
        )
        .groupBy("id_a")
        .agg(F.max("__sim").alias("max_prior_sim"))
    )
    return (
        base.join(sims, base["id"] == sims["id_a"], "left")
        .select(
            F.col("id").alias(id_col),
            "cluster",
            F.round("centroid_dist", 6).alias("centroid_dist"),
            F.round("max_prior_sim", 6).alias("max_prior_sim"),
            F.coalesce(F.col("max_prior_sim") >= threshold, F.lit(False)).alias(
                "is_dup"
            ),
        )
    )


def _semantic_dedup_grouped(
    base: DataFrame, threshold: float, id_col: str
) -> DataFrame:
    """Per-cluster Arrow kernel for semantic_dedup: sort the cluster by
    the keep order (centroid_dist DESC, id ASC — a strict total order,
    ids are unique), build the full similarity matrix with the seq_dot/
    seq_norm kernels (float32 products, sequential float64 accumulation
    — bit-identical to the JVM ``_dot``), and take each row's max over
    its strict predecessors. max() is order-insensitive, so the output
    is value-identical to the self-join path pair for pair."""
    elem_t = base.schema["v"].dataType.elementType.simpleString()
    prod_dtype = "float32" if elem_t == "float" else "float64"
    thr = float(threshold)

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(
            ["centroid_dist", "id"], ascending=[False, True], kind="mergesort"
        ).reset_index(drop=True)
        m = len(pdf)
        X = np.array([np.asarray(v, dtype=prod_dtype) for v in pdf["v"]])
        # row-BLOCKED upper-triangular sweep (r6): the r5 kernel
        # accumulated the full m x m float64 matrix through 64
        # full-matrix passes with an .astype temp per dimension —
        # O(d·m²·24B) of memory traffic and O(m²) resident, which both
        # explode as fixed-centroid clusters grow with the corpus.
        # Blocks of rows keep the accumulator cache-sized and bound
        # memory at O(B·m); the PER-ELEMENT arithmetic is unchanged:
        # float32 products (np.multiply.outer on float32 slices) added
        # into a float64 accumulator in ascending dimension order —
        # the same sequential-sum the JVM _dot / DuckDB list_sum
        # replay computes, value-identical pair for pair.
        d = X.shape[1] if X.ndim == 2 else 0
        XT = np.ascontiguousarray(X.T) if d else X
        acc_n = np.zeros(m, dtype=np.float64)
        for k in range(d):
            col = XT[k]
            acc_n += (col * col).astype(np.float64)
        n = np.sqrt(acc_n)
        maxp = np.full(m, np.nan)
        is_dup = np.zeros(m, dtype=bool)
        B = 512
        for s in range(1, m, B):
            e = min(s + B, m)
            S = np.zeros((e - s, e), dtype=np.float64)
            for k in range(d):
                col = XT[k]
                # float32 outer product, upcast exactly on +=
                S += np.multiply.outer(col[s:e], col[:e])
            # numpy 0/0 -> NaN where the JVM try_divide yields NULL:
            # both mean "no defined similarity" and are EXCLUDED from
            # the prior max, so a zero-norm side never poisons the
            # keep decision
            with np.errstate(divide="ignore", invalid="ignore"):
                S = S / np.multiply.outer(n[s:e], n[:e])
            prior = np.arange(e)[None, :] < np.arange(s, e)[:, None]
            valid = prior & ~np.isnan(S)
            vals = np.where(valid, S, -np.inf).max(axis=1)
            hv = valid.any(axis=1)
            # no defined prior sim (opener, or all priors zero-norm)
            # -> NULL max_prior_sim and is_dup False, same as the join
            # path's left-join + coalesce
            maxp[s:e] = np.where(hv, vals, np.nan)
            is_dup[s:e] = hv & (vals >= thr)
        return pd.DataFrame(
            {
                "id": pdf["id"],
                "cluster": pdf["cluster"],
                "centroid_dist": pdf["centroid_dist"],
                "max_prior_sim": maxp,
                "is_dup": is_dup,
            }
        )

    id_t = base.schema["id"].dataType.simpleString()
    cl_t = base.schema["cluster"].dataType.simpleString()
    # pin the kernel's parallelism: an explicit repartition on the
    # grouping key satisfies applyInPandas' clustering requirement, so
    # no second exchange is added, and — unlike the bare groupBy
    # shuffle — AQE's BYTE-based coalescing cannot fold the O(|C|^2)
    # CPU-heavy cluster kernels onto a handful of tasks just because
    # embeddings are only a few MB (guide §2.5: partition for the
    # compute, not the bytes)
    par = base.sparkSession.sparkContext.defaultParallelism
    out = base.repartition(par, "cluster").groupBy("cluster").applyInPandas(
        per_cluster,
        f"id {id_t}, cluster {cl_t}, centroid_dist double, "
        "max_prior_sim double, is_dup boolean",
    )
    return out.select(
        F.col("id").alias(id_col),
        "cluster",
        F.round("centroid_dist", 6).alias("centroid_dist"),
        F.round("max_prior_sim", 6).alias("max_prior_sim"),
        "is_dup",
    )


def prototype_prune(
    corpus: DataFrame,
    centroids: list[list[float]],
    prune_frac: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compute: str = "arrow",
) -> DataFrame:
    """SSL-prototypes pruning (Sorscher et al. 2022, arXiv:2206.14486,
    as composed with SemDeDup in D4, Tirumala et al. 2023,
    arXiv:2308.12284): within each k-means cluster, drop the
    ``prune_frac`` most PROTOTYPICAL rows — the ones closest to their
    centroid — which carry the least marginal information for training.

    Deterministic rank: (squared centroid distance ASC, id ASC);
    row is pruned iff rank <= floor(prune_frac * cluster_size).
    Output: (id, cluster, centroid_dist, proto_rank, is_pruned).

    Plan: assignment is a per-row expression over the literal centroid
    matrix (no shuffle), then ONE window over (cluster) for rank +
    count — the same single-shuffle shape as a grouped aggregation;
    cluster populations are the balance knob exactly as in
    semantic_dedup."""
    if compute == "arrow":
        cl = nearest_centroid_arrow(centroids)(F.col(vec_col))
        dists = centroid_dists_arrow(centroids)(F.col(vec_col))
    else:
        cl = _cluster_expr(F.col(vec_col), centroids)
        dists = _sq_dists_expr(F.col(vec_col), centroids)
    base = corpus.select(
        F.col(id_col).alias("id"),
        cl.alias("cluster"),
        dists.alias("__d"),
    ).withColumn("centroid_dist", F.col("__d")[F.col("cluster")]).drop("__d")
    w = Window.partitionBy("cluster").orderBy(
        F.asc("centroid_dist"), F.asc("id")
    )
    wc = Window.partitionBy("cluster")
    return base.select(
        F.col("id").alias(id_col),
        "cluster",
        F.round("centroid_dist", 6).alias("centroid_dist"),
        F.row_number().over(w).alias("proto_rank"),
        (
            F.row_number().over(w)
            <= F.floor(F.count(F.lit(1)).over(wc) * F.lit(float(prune_frac))).cast(
                "int"
            )
        ).alias("is_pruned"),
    )
