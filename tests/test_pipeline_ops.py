"""Unit tests for the training-data pipeline operators: dedup recall,
similarity-search correctness, text features, multimodal plumbing."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from didtool_spark.operators.dedup import (
    exact_dupes,
    jaccard_expr,
    minhash_near_dupes,
    ngram_jaccard_pairs,
    shingles_expr,
    simhash_near_dupes,
)
from didtool_spark.operators.multimodal import extract_media_features, synthetic_media
from didtool_spark.operators.similarity import cosine_topk, lsh_topk
from didtool_spark.operators.text import lang_id_expr, with_text_features

VOCAB = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima".split()


@pytest.fixture(scope="module")
def docs(spark):
    # deterministic word-salad docs + planted near/exact dupes
    base = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.element_at(
                    F.array(*[F.lit(w) for w in VOCAB]),
                    (F.pmod(F.xxhash64("id", F.lit(i)), len(VOCAB)) + 1).cast("int"),
                )
                for i in range(40)
            ],
        ).alias("text"),
    )
    exact = base.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    near = base.where(F.col("doc_id") % 20 == 5).select(
        (F.col("doc_id") + 2000).alias("doc_id"),
        # keep first ~80% of words -> high shingle Jaccard
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 32)).alias("text"),
    )
    return base.unionByName(exact).unionByName(near).cache()


def test_exact_dedup(docs):
    out = exact_dupes(docs).toPandas()
    dupes = out[out["is_dup"] == 1]
    assert set(dupes["doc_id"]) == {1000, 1020, 1040, 1060, 1080}
    assert (dupes["canonical_id"] == dupes["doc_id"] - 1000).all()


def test_minhash_matches_exact_jaccard(docs):
    exact = ngram_jaccard_pairs(docs, threshold=0.5).toPandas()
    lsh = minhash_near_dupes(docs, threshold=0.5).toPandas()
    key = lambda d: set(zip(d["id_a"], d["id_b"]))
    assert key(lsh) == key(exact)  # 100% recall+precision after verify
    planted = {(5 + 20 * i, 2005 + 20 * i) for i in range(5)}
    assert planted <= key(exact)
    # jaccard values agree
    m = lsh.set_index(["id_a", "id_b"])["jaccard"]
    e = exact.set_index(["id_a", "id_b"])["jaccard"]
    assert np.allclose(m.sort_index().values, e.sort_index().values)


def test_simhash_finds_exact_and_near(docs):
    pairs = simhash_near_dupes(docs, max_hamming=8).toPandas()
    got = set(zip(pairs["id_a"], pairs["id_b"]))
    # planted exact copies found at hamming 0 (tiny vocab means many
    # organic near pairs too — only the planted ones are asserted)
    ham = dict(zip(zip(pairs["id_a"], pairs["id_b"]), pairs["hamming"]))
    for i in range(0, 100, 20):
        assert (i, i + 1000) in got
        assert ham[(i, i + 1000)] == 0


def test_minhash_aggregate_matches_per_function_mins(docs):
    """minhash_expr's single-aggregate accumulator produces exactly the
    per-function mins of the affine family (the direct n_hashes-column
    formulation it replaced)."""
    import random
    from didtool_spark.operators.dedup import (
        MINHASH_P, base_hash_expr, minhash_expr, shingles_expr,
    )

    base = docs.select(
        "doc_id", base_hash_expr(shingles_expr(F.col("text"), 5)).alias("hs")
    )
    rng = random.Random(0xD1D7)

    def affine(a, b):
        return lambda h: F.pmod(F.lit(a) * h + F.lit(b), F.lit(MINHASH_P))

    direct_cols = []
    for _ in range(8):
        a = rng.randrange(1, MINHASH_P)
        b = rng.randrange(0, MINHASH_P)
        direct_cols.append(F.array_min(F.transform(F.col("hs"), affine(a, b))))
    joined = base.select(
        "doc_id",
        F.array(*direct_cols).alias("direct"),
        minhash_expr(F.col("hs"), 8).alias("agg"),
    )
    assert joined.where(F.expr("direct <> agg")).count() == 0


def test_simhash_arrow_matches_expr(docs):
    """The Arrow vote-fold kernel and the JVM expression kernel produce
    bit-identical signatures (pure integer math on the same xxhash64
    token hashes), so the two compute paths emit the same pairs."""
    a = simhash_near_dupes(docs, max_hamming=8, compute="arrow").toPandas()
    e = simhash_near_dupes(docs, max_hamming=8, compute="expr").toPandas()
    key = lambda d: set(zip(d["id_a"], d["id_b"], d["hamming"]))
    assert key(a) == key(e)


def test_jaccard_expr(spark):
    df = spark.createDataFrame([(["a", "b", "c"], ["b", "c", "d"])], "x array<string>, y array<string>")
    v = df.select(jaccard_expr(F.col("x"), F.col("y")).alias("j")).first()["j"]
    assert abs(v - 0.5) < 1e-12


def test_cosine_topk_vs_numpy(spark):
    rng = np.random.RandomState(11)
    vecs = rng.randn(60, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = cosine_topk(df.where(F.col("vec_id") < 5), df, k=3).toPandas()

    vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = vn @ vn.T
    for q in range(5):
        s = sims[q].copy()
        s[q] = -np.inf
        expect = np.argsort(-s, kind="stable")[:3]
        mine = got[got["query_id"] == q].sort_values("rank")["neighbor_id"].values
        assert list(mine) == list(expect), q


def test_lsh_topk_recall(spark):
    rng = np.random.RandomState(12)
    # clustered vectors so near neighbors are unambiguous
    centers = rng.randn(10, 16) * 5
    vecs = np.vstack([c + rng.randn(20, 16) * 0.1 for c in centers]).astype("float32")
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    q = df.where(F.col("vec_id") < 10)
    exact = cosine_topk(q, df, k=3).toPandas()
    approx = lsh_topk(q, df, k=3, dim=16, n_bits=16, bands=8).toPandas()
    e = set(zip(exact["query_id"], exact["neighbor_id"]))
    a = set(zip(approx["query_id"], approx["neighbor_id"]))
    recall = len(e & a) / len(e)
    assert recall >= 0.9, recall


def test_text_features_and_lang(spark):
    df = spark.createDataFrame(
        [
            (1, "The cat and the dog, in a house!"),
            (2, "der hund und die katze ist nicht auf"),
            (3, "xyzzy qwerty"),
        ],
        "doc_id long, text string",
    )
    out = with_text_features(df).withColumn("lang_pred", lang_id_expr("text")).toPandas()
    r1 = out[out["doc_id"] == 1].iloc[0]
    assert r1["n_tokens"] == 8
    assert r1["n_tokens_bpe"] == 10  # 8 words + ',' + '!'
    assert r1["lang_pred"] == "en"
    assert r1["stopword_ratio"] > 0.3
    assert out[out["doc_id"] == 2].iloc[0]["lang_pred"] == "de"
    assert out[out["doc_id"] == 3].iloc[0]["lang_pred"] == "unk"
    assert (out["quality_score"] >= 0).all() and (out["quality_score"] <= 1.01).all()


def test_multimodal_plumbing(spark):
    media = synthetic_media(spark, n=50)
    out = extract_media_features(media, n_frames=4)
    pdf = out.toPandas()
    assert len(pdf) == 50
    assert set(pdf["kind"]) <= {"image", "audio", "video"}
    assert all(len(f) == 16 for f in pdf["feature"])
    assert (pdf["n_bytes"] > 0).all()
    # deterministic across repartitioning
    pdf2 = extract_media_features(media.repartition(7), n_frames=4).toPandas()
    a = pdf.sort_values("media_id").reset_index(drop=True)
    b = pdf2.sort_values("media_id").reset_index(drop=True)
    assert a["n_bytes"].equals(b["n_bytes"])
    assert all(np.allclose(x, y) for x, y in zip(a["feature"], b["feature"]))


def test_ivf_topk_recall(spark):
    from didtool_spark.operators.similarity import ivf_fit_centroids, ivf_topk

    rng = np.random.RandomState(13)
    centers = rng.randn(8, 16) * 5
    vecs = np.vstack([c + rng.randn(25, 16) * 0.1 for c in centers]).astype("float32")
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    cents = ivf_fit_centroids(df, n_centroids=8, iters=3)
    assert len(cents) == 8 and len(cents[0]) == 16
    q = df.where(F.col("vec_id") < 10)
    exact = cosine_topk(q, df, k=3).toPandas()
    approx = ivf_topk(q, df, cents, k=3, n_probe=2).toPandas()
    e = set(zip(exact["query_id"], exact["neighbor_id"]))
    a = set(zip(approx["query_id"], approx["neighbor_id"]))
    assert len(e & a) / len(e) >= 0.9


def test_embedding_near_dupes_exact_and_lsh(spark):
    """Planted near-identical vectors: the exact strategy finds exactly
    the planted pairs; at near-dup-realistic cosine (~0.999) the banded
    hyperplane LSH keeps (near-)full recall because the two signatures
    almost surely agree on every band."""
    import numpy as np
    from didtool_spark.operators.similarity import embedding_near_dupes

    rng = np.random.RandomState(8)
    rows = []
    for i in range(200):
        v = rng.randn(64)
        rows.append((i, [float(x) for x in v]))
        if i < 20:  # plant a near-dup of the first 20
            w = v + rng.randn(64) * 0.01
            rows.append((1000 + i, [float(x) for x in w]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = embedding_near_dupes(df, threshold=0.95, strategy="exact").collect()
    got = {(r["id_a"], r["id_b"]) for r in exact}
    assert got == {(i, 1000 + i) for i in range(20)}

    lsh = embedding_near_dupes(df, threshold=0.95, strategy="lsh", bands=8).collect()
    got_lsh = {(r["id_a"], r["id_b"]) for r in lsh}
    assert got_lsh <= got          # no false positives (exact re-check)
    assert len(got_lsh) >= 18      # >= 90% recall at cosine ~0.9999

    # the block-matmul strategy is the SAME exact computation — BIT
    # IDENTICAL cosines (float32 products, sequential float64
    # accumulation, mirroring the JVM _dot kernel), not just close
    for nb in (1, 3):
        blk = embedding_near_dupes(
            df, threshold=0.95, strategy="block", n_blocks=nb
        ).collect()
        assert {(r["id_a"], r["id_b"]) for r in blk} == got
        by_pair = {(r["id_a"], r["id_b"]): r["cosine"] for r in blk}
        for r in exact:
            assert by_pair[(r["id_a"], r["id_b"])] == r["cosine"]


def test_band_keys_arrow_matches_expr(spark):
    """The Arrow (BLAS matmul) signature kernel and the JVM expression
    kernel produce the SAME band keys: same _plane_matrix, same
    centering, same bit packing — a divergence would mean the two LSH
    paths bucket differently."""
    import numpy as np
    from didtool_spark.operators.similarity import (
        band_keys_arrow, band_keys_expr, center_expr, hyperplane_bits_expr,
        mean_vector,
    )

    rng = np.random.RandomState(21)
    rows = [(i, [float(x) for x in rng.randn(16) + 0.5]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    m = mean_vector(df, "embedding", 16)

    expr_keys = (
        df.withColumn("__c", center_expr(F.col("embedding"), m))
        .withColumn("__bits", hyperplane_bits_expr(F.col("__c"), 16, 16))
        .select("vec_id", band_keys_expr(F.col("__bits"), 4, 4).alias("k"))
    )
    arrow_keys = df.select(
        "vec_id", band_keys_arrow(16, 16, 4, m)(F.col("embedding")).alias("k")
    )
    joined = expr_keys.alias("e").join(arrow_keys.alias("a"), "vec_id")
    assert joined.where(F.expr("e.k <> a.k")).count() == 0


def test_ivf_arrow_matches_expr(spark):
    """Arrow argmin/dists kernels agree with the JVM expression kernels
    on assignments and top-k output (same centroids, same tie rule)."""
    from didtool_spark.operators.similarity import (
        _cluster_expr, ivf_fit_centroids, ivf_topk, nearest_centroid_arrow,
    )

    rng = np.random.RandomState(5)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents_a = ivf_fit_centroids(df, n_centroids=6, iters=2, compute="arrow")
    cents_e = ivf_fit_centroids(df, n_centroids=6, iters=2, compute="expr")
    assert np.allclose(np.array(cents_a), np.array(cents_e))

    assign = df.select(
        "vec_id",
        nearest_centroid_arrow(cents_a)(F.col("embedding")).alias("a"),
        _cluster_expr(F.col("embedding"), cents_a).alias("e"),
    )
    assert assign.where(F.col("a") != F.col("e")).count() == 0

    q = df.where(F.col("vec_id") < 10)
    ta = ivf_topk(q, df, cents_a, k=3, compute="arrow").collect()
    te = ivf_topk(q, df, cents_a, k=3, compute="expr").collect()
    assert {(r["query_id"], r["neighbor_id"], r["rank"]) for r in ta} == {
        (r["query_id"], r["neighbor_id"], r["rank"]) for r in te
    }


def test_minhash_bucket_stats_reports_dropped(spark):
    """The hot-bucket cap is not silent: identical boilerplate docs land
    in one bucket per band, and the stats table reports it."""
    from didtool_spark.operators.dedup import minhash_bucket_stats

    rows = [(i, "the same boilerplate text repeated for every doc here") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    dropped = minhash_bucket_stats(df, max_bucket=10)
    got = dropped.collect()
    assert len(got) >= 1
    assert all(r["count"] == 40 for r in got)


def test_arrow_kernels_tolerate_null_rows(spark):
    """A NULL text/embedding row must not crash the Arrow kernels (the
    expression kernels emit NULL and downstream joins drop the row):
    simhash, hyperplane band keys, IVF assignment, and the block
    strategy all just skip the bad row."""
    from didtool_spark.operators.similarity import (
        embedding_near_dupes, ivf_topk, lsh_topk,
    )

    rows = [(0, [1.0] * 8), (1, None), (2, [1.0] * 8), (3, [0.5] * 4)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    pairs = embedding_near_dupes(
        emb, threshold=0.9, strategy="block", n_blocks=2
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 2)}

    lsh = embedding_near_dupes(
        emb.where(F.col("embedding").isNotNull()), threshold=0.9,
        strategy="lsh", dim=8, n_bits=8, bands=4,
    )
    # null + wrong-length rows present in the corpus: no crash
    lsh_all = embedding_near_dupes(
        emb, threshold=0.9, strategy="lsh", dim=8, n_bits=8, bands=4
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in lsh_all} == {(0, 2)}
    assert {(r["id_a"], r["id_b"]) for r in lsh.collect()} <= {(0, 2), (0, 3), (2, 3)}

    topk = ivf_topk(
        emb.where(F.col("vec_id") == 0), emb, [[1.0] * 8, [0.0] * 8], k=2
    ).collect()
    assert {r["neighbor_id"] for r in topk} == {2}

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta"), (1, None),
         (2, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    sh = simhash_near_dupes(docs, max_hamming=0, compute="arrow").collect()
    assert {(r["id_a"], r["id_b"]) for r in sh} == {(0, 2)}


def test_wav_decode_roundtrip():
    """wave-module bytes -> _decode_wav -> exact samples; feature
    matches the closed-form integer pooling."""
    import io
    import wave as wavemod

    import numpy as np

    from didtool_spark.operators.multimodal import (
        FEATURE_DIM, _decode_wav, _wav_feature, decode_feature,
    )

    samples = (((7 * 31 + np.arange(300) * 17) % 2001) - 1000).astype("<i2")
    buf = io.BytesIO()
    with wavemod.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(samples.tobytes())
    payload = buf.getvalue()
    np.testing.assert_array_equal(_decode_wav(payload), samples)
    feat, nf = decode_feature(payload, "audio", 4)
    assert nf == FEATURE_DIM
    idx = (np.arange(300) * FEATURE_DIM) // 300
    want = np.array(
        [
            np.abs(samples[idx == j].astype(np.int64)).sum()
            * 1.0 / (idx == j).sum() / 32768.0
            for j in range(FEATURE_DIM)
        ],
        dtype=np.float32,
    )
    np.testing.assert_array_equal(feat, want)
    np.testing.assert_array_equal(feat, _wav_feature(samples))


def test_bmp_ppm_decode_parity():
    """Same pixel content encoded as P6 PPM and 24-bit BMP (bottom-up,
    BGR, padded rows) must decode to the same array and feature."""
    import struct as structmod

    import numpy as np

    from didtool_spark.operators.multimodal import (
        _decode_bmp, _decode_ppm, decode_feature,
    )

    w, h = 7, 5
    px = ((np.arange(w * h * 3) * 11 + 3) % 256).astype(np.uint8).reshape(h, w, 3)
    ppm = f"P6\n{w} {h}\n255\n".encode() + px.tobytes()
    stride = (w * 3 + 3) // 4 * 4
    rows = b""
    for y in range(h - 1, -1, -1):  # bottom-up
        row = px[y, :, ::-1].tobytes()  # RGB -> BGR
        rows += row + b"\x00" * (stride - len(row))
    header = (
        b"BM"
        + structmod.pack("<IHHI", 54 + len(rows), 0, 0, 54)
        + structmod.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 0, 0, 0, 0)
    )
    bmp = header + rows
    np.testing.assert_array_equal(_decode_ppm(ppm), px)
    np.testing.assert_array_equal(_decode_bmp(bmp), px)
    f1, n1 = decode_feature(ppm, "image", 4)
    f2, n2 = decode_feature(bmp, "image", 4)
    np.testing.assert_array_equal(f1, f2)
    assert n1 == n2 == 1


def test_minhash_arrow_matches_expr(docs, spark):
    """The Arrow affine-min kernel and the JVM aggregate/zip_with kernel
    share _minhash_coeffs and do exact int64 math on the same xxhash64
    base hashes, so signatures — and therefore the verified pair sets —
    are bit-identical, including null-text and empty-token rows."""
    from didtool_spark.operators.dedup import (
        base_hash_expr, minhash_arrow_udf, minhash_expr, shingles_expr,
    )

    edge = spark.createDataFrame(
        [(9001, None), (9002, ""), (9003, "one two")],
        "doc_id long, text string",
    )
    both = docs.unionByName(edge)
    hashed = both.select(
        "doc_id",
        base_hash_expr(shingles_expr(F.col("text"), 5)).alias("hs"),
    )
    joined = hashed.select(
        "doc_id",
        minhash_arrow_udf(8)(F.col("hs")).alias("arrow"),
        minhash_expr(F.col("hs"), 8).alias("expr"),
    )
    # null-safe compare: both NULL (null text) or element-wise equal
    mismatch = joined.where(~F.expr("arrow <=> expr")).count()
    assert mismatch == 0

    a = minhash_near_dupes(docs, threshold=0.5, compute="arrow").toPandas()
    e = minhash_near_dupes(docs, threshold=0.5, compute="expr").toPandas()
    key = lambda d: set(zip(d["id_a"], d["id_b"], d["jaccard"]))
    assert len(a) > 0 and key(a) == key(e)


# ------------------------------------------------- connected components

def _uf_components(pairs, all_ids=None):
    """Driver-side union-find ground truth: {id: min-of-component}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    out = {}
    for x in list(parent) + list(all_ids or []):
        out[x] = find(x)
    return out


def test_connected_components_random_graph_matches_union_find(spark):
    import random

    from didtool_spark.operators.dedup import connected_components

    rng = random.Random(7)
    pairs = sorted({
        tuple(sorted(rng.sample(range(200), 2))) for _ in range(150)
    })
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {
        r["id"]: r["component"]
        for r in connected_components(df).collect()
    }
    want = _uf_components(pairs)
    assert got == want


def test_connected_components_chain_converges_fast(spark):
    """A 64-node chain has diameter 63; large-star/small-star must
    resolve it in O(log n) rounds — max_rounds=10 would fail plain
    min-label propagation."""
    from didtool_spark.operators.dedup import connected_components

    pairs = [(i, i + 1) for i in range(63)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = connected_components(df, max_rounds=10).collect()
    assert {r["id"] for r in got} == set(range(64))
    assert all(r["component"] == 0 for r in got)


def test_dedup_clusters_transitive_closure(spark):
    """A~B and B~C pairs (no A~C pair) must still collapse to ONE
    cluster with min-id canonical; singletons keep their own id."""
    from didtool_spark.operators.dedup import dedup_clusters

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (2, 4)], "id_a long, id_b long"
    )
    out = {
        r["doc_id"]: (r["cluster_id"], r["is_dup"])
        for r in dedup_clusters(docs, pairs=pairs).collect()
    }
    assert out == {
        0: (0, 0), 1: (1, 0), 2: (2, 0),
        3: (1, 1), 4: (2, 1), 5: (1, 1),
    }


def test_dedup_clusters_minhash_end_to_end(docs):
    """Default pair source (MinHash) over the planted-dup corpus: every
    planted exact/near dup lands in its source's cluster."""
    from didtool_spark.operators.dedup import dedup_clusters

    out = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_clusters(
            docs, k_shingle=5, n_hashes=32, bands=16, threshold=0.5
        ).collect()
    }
    for planted, src in [(1000, 0), (1080, 80), (2005, 5), (2085, 85)]:
        assert out[planted] == src, (planted, out[planted])
    # a non-dup doc is its own singleton cluster
    assert out[7] == 7


def test_split_by_cluster_never_splits_a_cluster(docs):
    """Every near-dup cluster must land wholly in train or wholly in
    test, and the test fraction must track test_frac on cluster ids."""
    import pandas as pd

    from didtool_spark.operators.dedup import split_by_cluster

    out = split_by_cluster(
        docs, test_frac=0.3, seed=11,
        k_shingle=5, n_hashes=32, bands=16, threshold=0.5,
    ).select("doc_id", "cluster_id", "group").toPandas()
    assert len(out) == docs.count()
    per_cluster = out.groupby("cluster_id")["group"].nunique()
    assert (per_cluster == 1).all()
    # planted dup follows its source's side
    m = out.set_index("doc_id")["group"]
    assert m[1000] == m[0] and m[2005] == m[5]
    frac = out.drop_duplicates("cluster_id")["group"].mean()
    assert 0.15 < frac < 0.45  # Bernoulli(0.3) over ~100 clusters


# ------------------------------------------------ exact substring dedup

def test_duplicated_substring_stats_and_removal(spark):
    from didtool_spark.operators.dedup import (
        duplicated_substring_stats,
        remove_duplicated_substrings,
    )

    boiler = "subscribe to our newsletter for the latest updates and offers"
    rows = [
        (1, "alpha beta gamma delta epsilon zeta " + boiler),
        (2, "one two three four five six seven " + boiler),
        (3, "totally unique text with no repeats anywhere at all"),
        (4, "rep rep rep rep rep rep rep rep tail words here"),
        (5, "short doc"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    st = {
        r["doc_id"]: r
        for r in duplicated_substring_stats(df, k=5, min_count=2).collect()
    }
    # cross-doc boilerplate: 10 shared tokens -> 6 windows, one span
    assert st[1]["n_dup_windows"] == 6 and st[1]["dup_tokens"] == 10
    assert st[2]["n_dup_spans"] == 1 and st[2]["dup_tokens"] == 10
    # clean docs and sub-k docs untouched
    assert st[3]["dup_tokens"] == 0 and st[5]["dup_tokens"] == 0
    # within-doc repetition counts (Lee et al. semantics)
    assert st[4]["dup_tokens"] == 8 and st[4]["n_dup_spans"] == 1
    assert abs(st[1]["dup_frac"] - 10 / 16) < 1e-9

    cl = {
        r["doc_id"]: r["clean_text"]
        for r in remove_duplicated_substrings(df, k=5, min_count=2).collect()
    }
    assert cl[1] == "alpha beta gamma delta epsilon zeta"
    assert cl[2] == "one two three four five six seven"
    assert cl[3] == rows[2][1]
    assert cl[4] == "tail words here"
    assert cl[5] == "short doc"


def test_remove_duplicated_substrings_with_stats_matches_stats(spark):
    """with_stats=True derives the same numbers as
    duplicated_substring_stats from one spans pass."""
    from didtool_spark.operators.dedup import (
        duplicated_substring_stats,
        remove_duplicated_substrings,
    )

    rows = [
        (i, f"prefix{i} " + "the quick brown fox jumps over the lazy dog " * 2)
        for i in range(6)
    ] + [(9, "nothing duplicated in this document at all honestly")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    a = (
        duplicated_substring_stats(df, k=6, min_count=2)
        .orderBy("doc_id")
        .collect()
    )
    b = (
        remove_duplicated_substrings(df, k=6, min_count=2, with_stats=True)
        .select(
            "doc_id", "n_tokens", "n_dup_windows", "n_dup_spans",
            "dup_tokens", "dup_frac",
        )
        .orderBy("doc_id")
        .collect()
    )
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_connected_components_driver_path_matches_distributed(
    spark, force_distributed
):
    """The capped-collect union-find short-circuit must label exactly
    like the iterative large-star/small-star fixpoint — chain graphs
    (worst case for label propagation) and a star, with singleton ids
    absent from both."""
    from didtool_spark.operators.dedup import connected_components

    edges = (
        [(i, i + 1) for i in range(10, 20)]        # chain 10..20
        + [(100, x) for x in (101, 102, 103)]      # star at 100
        + [(7, 5), (5, 3)]                         # out-of-order chain
        + [(42, 42)]                               # self-loop dropped
    )
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    fast = connected_components(pairs).toPandas()
    with force_distributed():
        slow = connected_components(pairs).toPandas()
    f = dict(zip(fast["id"], fast["component"]))
    s = dict(zip(slow["id"], slow["component"]))
    assert f == s
    assert f[19] == 10 and f[103] == 100 and f[7] == 3 and 42 not in f


def test_numpy_union_find_matches_dict_union_find():
    """The vectorized driver union-find (r6: Arrow collect + numpy
    min-label pointer jumping) must label exactly like the dict-based
    reference on adversarial shapes: long chains (deep label
    propagation), random graphs, and duplicate/reversed edges."""
    import random

    import numpy as np

    from didtool_spark.operators.dedup import (
        _driver_union_find, _numpy_union_find,
    )

    rng = random.Random(13)
    cases = [
        [(i + 1, i) for i in range(500)],                    # reversed chain
        [(i, i + 1) for i in range(500)],                    # chain
        [(rng.randrange(300), rng.randrange(300)) for _ in range(900)],
        [(2 * i, 2 * i + 1) for i in range(200)]             # pairs +
        + [(0, 2), (1, 3), (7, 9)],                          # some merges
    ]
    for edges in cases:
        edges = [(u, v) for u, v in edges if u != v]
        ref = _driver_union_find(edges)
        u = np.array([e[0] for e in edges], dtype=np.int64)
        v = np.array([e[1] for e in edges], dtype=np.int64)
        ids, comp = _numpy_union_find(u, v)
        got = dict(zip(ids.tolist(), comp.tolist()))
        assert got == ref


def test_paragraph_dedup_first_occurrence_and_reassembly(spark):
    from didtool_spark.operators.dedup import paragraph_dedup

    rows = [
        (0, "alpha bravo\n\nshared para\n\nunique zero"),
        (1, "shared para\n\nunique one"),
        (2, "shared para\n\nshared para"),   # within-doc self-dup
        (3, "shared para"),                   # fully duplicated doc
    ]
    out = {
        r["doc_id"]: r
        for r in paragraph_dedup(
            spark.createDataFrame(rows, ["doc_id", "text"])
        ).collect()
    }
    # doc 0 owns the first occurrence of every one of its paragraphs
    assert out[0]["text_clean"] == rows[0][1]
    assert (out[0]["n_paras"], out[0]["n_kept"]) == (3, 3)
    # later docs lose the shared paragraph but keep their own, in order
    assert out[1]["text_clean"] == "unique one"
    assert (out[2]["n_paras"], out[2]["n_kept"]) == (2, 0)
    assert out[3]["text_clean"] == "" and out[3]["n_kept"] == 0
    # normalization: case/whitespace variants are the same paragraph
    out2 = paragraph_dedup(
        spark.createDataFrame(
            [(10, "Hello  World"), (11, "hello world")], ["doc_id", "text"]
        )
    ).collect()
    d = {r["doc_id"]: r["n_kept"] for r in out2}
    assert d == {10: 1, 11: 0}


def test_tfidf_keywords_matches_numpy(spark):
    from didtool_spark.operators.text import tfidf_keywords

    rows = [
        (0, "apple apple banana cherry"),
        (1, "banana cherry cherry date"),
        (2, "apple date date date elder"),
    ]
    got = tfidf_keywords(
        spark.createDataFrame(rows, ["doc_id", "text"]), top_k=2
    ).collect()
    # numpy oracle: tf = cnt/len, idf = ln((1+N)/(1+df)) + 1
    import collections
    import math

    docs = {i: t.split() for i, t in rows}
    df_ = collections.Counter()
    for toks in docs.values():
        df_.update(set(toks))
    n = len(docs)
    exp = {}
    for i, toks in docs.items():
        c = collections.Counter(toks)
        scored = sorted(
            (
                (round((k / len(toks)) * (math.log((1 + n) / (1 + df_[t])) + 1), 6), t)
                for t, k in c.items()
            ),
            key=lambda x: (-x[0], x[1]),
        )
        exp[i] = [(t, s, r + 1) for r, (s, t) in enumerate(scored[:2])]
    got_by_doc = {}
    for r in got:
        got_by_doc.setdefault(r["doc_id"], []).append(
            (r["token"], r["score"], r["rank"])
        )
    for i in got_by_doc:
        got_by_doc[i].sort(key=lambda x: x[2])
    assert got_by_doc == exp


def test_quality_classifier_separates_and_distributed_fit_agrees(
    spark, monkeypatch
):
    import numpy as np

    from didtool_spark.operators import classifier
    from didtool_spark.operators.classifier import (
        fit_quality_classifier,
        score_quality,
    )
    from didtool_spark.plans.pipeline_queries import _qc_fixture_spark

    fixture = _qc_fixture_spark(spark)
    model = fit_quality_classifier(fixture, n_buckets=512, n_iter=300)
    scores = {
        r["doc_id"]: (r["quality_prob"], r["quality_label"])
        for r in score_quality(fixture, model).collect()
    }
    # training accuracy on a separable fixture should be essentially 1
    correct = sum(1 for d, (_, lab) in scores.items() if lab == d % 2)
    assert correct >= 0.99 * len(scores)
    assert all(p > 0.7 for d, (p, _) in scores.items() if d % 2 == 1)
    assert all(p < 0.3 for d, (p, _) in scores.items() if d % 2 == 0)

    # the distributed GD path runs the same math with Spark reductions:
    # weights agree to float-sum-order noise
    drv = fit_quality_classifier(fixture, n_buckets=512, n_iter=20)
    monkeypatch.setattr(classifier, "_DRIVER_DOCS", 0)
    dist = fit_quality_classifier(fixture, n_buckets=512, n_iter=20)
    np.testing.assert_allclose(dist.weights, drv.weights, rtol=1e-8, atol=1e-10)
    np.testing.assert_allclose(dist.bias, drv.bias, rtol=1e-8, atol=1e-10)


def test_quality_classifier_hash_fn_parity(spark):
    """xxhash64 (engine default) and md5_60 (oracle replay) are
    interchangeable feature spaces on the separable fixture: identical
    predicted labels, and score_quality hashes with the model's own
    fitted hash_fn (recorded on the NamedTuple) on both paths."""
    from didtool_spark.operators.classifier import (
        fit_quality_classifier,
        score_quality,
    )
    from didtool_spark.plans.pipeline_queries import _qc_fixture_spark

    fixture = _qc_fixture_spark(spark)
    labels = {}
    for fn in ("xxhash64", "md5_60"):
        model = fit_quality_classifier(fixture, n_buckets=512, n_iter=300, hash_fn=fn)
        assert model.hash_fn == fn
        labels[fn] = {
            r["doc_id"]: r["quality_label"]
            for r in score_quality(fixture, model).collect()
        }
    assert labels["xxhash64"] == labels["md5_60"]
    assert all(lab == d % 2 for d, lab in labels["xxhash64"].items())


def test_quality_classifier_over_cap_equals_driver(spark, monkeypatch):
    """A labeled set one document over the cap is fitted distributed
    instead of raising, with the driver fit's weights."""
    import numpy as np

    from didtool_spark.operators import classifier
    from didtool_spark.plans.pipeline_queries import _qc_fixture_spark

    fixture = _qc_fixture_spark(spark)
    kw = dict(n_buckets=64, n_iter=5, hash_fn="md5_60")
    drv = classifier.fit_quality_classifier(fixture, **kw)
    monkeypatch.setattr(classifier, "_DRIVER_DOCS", fixture.count() - 1)
    dist = classifier.fit_quality_classifier(fixture, **kw)
    np.testing.assert_allclose(dist.weights, drv.weights, rtol=1e-8, atol=1e-10)
    np.testing.assert_allclose(dist.bias, drv.bias, rtol=1e-8, atol=1e-10)
    assert dist.hash_fn == "md5_60"


def test_winnow_guarantee_and_overlap(spark):
    """Winnowing's core guarantee: any shared token run of length
    >= w + k - 1 produces at least one shared fingerprint; disjoint
    docs share none."""
    from didtool_spark.operators.text import (
        fingerprint_overlap,
        winnow_fingerprints,
    )

    shared = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 = w+k-1
    rows = [
        (0, f"one two three {shared} four five six"),
        (1, f"nine ten {shared} eleven twelve thirteen fourteen"),
        (2, "completely different words with no run in common at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = winnow_fingerprints(df, k=5, w=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[0] & by_doc[1], "shared 8-token run must share a fingerprint"
    assert not (by_doc[0] & by_doc[2]) and not (by_doc[1] & by_doc[2])

    ov = fingerprint_overlap(df, k=5, w=4, min_common=1).collect()
    assert {(r["id_a"], r["id_b"]) for r in ov} == {(0, 1)}

    # a doc shorter than k+w-1 tokens still yields exactly one fp
    tiny = spark.createDataFrame([(9, "just three words")], ["doc_id", "text"])
    assert len(winnow_fingerprints(tiny, k=5, w=4).collect()) == 1

    # md5_60 sibling selects the same COUNT of fingerprints per doc
    alt = winnow_fingerprints(df, k=5, w=4, hash_fn="md5_60").collect()
    alt_by_doc = {}
    for r in alt:
        alt_by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert set(alt_by_doc) == set(by_doc)


def test_collocations_matches_counter_oracle(spark):
    import collections
    import math

    from didtool_spark.operators.text import collocations

    rows = [
        ("new york is a big city",),
        ("new york has new parks",),
        ("the city of new york",),
        ("york new is rare",),
    ]
    got = collocations(
        spark.createDataFrame(rows, ["text"]), min_count=2, top_k=5
    ).collect()
    uni: collections.Counter = collections.Counter()
    big: collections.Counter = collections.Counter()
    for (t,) in rows:
        tk = t.split()
        uni.update(tk)
        big.update(zip(tk, tk[1:]))
    n1 = sum(uni.values())
    n2 = sum(big.values())
    exp = sorted(
        (
            (
                round(math.log((c / n2) / ((uni[a] / n1) * (uni[b] / n1))), 6),
                a,
                b,
                c,
            )
            for (a, b), c in big.items()
            if c >= 2
        ),
        key=lambda x: (-x[0], x[1], x[2]),
    )[:5]
    assert [(r["pmi"], r["token_a"], r["token_b"], r["n_pair"]) for r in got] == exp


def _semdedup_numpy_oracle(vecs, cents, threshold):
    """Independent python reference for semantic_dedup: argmin-assign,
    order by (dist desc, id asc), first-occurrence keep."""
    import numpy as np

    V = np.asarray(vecs, dtype=np.float64)
    C = np.asarray(cents, dtype=np.float64)
    d = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    cl = d.argmin(axis=1)
    cd = d[np.arange(len(V)), cl]
    out = {}
    for k in set(cl):
        ids = [i for i in range(len(V)) if cl[i] == k]
        order = sorted(ids, key=lambda i: (-cd[i], i))
        for pos, i in enumerate(order):
            prior = order[:pos]
            if prior:
                sims = [
                    float(V[i] @ V[j] / (np.linalg.norm(V[i]) * np.linalg.norm(V[j])))
                    for j in prior
                ]
                m = max(sims)
                out[i] = (int(cl[i]), cd[i], m, m >= threshold)
            else:
                out[i] = (int(cl[i]), cd[i], None, False)
    return out


@pytest.mark.parametrize(
    "compute,pairwise",
    [("expr", "join"), ("arrow", "join"), ("expr", "grouped"),
     ("arrow", "grouped")],  # last = the shipped default combination
)
def test_semantic_dedup_matches_numpy(spark, compute, pairwise):
    from didtool_spark.operators.similarity import semantic_dedup

    rng = np.random.RandomState(21)
    centers = rng.randn(4, 8) * 4
    vecs = []
    for c in centers:
        base = c + rng.randn(8) * 0.3
        vecs.append(base)
        vecs.append(base + rng.randn(8) * 0.01)  # planted semantic dup
        vecs.extend(c + rng.randn(4, 8) * 1.5)
    vecs = np.asarray(vecs, dtype=np.float32)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    cents = [[float(x) for x in c] for c in centers]
    got = semantic_dedup(
        df, cents, threshold=0.9, compute=compute, pairwise=pairwise
    ).toPandas()
    exp = _semdedup_numpy_oracle(vecs, cents, 0.9)
    assert len(got) == len(vecs)
    n_dups = 0
    for r in got.itertuples():
        cl, cd, m, dup = exp[r.vec_id]
        assert r.cluster == cl
        assert abs(r.centroid_dist - cd) < 1e-4
        if m is None:
            assert pd.isna(r.max_prior_sim)
        else:
            assert abs(r.max_prior_sim - m) < 1e-4
        assert bool(r.is_dup) == dup
        n_dups += bool(r.is_dup)
    # every planted twin (the later id of each pair) must be flagged
    assert n_dups >= 4


def test_semantic_dedup_grouped_join_bit_parity(spark):
    """The grouped Arrow kernel must be BIT-identical to the JVM
    self-join path (seq_dot/seq_norm mirror the lambda kernel; max is
    order-insensitive) — the gate oracle depends on it."""
    from didtool_spark.operators.similarity import semantic_dedup

    rng = np.random.RandomState(7)
    vecs = rng.randn(60, 16).astype(np.float32)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    cents = [[float(x) for x in c] for c in rng.randn(3, 16)]
    a = (
        semantic_dedup(df, cents, threshold=0.5, compute="expr", pairwise="grouped")
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    b = (
        semantic_dedup(df, cents, threshold=0.5, compute="expr", pairwise="join")
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b[a.columns], check_dtype=True, check_exact=True)
    # each cluster's keep-order opener has NULL max_prior_sim (not NaN)
    assert a["max_prior_sim"].isna().sum() == len(set(a["cluster"]))


def test_semantic_dedup_grouped_string_ids(spark):
    """The grouped kernel derives its applyInPandas schema from the
    input, so a string id column round-trips (ADVICE r3)."""
    from didtool_spark.operators.similarity import semantic_dedup

    rng = np.random.RandomState(5)
    vecs = rng.randn(12, 4).astype(np.float32)
    df = spark.createDataFrame(
        [(f"doc-{i:02d}", v.tolist()) for i, v in enumerate(vecs)],
        "vec_id string, embedding array<float>",
    )
    cents = [[float(x) for x in c] for c in rng.randn(2, 4)]
    a = (
        semantic_dedup(df, cents, threshold=0.5, pairwise="grouped")
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    b = (
        semantic_dedup(df, cents, threshold=0.5, pairwise="join")
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    assert a["vec_id"].tolist() == [f"doc-{i:02d}" for i in range(12)]
    pd.testing.assert_frame_equal(a, b[a.columns], check_dtype=True)


def test_semantic_dedup_zero_norm_parity(spark):
    """Zero-norm vectors have no defined cosine: the JVM path's
    try_divide yields a NULL sim (plain `/` would RAISE under the
    Spark 4 ANSI default) and the Arrow kernel's 0/0 NaN is excluded
    from the prior max — both paths agree: a zero-norm prior never
    decides is_dup, and a row whose priors are ALL zero-norm gets
    (max_prior_sim NULL, is_dup False), like an opener (ADVICE r3)."""
    from didtool_spark.operators.similarity import semantic_dedup

    # single centroid [1,0]; keep order (dist desc, id asc) is
    # row2 (1.16) -> row3 (1.15, near-dup of row2) -> row0 (1.0,
    # ZERO-NORM: all its prior sims undefined) -> row1 (0.25, real
    # priors plus the zero-norm one)
    rows = [
        (0, [0.0, 0.0]),
        (1, [0.5, 0.0]),
        (2, [0.0, 0.4]),
        (3, [0.0, 0.39]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [[1.0, 0.0]]
    outs = {}
    for pw in ("join", "grouped"):
        outs[pw] = (
            semantic_dedup(df, cents, threshold=0.9, pairwise=pw)
            .toPandas().sort_values("vec_id").reset_index(drop=True)
        )
    a, b = outs["grouped"], outs["join"]
    assert a["is_dup"].tolist() == b["is_dup"].tolist()
    assert a["max_prior_sim"].isna().tolist() == b["max_prior_sim"].isna().tolist()
    by_id = a.set_index("vec_id")
    # opener and the all-undefined-priors row: NULL sim, not dup
    assert pd.isna(by_id.loc[2, "max_prior_sim"])
    assert pd.isna(by_id.loc[0, "max_prior_sim"])
    assert not by_id.loc[0, "is_dup"] and not by_id.loc[2, "is_dup"]
    # row3 is a true near-dup of its real prior row2 (cosine 1.0)
    assert by_id.loc[3, "is_dup"]
    assert abs(by_id.loc[3, "max_prior_sim"] - 1.0) < 1e-6
    # row1 has real priors but none >= 0.9
    assert not by_id.loc[1, "is_dup"]
    assert not pd.isna(by_id.loc[1, "max_prior_sim"])


def test_prototype_prune_ranks_and_fraction(spark):
    from didtool_spark.operators.similarity import prototype_prune

    # two centroids; cluster 0 gets 10 points at known distances,
    # cluster 1 gets 5
    cents = [[0.0, 0.0], [100.0, 0.0]]
    rows = []
    for i in range(10):
        rows.append((i, [float(i), 0.0]))           # dist = i^2 to c0
    for i in range(5):
        rows.append((100 + i, [100.0 + i, 0.0]))    # dist = i^2 to c1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = prototype_prune(df, cents, prune_frac=0.2, compute="expr").toPandas()
    c0 = out[out["cluster"] == 0].sort_values("proto_rank")
    c1 = out[out["cluster"] == 1].sort_values("proto_rank")
    # rank follows distance-to-centroid ascending
    assert list(c0["vec_id"]) == list(range(10))
    assert list(c1["vec_id"]) == [100 + i for i in range(5)]
    # floor(0.2 * 10) = 2 pruned in c0; floor(0.2 * 5) = 1 in c1
    assert list(c0["is_pruned"]) == [True, True] + [False] * 8
    assert list(c1["is_pruned"]) == [True] + [False] * 4

    # arrow sibling agrees on every column
    out2 = prototype_prune(df, cents, prune_frac=0.2, compute="arrow").toPandas()
    a = out.sort_values("vec_id").reset_index(drop=True)
    b = out2.sort_values("vec_id").reset_index(drop=True)
    assert a.equals(b)


def test_hash_vectorize_long_matches_exploded_array(spark):
    """The r6 long-form hashing path must emit exactly the rows that
    exploding hash_vectorize's canonical array would — including NULL
    categoricals (a level), NULL numerics (dropped), and sign-hash
    cancellation on colliding indices."""
    from pyspark.sql import functions as F

    from didtool_spark.operators.feature_hash import (
        hash_vectorize, hash_vectorize_long,
    )

    rows = [
        (0, "click", 10.0), (1, None, 3.5), (2, "view", None),
        (3, "error", -7.25), (4, "click", 0.0), (5, None, None),
    ]
    df = spark.createDataFrame(rows, "id long, et string, v double")
    # n_features=2 forces index collisions so the per-row merge matters
    for nf in (2, 8):
        wide = hash_vectorize(
            df, cat_cols=["et"], num_cols=["v"], n_features=nf,
            hash_fn="md5_60",
        )
        exploded = (
            wide.select("id", F.explode("features").alias("f"))
            .select("id", F.col("f.idx").alias("idx"), F.col("f.v").alias("v"))
        )
        long = hash_vectorize_long(
            df, "id", cat_cols=["et"], num_cols=["v"], n_features=nf,
            hash_fn="md5_60",
        )
        a = sorted(map(tuple, exploded.collect()))
        b = sorted(map(tuple, long.collect()))
        assert a == b, (nf, a, b)
