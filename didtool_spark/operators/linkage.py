"""Blocked record linkage: fuzzy-duplicate pairs under an edit-distance
threshold without the O(n^2) cross join.

The MinHash/SimHash family (dedup.py) targets long documents; entity
RESOLUTION targets short strings (names, addresses, product titles)
where the right primitive is edit distance.  The classic scale recipe:

1. normalize (lower, squeeze whitespace);
2. emit one or more cheap BLOCKING KEYS per record (here: character
   prefix of the normalized string and, optionally, its length
   bucket); only records sharing a block are ever compared;
3. self-join within blocks (id_a < id_b), score candidates with the
   JVM-side ``levenshtein`` — whole-stage codegen, no UDF;
4. keep pairs at distance <= max_dist.

Recall/cost is the blocking trade: a longer prefix means fewer, purer
blocks but misses early-character typos (classic multi-pass blocking
runs several key functions and unions candidates — ``block_exprs``
takes a list).  Skew safety mirrors the MinHash hot-bucket bound
(dedup.py): blocks larger than ``max_block`` are dropped with a
map-side count, so one degenerate key (empty names, "unknown") cannot
quadratically blow a task; the drop is observable in the returned
plan (filter on the counted block size).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["normalize_name", "fuzzy_pairs"]

# longest string the Arrow kernel scores (bounds its per-batch padding);
# sf0.01 customer names normalize to at most 18 code points
_ARROW_MAX_LEN = 64


def normalize_name(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")


def _levenshtein_arrow_udf():
    """Exact Levenshtein as a vectorized Arrow kernel: strings decode
    to UTF-32 code-point matrices and the Wagner-Fischer recurrence
    runs over the PAIR axis — L_a x L_b iterations of whole-batch
    numpy minimums instead of one interpreted JVM DP (allocating its
    row arrays) per pair.  Measured on the gate's 7.4M blocked name
    pairs at sf1.0: 38s -> ~6s for the scoring stage.  Distances are
    identical to ``F.levenshtein`` (code-point semantics, NULL in ->
    NULL out; property-tested in tests/test_linkage.py incl. unicode
    and empty strings)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def lev(a, b):
        n = len(a)
        out = np.empty(n, dtype=np.float64)
        null = a.isna().to_numpy() | b.isna().to_numpy()
        av = a.fillna("").to_numpy()
        bv = b.fillna("").to_numpy()
        la = np.fromiter((len(s) for s in av), np.int64, n)
        lb = np.fromiter((len(s) for s in bv), np.int64, n)
        La = int(la.max()) if n else 0
        Lb = int(lb.max()) if n else 0
        if max(La, Lb) > _ARROW_MAX_LEN:
            raise ValueError(f"string longer than {_ARROW_MAX_LEN}")
        # code-point matrices, padded with -1 (never matches)
        am = np.full((n, La), -1, dtype=np.int32)
        bm = np.full((n, Lb), -1, dtype=np.int32)
        for r in range(n):
            if la[r]:
                am[r, : la[r]] = np.frombuffer(
                    av[r].encode("utf-32-le"), dtype=np.int32
                )
            if lb[r]:
                bm[r, : lb[r]] = np.frombuffer(
                    bv[r].encode("utf-32-le"), dtype=np.int32
                )
        prev = np.broadcast_to(
            np.arange(Lb + 1, dtype=np.int32), (n, Lb + 1)
        ).copy()
        # rows where la == 0 answer immediately: dist = lb
        done = la == 0
        out[done] = lb[done]
        idx = np.arange(n)
        for i in range(1, La + 1):
            curr = np.empty_like(prev)
            curr[:, 0] = i
            ai = am[:, i - 1]
            for j in range(1, Lb + 1):
                cost = (ai != bm[:, j - 1]).astype(np.int32)
                curr[:, j] = np.minimum(
                    np.minimum(prev[:, j] + 1, curr[:, j - 1] + 1),
                    prev[:, j - 1] + cost,
                )
            hit = la == i
            if hit.any():
                out[hit] = curr[idx[hit], lb[hit]]
            prev = curr
        out[null] = np.nan
        return pd.Series(out).astype("Int32")

    # real (non-string) annotations: this module uses
    # `from __future__ import annotations`, which would stringify
    # in-function hints and break pandas_udf eval-type inference
    lev.__annotations__ = {"a": pd.Series, "b": pd.Series, "return": pd.Series}
    return pandas_udf(lev, "int")


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 2,
    prefix_len: int = 3,
    length_bucket: int | None = 4,
    max_block: int = 10_000,
    block_exprs: Sequence[Column] | None = None,
    compute: str = "arrow",
) -> DataFrame:
    """Pairs ``(id_a, id_b, text_a, text_b, dist)`` with
    ``levenshtein(norm_a, norm_b) <= max_dist``, compared only inside
    blocks.  Default blocking key: (normalized prefix, length bucket).
    Length bucketing is LOSS-FREE for the edit-distance bound: each
    record is emitted under its own bucket AND the next one, and a
    pair is kept at the greater of the two buckets — since
    ``length_bucket >= max_dist`` is enforced, two strings within
    ``max_dist`` edits differ by at most one bucket and always meet.
    (Prefix blocking remains the recall trade: early-character typos
    land in different prefix blocks; ``block_exprs`` overrides the key
    entirely — pass several calls' unions for multi-pass blocking.)
    """
    if length_bucket and block_exprs is None and length_bucket < max_dist:
        raise ValueError(
            "length_bucket must be >= max_dist (buckets could otherwise "
            f"differ by more than one): {length_bucket} < {max_dist}"
        )
    # the key is computed BEFORE the narrowing select so custom
    # block_exprs may reference any input column (or "__norm")
    base = df.withColumn("__norm", normalize_name(text_col))
    use_lb = block_exprs is None and bool(length_bucket)
    if block_exprs is not None:
        base = base.withColumn("__bk", F.struct(*block_exprs))
    else:
        base = base.withColumn(
            "__pfx", F.substring("__norm", 1, prefix_len)
        )
        if use_lb:
            base = base.withColumn(
                "__lb",
                F.floor(F.length("__norm") / F.lit(length_bucket)).cast("int"),
            ).withColumn(
                # emit under own bucket and the next: the boundary-
                # straddling pair meets at the greater bucket
                "__jk",
                F.explode(F.array(F.col("__lb"), F.col("__lb") + 1)),
            )
            base = base.withColumn("__bk", F.struct("__pfx", "__jk"))
        else:
            base = base.withColumn("__bk", F.struct("__pfx"))
    lb_cols = ["__lb"] if use_lb else []
    blocked = base.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("text"),
        "__norm",
        "__bk",
        *lb_cols,
    )

    # map-side hot-block bound: count once, drop degenerate blocks
    sizes = blocked.groupBy("__bk").agg(F.count(F.lit(1)).alias("__bn"))
    blocked = blocked.join(
        sizes.where(F.col("__bn") <= max_block).select("__bk"), "__bk"
    )

    a = blocked.select(
        F.col("__bk"),
        F.col("id").alias("id_a"),
        F.col("text").alias("text_a"),
        F.col("__norm").alias("__na"),
        *[F.col(c).alias(f"{c}_a") for c in lb_cols],
    )
    b = blocked.select(
        F.col("__bk"),
        F.col("id").alias("id_b"),
        F.col("text").alias("text_b"),
        F.col("__norm").alias("__nb"),
        *[F.col(c).alias(f"{c}_b") for c in lb_cols],
    )
    out = a.join(b, "__bk").where(F.col("id_a") < F.col("id_b"))
    if use_lb:
        # dedupe the double emission: keep each pair only at the
        # greater of its two buckets
        out = out.where(
            F.col("__bk.__jk")
            == F.greatest(F.col("__lb_a"), F.col("__lb_b"))
        )
    # scoring (r6): ``compute='arrow'`` (default) runs the vectorized
    # Arrow Levenshtein kernel — profiling showed the JVM expression
    # (2- and 3-arg alike) costs ~130µs·core per pair (per-call DP row
    # allocation), 30s of the gate build's 45s, where the whole-batch
    # numpy recurrence does the same exact distances in ~6s.
    # ``compute='expr'`` keeps the pure-JVM thresholded form (banded
    # O(n·k) DP, -1 above the bound) — the parity sibling the tests
    # assert against, and the zero-Python-boundary fallback.
    if compute == "arrow":
        # the kernel pads a batch to its longest string: longer pairs
        # pass it NULLs and are scored by the JVM form
        long = F.greatest(F.length("__na"), F.length("__nb")) > _ARROW_MAX_LEN
        na, nb = (F.when(~long, F.col(c)) for c in ("__na", "__nb"))
        scored = out.withColumn(
            "dist",
            F.when(long, F.levenshtein("__na", "__nb", max_dist))
            .otherwise(_levenshtein_arrow_udf()(na, nb)),
        )
    elif compute == "expr":
        scored = out.withColumn(
            "dist", F.levenshtein("__na", "__nb", max_dist)
        )
    else:
        raise ValueError(f"unknown compute `{compute}`")
    return (
        scored.where((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
        .select("id_a", "id_b", "text_a", "text_b", "dist")
    )
