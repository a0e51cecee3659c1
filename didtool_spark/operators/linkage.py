"""Blocked record linkage: fuzzy-duplicate pairs under an edit-distance
threshold without the O(n^2) cross join.

The MinHash/SimHash family (dedup.py) targets long documents; entity
RESOLUTION targets short strings (names, addresses, product titles)
where the right primitive is edit distance.  The classic scale recipe:

1. normalize (lower, squeeze whitespace);
2. emit one or more cheap BLOCKING KEYS per record (here: character
   prefix of the normalized string and, optionally, its length
   bucket); only records sharing a block are ever compared;
3. self-join within blocks (id_a < id_b), score each candidate once
   with a banded Arrow Levenshtein kernel thresholded at max_dist
   (``levenshtein(a, b, max_dist)`` semantics: -1 above the bound;
   the JVM form scores strings longer than the kernel's bound);
4. keep pairs at distance >= 0, i.e. <= max_dist.

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


def _levenshtein_arrow_udf(max_dist: int):
    """``F.levenshtein(a, b, max_dist)`` as a vectorized Arrow kernel:
    the exact code-point distance when it is <= max_dist, else -1;
    NULL in -> NULL out.  Each side becomes a UTF-32 code-point matrix
    in one step (one encode of the joined batch, one mask scatter).
    Pairs whose lengths differ by more than max_dist answer -1 with no
    DP; the rest run Ukkonen's band (|i - j| <= k, int16) over the PAIR
    axis: one whole-batch update of the 2k+1 band cells per code point
    of ``a``, the in-row dependency folded by a cumulative minimum, so
    the cost is O(len * k) per pair, not O(len_a * len_b).  Measured on
    10k random sf0.01 name pairs at k = 2 (4-core host): 10-12 ms, where
    the full Wagner-Fischer table with a per-row encode took 80-97 ms.
    Property-tested against ``F.levenshtein`` in tests/test_linkage.py
    (unicode, astral, empty, NULL, long-vs-short)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def codes(s, lens, width, off=0):
        # one row per code-point position, one column per string,
        # (-1)-padded; the mask scatters in the joined string's order
        m = np.full((len(s), width), -1, dtype=np.int32)
        m[:, off:][np.arange(width - off) < lens[:, None]] = np.frombuffer(
            "".join(s).encode("utf-32-le"), dtype=np.int32
        )
        return np.ascontiguousarray(m.T)

    def lev(a, b):
        null = (a.isna() | b.isna()).to_numpy()
        out = np.full(len(a), -1, dtype=np.int32)
        sa, sb = a.to_numpy()[~null], b.to_numpy()[~null]
        la = np.fromiter(map(len, sa), np.int64, len(sa))
        lb = np.fromiter(map(len, sb), np.int64, len(sb))
        if max(la.max(initial=0), lb.max(initial=0)) > _ARROW_MAX_LEN:
            raise ValueError(f"string longer than {_ARROW_MAX_LEN}")
        near = np.abs(la - lb) <= max_dist
        sa, sb, la, lb = sa[near], sb[near], la[near], lb[near]
        La, Lb = int(la.max(initial=0)), int(lb.max(initial=0))
        # a band wider than the longest string reaches no further cell
        k = min(max_dist, max(La, Lb))
        w = 2 * k + 1
        am = codes(sa, la, La)
        # b's code point for band cell d of row i sits at row i + d of
        # bm (k + 1 rows of padding hold the j <= 0 cells)
        bm = codes(sb, lb, max(La + w, k + 1 + Lb), k + 1)
        ar = np.arange(w, dtype=np.int16)[:, None]
        # row 0: D[0][j] = j in band cell d = j + k; the j < 0 cells
        # start above k, so no path through them answers <= k
        prev = np.repeat(np.where(ar >= k, ar - k, k + 1), len(sa), axis=1)
        at = lb - la + k  # band cell of the answer D[la][lb]
        dist = np.empty(len(sa), dtype=np.int16)
        for i in range(La + 1):
            if i:
                t = prev + (am[i - 1] != bm[i : i + w])
                np.minimum(t[:-1], prev[1:] + 1, out=t[:-1])
                prev = np.minimum.accumulate(t - ar, axis=0) + ar
            hit = np.flatnonzero(la == i)
            dist[hit] = prev[at[hit], hit]
        out[np.flatnonzero(~null)[near]] = np.where(dist <= max_dist, dist, -1)
        return pd.Series(pd.arrays.IntegerArray(out, null))

    # real (non-string) annotations: this module uses
    # `from __future__ import annotations`, which would stringify
    # in-function hints and break pandas_udf eval-type inference
    lev.__annotations__ = {"a": pd.Series, "b": pd.Series, "return": pd.Series}
    # nondeterministic: keeps the optimizer from pushing the caller's
    # dist filter below the projection, which scores every pair twice
    return pandas_udf(lev, "int").asNondeterministic()


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
    # two projections: __norm first, so custom block_exprs may read it
    # (or any input column); then key, length bucket and the double
    # emission in the narrowing select (each projection re-analyses the
    # plan, so they are not split further)
    base = df.withColumn("__norm", normalize_name(text_col))
    use_lb = block_exprs is None and bool(length_bucket)
    lb_exprs: list[Column] = []
    if block_exprs is not None:
        bk = F.struct(*block_exprs)
    elif use_lb:
        pfx = F.substring("__norm", 1, prefix_len).alias("__pfx")
        lb = F.floor(F.length("__norm") / F.lit(length_bucket)).cast("int")
        lb_exprs = [lb.alias("__lb")]
        # emit under own bucket and the next: the boundary-straddling
        # pair meets at the greater bucket
        bk = F.explode(F.array(
            F.struct(pfx, lb.alias("__jk")), F.struct(pfx, (lb + 1).alias("__jk"))
        ))
    else:
        bk = F.struct(F.substring("__norm", 1, prefix_len).alias("__pfx"))
    blocked = base.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("text"),
        "__norm",
        bk.alias("__bk"),
        *lb_exprs,
    )
    lb_cols = ["__lb"] if use_lb else []

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
    # scoring: ``compute='arrow'`` (default) runs the banded Arrow
    # kernel above, once per pair (one ArrowEvalPython node, pinned in
    # tests/test_plan_shape.py).  ``compute='expr'`` is the pure-JVM
    # ``levenshtein(a, b, max_dist)`` the kernel reproduces: the
    # parity reference the tests assert against, with no Python
    # boundary.  Both answer -1 above max_dist.  Measured on the
    # registry's customer-name pair table (local[2], 4-core host, plan
    # built and checkpointed per run): 0.85-0.95 s for 74k pairs at
    # sf0.01 and 2.3-3.1 s for 742k pairs at sf0.1 ('expr': 5.8-7.1 s),
    # where the unbanded kernel, scored twice, took 2.0-2.1 s and
    # 10.7-11.9 s.
    dist = F.levenshtein("__na", "__nb", max_dist)
    if compute == "arrow":
        # the kernel pads a batch to its longest string: longer pairs
        # pass it NULLs and are scored by the JVM form
        long = F.greatest(F.length("__na"), F.length("__nb")) > _ARROW_MAX_LEN
        na, nb = (F.when(~long, F.col(c)) for c in ("__na", "__nb"))
        dist = F.when(long, dist).otherwise(_levenshtein_arrow_udf(max_dist)(na, nb))
    elif compute != "expr":
        raise ValueError(f"unknown compute `{compute}`")
    return (
        out.withColumn("dist", dist)
        .where(F.col("dist") >= 0)
        .select("id_a", "id_b", "text_a", "text_b", "dist")
    )
