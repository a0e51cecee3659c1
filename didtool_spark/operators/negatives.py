"""Deterministic negative sampling for contrastive / recommender
training pairs.

Reference parity: didtool builds supervised matrices from given
labels; contrastive training (retrieval, recsys, reranking over
transcripts) also needs NEGATIVES — for each positive (entity, item)
pair, k items the entity did NOT interact with.  The naive
`sample(all_items)` is non-reproducible across cluster sizes and
reruns; this operator is hash-deterministic: the j-th negative for a
positive pair is a pure function of (entity, item, j, seed).

Scale design:
- the item dimension gets a dense 0..n-1 index ONCE via row_number
  over the item id — a global-window stage that is fine precisely
  because it runs on the DIMENSION table (items), never the pair fact
  table; the indexed dim is broadcast into the candidate join.
- candidates = positives x k via a literal explode (no cross join with
  the item table); the candidate index is hash(entity, item, j, seed)
  mod n — whole-stage codegen.
- accidental positives are removed with a LEFT ANTI join back to the
  positives on (entity, candidate item) — the only fact-sized shuffle,
  on exactly the keys a co-partitioned training join would reuse.
  Collisions are dropped, not resampled (documented: expected loss is
  ~|positives per entity| / n_items — negligible for real item spaces;
  resampling loops are not worth a second shuffle).
- ``hash_fn="md5_60"`` swaps the JVM xxhash64 for the portable md5
  prefix so a SQL oracle replays exact candidates (the dsir pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dsir import _bucket_expr

__all__ = ["negative_samples"]

# broadcast the indexed item dimension up to this many items (the
# sf1.0 `part` table has 200k rows)
_BROADCAST_ITEMS = 1_000_000


def negative_samples(
    positives: DataFrame,
    items: DataFrame,
    k: int,
    entity_col: str = "user_id",
    item_col: str = "item_id",
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """k deterministic negatives per positive pair:
    ``(entity, pos_item, j, neg_item)``.

    ``items`` must hold the distinct item ids (extra columns ride
    along onto the output).  Candidates colliding with ANY positive of
    the same entity are dropped (so a pair can yield < k rows); the
    same inputs + seed give the same negatives on any cluster size.
    Up to ``_BROADCAST_ITEMS`` items the indexed dimension is broadcast
    into the candidate join; larger item tables take a shuffled join.
    """
    n = items.count()
    if n == 0:
        raise ValueError("items is empty")
    idx = items.withColumn(
        "__idx",
        F.row_number().over(Window.orderBy(item_col)).cast("long") - 1,
    )
    if n <= _BROADCAST_ITEMS:
        idx = F.broadcast(idx)
    key = F.concat_ws(
        "\x1f",
        F.col(entity_col).cast("string"),
        F.col(item_col).cast("string"),
        F.col("j").cast("string"),
        F.lit(str(seed)),
    )
    cand = (
        positives.select(entity_col, item_col)
        .withColumn("j", F.explode(F.array(*[F.lit(i) for i in range(k)])))
        .withColumn("__idx", _bucket_expr(key, n, hash_fn))
    )
    joined = cand.join(idx.withColumnRenamed(item_col, "neg_item"), "__idx").select(
        F.col(entity_col),
        F.col(item_col).alias("pos_item"),
        "j",
        "neg_item",
        *[c for c in items.columns if c != item_col],
    )
    # drop candidates that are actually positives for the entity.  No
    # .distinct() on the build side: LEFT ANTI removes a left row when
    # ANY right match exists, so right-side duplicates cannot change
    # the result — the dedup was a pure extra exchange + two agg
    # passes over the fact-sized pair set (guide §2.4: a distinct on
    # data whose duplicates are irrelevant is an accidental shuffle).
    pos_pairs = positives.select(
        F.col(entity_col), F.col(item_col).alias("neg_item")
    )
    return joined.join(pos_pairs, [entity_col, "neg_item"], "left_anti")
