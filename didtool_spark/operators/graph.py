"""Graph analytics over edge tables: PageRank by iterative
message-passing joins.

The dedup family already ships alternating-star connected components
(dedup.py); PageRank is the other graph primitive a curation pipeline
reaches for (authority weighting of domains/URLs by their link graph,
influence scoring of entities by co-occurrence).

Distributed shape per iteration (the standard Pregel-as-joins plan):

    contribs = edges JOIN ranks ON src   (shuffle on src)
               -> (dst, rank/out_degree)
    sums     = contribs.groupBy(dst)     (shuffle on dst; map-side
                                          combined — the message sum
                                          never materializes per edge
                                          at the reducer)
    ranks    = nodes LEFT JOIN sums      + teleport & dangling mass

Ranks/nodes are one row per node; edges are the only big table and
are scanned once per iteration from cache.  Dangling mass (nodes with
no out-edges) is redistributed uniformly — the textbook correction,
one tiny agg per round.  The loop localCheckpoints every few rounds
to truncate lineage (the dedup_clusters convergence-loop pattern,
dedup.py:721).  Fixed iteration count: deterministic, and exactly
replayable by the DuckDB oracle as a chain of per-iteration CTEs
(plans/pipeline_queries._pagerank_oracle_sql).

At 10^12 edges: partition edges by src (the join key both shuffles
reuse), broadcast nothing (ranks are |V| rows — co-partitioned joins),
AQE handles the skewed high-degree hubs; hub fan-IN is absorbed by
the map-side combine on dst.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.utils import bounded_pull, persisted

__all__ = ["pagerank"]

# driver power-iteration cap: 30M edges is ~480 MB of longs
_DRIVER_EDGES = 30_000_000
# distributed path: broadcast the rank vector (|V| rows of (key,
# double), a few MB) up to this many nodes
_BROADCAST_NODES = 8_000_000


def _driver_pagerank(
    pdf,
    damping: float,
    iterations: int,
    checkpoint_every: int,
    tol: float | None,
    dedupe: bool,
):
    """``pagerank``'s power iteration as numpy kernels over the pulled
    (src, dst) frame: bincount fan-in for the per-round join, the same
    ``tele + d * (contrib + mass / n)`` update term for term and the
    same tol cadence, so both paths land on identical ranks."""
    import numpy as np
    import pandas as pd

    # hash-based factorize (no 2E-element sort); codes index the node
    # side arrays below.  Masked-float NaN ids are nodes, as in Spark.
    codes, uniques = pd.factorize(
        pd.concat([pdf["src"], pdf["dst"]], ignore_index=True)
    )
    n = len(uniques)
    if n == 0:
        return pd.DataFrame({"node": uniques, "rank": np.empty(0)})
    m = len(pdf)
    si = codes[:m]
    di = codes[m:]
    if dedupe:
        # distinct edges via packed codes: n <= 2 * _DRIVER_EDGES
        # (60M), so si * n + di < n^2 ~ 3.6e15 stays well inside int64
        packed = pd.unique(si * n + di)
        si, di = np.divmod(packed, n)
    deg = np.bincount(si, minlength=n).astype(np.float64)
    dang = deg == 0.0
    has_dangling = bool(dang.any())
    d = float(damping)
    tele = (1.0 - d) / n
    rank = np.full(n, 1.0 / n)
    prev_ck = rank
    per_edge_deg = deg[si]  # > 0 by construction (si nodes have out-edges)
    for i in range(int(iterations)):
        contrib = np.bincount(di, weights=rank[si] / per_edge_deg, minlength=n)
        mass = float(rank[dang].sum()) if has_dangling else 0.0
        rank = tele + d * (contrib + mass / n)
        if (
            checkpoint_every
            and (i + 1) % checkpoint_every == 0
            and tol is not None
        ):
            delta = float(np.max(np.abs(rank - prev_ck)))
            prev_ck = rank
            if delta < tol:
                break
    return pd.DataFrame({"node": uniques, "rank": rank})


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 8,
    checkpoint_every: int = 3,
    tol: float | None = 1e-6,
    dedupe: bool = False,
) -> DataFrame:
    """One row per node with its PageRank (uniform 1/N start, uniform
    teleport, dangling mass redistributed uniformly).  Ranks over all
    nodes sum to 1.

    ``tol`` (default 1e-6) enables convergence early-stop: the loop
    ends as soon as max\\|Δrank\\| < tol between consecutive
    checkpoints, with ``iterations`` as the cap.  The delta check
    piggy-backs on the eager ``checkpoint_every`` materialization (one
    small co-partitioned join + max agg per checkpoint, never per
    round).  Pass ``tol=None`` for a fixed, deterministic round count
    (what the oracle-checked gate query does — the DuckDB oracle
    replays exactly ``iterations`` CTE rounds).

    Distributed path (guide §3.1 — broadcast the side that fits): when
    the measured node count ``n`` is at most ``_BROADCAST_NODES``, each
    round joins the edge table against a BROADCAST of the rank vector
    and the edge table is cached partitioned by ``dst`` — so the
    per-round contribution join needs no exchange at all and the
    ``dst`` aggregation is partition-local: ZERO shuffles per
    iteration.  Above the bound the co-partitioned shuffle plan runs —
    at 10^9+ nodes a broadcast would not fit, which is exactly the
    regime the shuffle plan is for."""
    # a NULL id matches no join below, so a NULL-id edge carries no
    # rank; drop it before either path instead of leaving a NULL node
    e_in = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    # Graphs of at most _DRIVER_EDGES edges run as numpy on the driver
    # (functions.utils.bounded_pull).  ``dedupe=True`` declares the
    # input a MULTISET whose duplicates must not count (driver:
    # vectorized unique; distributed: .distinct()).
    pdf = bounded_pull(e_in, _DRIVER_EDGES)
    if pdf is not None:
        out = _driver_pagerank(
            pdf, damping, iterations, checkpoint_every, tol, dedupe
        )
        t = e_in.schema["src"].dataType.simpleString()
        return edges.sparkSession.createDataFrame(
            out, schema=f"node {t}, rank double"
        )
    if dedupe:
        e_in = e_in.distinct()
    # persist the edge table FIRST: it feeds nodes, degrees, the join
    # relation and the dangling set — without this the caller's edge
    # construction (often a self-join + distinct) re-executes for each
    with persisted() as keep:
        e = keep(e_in)
        nodes = keep(
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        n = nodes.count()
        if n == 0:
            # empty edge table: no nodes, no ranks — return the empty
            # (node, rank) frame instead of dividing by zero below
            return nodes.withColumn("rank", F.lit(0.0)).localCheckpoint(
                eager=True
            )
        bcast = n <= _BROADCAST_NODES
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        ej = e.join(deg, "src")
        if bcast:
            # partition the cached edge table by the AGGREGATION key:
            # with ranks broadcast, the src join imposes no
            # partitioning requirement, so laying edges out by dst
            # makes the per-round groupBy(dst) exchange-free
            ej = ej.repartition(
                e.sparkSession.sparkContext.defaultParallelism, F.col("dst")
            )
        ej = keep(ej)
        dangling = keep(nodes.join(
            deg.select(F.col("src").alias("node")), "node", "left_anti"
        ))
        # a graph with no dangling nodes (every co-occurrence graph,
        # any symmetrized graph) skips the per-round dangling-mass
        # subplan entirely — one fit-time count saves an agg +
        # crossJoin stage in every iteration
        has_dangling = dangling.limit(1).count() > 0
        # nodes nobody links to: their new rank has no contribution
        # term, so each round UNIONS them in (exchange-free) instead
        # of left-joining the full node table against the
        # contributions — one exchange per round saved
        zero_in = keep(nodes.join(
            e.select(F.col("dst").alias("node")).distinct(),
            "node", "left_anti",
        ))

        d = float(damping)
        tele = (1.0 - d) / n
        ranks = nodes.withColumn("rank", F.lit(1.0 / n))
        prev_checkpoint = ranks if tol is not None else None
        for i in range(int(iterations)):
            rk = ranks.withColumnRenamed("node", "src")
            if bcast:
                rk = F.broadcast(rk)
            contribs = (
                ej.join(rk, "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum(F.col("rank") / F.col("deg")).alias("c"))
            )
            if has_dangling:
                rks = F.broadcast(ranks) if bcast else ranks
                dm = (
                    dangling.join(rks, "node")
                    .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("m"))
                )
                linked = contribs.crossJoin(F.broadcast(dm)).select(
                    "node",
                    (
                        F.lit(tele)
                        + F.lit(d) * (F.col("c") + F.col("m") / n)
                    ).alias("rank"),
                )
                isolated = zero_in.crossJoin(F.broadcast(dm)).select(
                    "node",
                    (F.lit(tele) + F.lit(d) * (F.col("m") / n)).alias(
                        "rank"
                    ),
                )
            else:
                linked = contribs.select(
                    "node",
                    (F.lit(tele) + F.lit(d) * F.col("c")).alias("rank"),
                )
                isolated = zero_in.select(
                    "node", F.lit(tele).alias("rank")
                )
            ranks = linked.unionByName(isolated)
            if checkpoint_every and (i + 1) % checkpoint_every == 0:
                ranks = ranks.localCheckpoint(eager=True)
                if tol is not None:
                    delta = (
                        ranks.withColumnRenamed("rank", "r_new")
                        .join(
                            prev_checkpoint.withColumnRenamed(
                                "rank", "r_old"
                            ),
                            "node",
                        )
                        .agg(
                            F.max(
                                F.abs(F.col("r_new") - F.col("r_old"))
                            ).alias("d")
                        )
                        .collect()[0]["d"]
                    )
                    prev_checkpoint = ranks
                    # delta is across checkpoint_every rounds; the
                    # per-round delta is smaller still, so this is a
                    # conservative (never-premature) stop
                    if delta is not None and delta < tol:
                        break
        # one final eager checkpoint makes the result independent of
        # the cached helper tables, which the scope then releases
        return ranks.localCheckpoint(eager=True)
