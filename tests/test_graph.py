"""pagerank units: numpy power-iteration differential (same fixed
round count), mass conservation, dangling-node redistribution,
lineage checkpointing smoke at a higher iteration count."""

from __future__ import annotations

import numpy as np
import pandas as pd

from didtool_spark.operators.graph import pagerank


def _pr_numpy(edges, n_nodes, d=0.85, iters=8):
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    deg = np.zeros(n)
    for a, _ in edges:
        deg[idx[a]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        c = np.zeros(n)
        for a, b in edges:
            c[idx[b]] += r[idx[a]] / deg[idx[a]]
        dangling = sum(r[i] for i in range(n) if deg[i] == 0)
        r = (1 - d) / n + d * (c + dangling / n)
    return {v: r[idx[v]] for v in nodes}


EDGES = [
    (1, 2), (2, 1), (2, 3), (3, 1), (4, 3), (1, 4),
    (5, 1),  # 5 has out-degree but no in-edges
    (3, 6),  # 6 is dangling (no out-edges)
]


def _df(spark, edges):
    return spark.createDataFrame(
        pd.DataFrame(edges, columns=["src", "dst"])
    )


def test_pagerank_matches_numpy(spark):
    # tol=None: bit-for-bit fixed-count differential vs numpy
    out = pagerank(
        _df(spark, EDGES), damping=0.85, iterations=8, tol=None
    ).toPandas()
    ref = _pr_numpy(EDGES, 6, d=0.85, iters=8)
    got = dict(zip(out.node, out["rank"]))
    assert set(got) == set(ref)
    for v in ref:
        assert abs(got[v] - ref[v]) < 1e-12, v
    # total mass conserved
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # the hub (1) outranks the never-linked source (5)
    assert got[1] > got[5]


def test_pagerank_dangling_mass_redistributed(spark):
    # two nodes, one edge a->b: b is dangling; without redistribution
    # total mass decays below 1
    out = pagerank(
        _df(spark, [(10, 20)]), damping=0.85, iterations=12, tol=None
    ).toPandas()
    assert abs(out["rank"].sum() - 1.0) < 1e-9
    ref = _pr_numpy([(10, 20)], 2, iters=12)
    got = dict(zip(out.node, out["rank"]))
    for v in ref:
        assert abs(got[v] - ref[v]) < 1e-12


def test_pagerank_checkpoint_path(spark):
    # iterations > checkpoint_every exercises the localCheckpoint
    # (and, with the default tol, the piggy-backed delta check)
    out = pagerank(
        _df(spark, EDGES), iterations=7, checkpoint_every=2
    ).toPandas()
    assert len(out) == 6
    assert abs(out["rank"].sum() - 1.0) < 1e-9


def test_pagerank_early_stop_matches_fixed_count_when_converged(spark):
    # run far past convergence: the tol path must stop early AND land
    # on the same ranks (within tol) as the exhaustive fixed count
    df = _df(spark, EDGES)
    fixed = pagerank(df, iterations=60, tol=None).toPandas()
    early = pagerank(df, iterations=60, checkpoint_every=2, tol=1e-9).toPandas()
    f = dict(zip(fixed.node, fixed["rank"]))
    g = dict(zip(early.node, early["rank"]))
    assert set(f) == set(g)
    for v in f:
        assert abs(f[v] - g[v]) < 1e-8, v
    assert abs(early["rank"].sum() - 1.0) < 1e-9


def test_pagerank_empty_edges(spark):
    # ADVICE r4: n == 0 must not ZeroDivisionError; empty frame out
    empty = _df(spark, [(1, 2)]).filter("src < 0")
    out = pagerank(empty).toPandas()
    assert len(out) == 0
    assert list(out.columns) == ["node", "rank"]


def test_pagerank_driver_matches_distributed(spark, force_distributed):
    # r6: the bounded driver path (numpy bincount power iteration) must
    # land on the same ranks as the distributed join plan, on a graph
    # with dangling AND zero-in-degree nodes, incl. the rounding the
    # gate query applies
    import random

    rng = random.Random(7)
    edges = list({(rng.randrange(40), rng.randrange(40)) for _ in range(160)})
    edges = [(a, b) for a, b in edges if a != b]
    df = _df(spark, edges)
    drv = pagerank(df, iterations=6, tol=None).toPandas()
    with force_distributed():
        dst = pagerank(df, iterations=6, tol=None).toPandas()
    d1 = dict(zip(drv.node, np.round(drv["rank"] * 1e6, 6)))
    d2 = dict(zip(dst.node, np.round(dst["rank"] * 1e6, 6)))
    assert d1 == d2


def test_pagerank_dedupe_matches_prededuped(spark, force_distributed):
    # dedupe=True on a multiset input == caller-side .distinct(), on
    # both the driver and the distributed path
    edges = [(1, 2), (1, 2), (2, 3), (3, 1), (2, 3), (4, 1), (1, 2)]
    df = _df(spark, edges)
    base = pagerank(df.distinct(), iterations=6, tol=None).toPandas()
    drv = pagerank(df, iterations=6, tol=None, dedupe=True).toPandas()
    with force_distributed():
        dst = pagerank(df, iterations=6, tol=None, dedupe=True).toPandas()
    b = dict(zip(base.node, np.round(base["rank"] * 1e6, 6)))
    for got in (drv, dst):
        g = dict(zip(got.node, np.round(got["rank"] * 1e6, 6)))
        assert b == g


def test_pagerank_driver_early_stop_cadence(spark):
    # tol early-stop on the driver path follows the checkpoint_every
    # cadence and converges to the fixed-count ranks
    df = _df(spark, EDGES)
    fixed = pagerank(df, iterations=60, tol=None).toPandas()
    early = pagerank(df, iterations=60, checkpoint_every=2, tol=1e-9).toPandas()
    f = dict(zip(fixed.node, fixed["rank"]))
    g = dict(zip(early.node, early["rank"]))
    assert set(f) == set(g)
    for v in f:
        assert abs(f[v] - g[v]) < 1e-8, v
