"""Cache lifecycle: no registry query leaves a Dataset in Spark's
CacheManager, ``functions.utils.persisted`` releases what it kept even
when its body raises, and no module outside ``functions/utils.py``
calls ``.persist(`` or ``.cache()`` itself. A second lint pins the
binning family's one cut dispatch, ``binning.fit_thresholds``, as the
only caller of the driver_fit cut functions.

Tables only a function reads go through ``persisted()``; tables a
returned lazy plan still reads are eager local checkpoints, which make
no CacheManager entry.  A SQL cache entry is never freed by GC, so one
leaked per call grows a long-lived session without bound."""

from __future__ import annotations

import ast
import io
import os
import tokenize

import pytest
from pyspark import StorageLevel

import __spark_entry__ as entrymod
from didtool_spark.functions.utils import persisted
from didtool_spark.plans import pipeline_queries
from tests.test_oracle_types import SF_DIR

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "didtool_spark")

# queries that build or fit through a cached intermediate
QUERIES = [
    "dedup_clusters", "minhash_dedup", "ngram_jaccard", "lm_perplexity",
    "fingerprint_overlap", "rfm", "pareto", "quality_classifier", "auc_ks",
    "selector_stats",
]
# their persisting distributed fallbacks run only under force_distributed
FORCED_QUERIES = ["pagerank", "entity_resolution", "winsorize"]


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _leaks(spark, names) -> list[str]:
    queries = entrymod.queries()
    leaked = []
    for name in names:
        # the memos would skip the pair-table builds on a second call
        pipeline_queries.clear_memos()
        spark.catalog.clearCache()
        queries[name](spark, SF_DIR).toPandas()
        if not _cache_empty(spark):
            leaked.append(name)
    spark.catalog.clearCache()
    return leaked


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata missing")
def test_registry_queries_leave_no_cache(spark, force_distributed):
    leaked = _leaks(spark, QUERIES)
    with force_distributed():
        leaked += _leaks(spark, FORCED_QUERIES)
    assert not leaked, f"queries leaving a CacheManager entry: {leaked}"


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata missing")
def test_memo_sees_rewritten_table(spark, tmp_path):
    """A table rewritten under the same path between two calls gets a
    fresh pair table, not the memoized one of the old file."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    for f in os.listdir(SF_DIR):
        shutil.copyfile(os.path.join(SF_DIR, f), tmp_path / f)
    query = entrymod.queries()["fuzzy_pairs"]

    def pairs():
        return sorted(tuple(r) for r in query(spark, str(tmp_path)).collect())

    before = pairs()
    path = tmp_path / "customer.parquet"
    t = pq.read_table(path)
    names = t.column("c_name").to_pylist()
    names[1] = names[0]  # an exact duplicate name: a new dist-0 pair
    i = t.schema.get_field_index("c_name")
    t = t.set_column(i, t.schema.field(i), pa.array(names, t.schema.field(i).type))
    pq.write_table(t, path)
    after = pairs()
    assert after != before
    pipeline_queries.clear_memos()
    assert after == pairs()


def test_distributed_classifier_fit_leaves_no_cache(spark, monkeypatch):
    from didtool_spark.operators import classifier
    from didtool_spark.plans.pipeline_queries import _qc_fixture_spark

    monkeypatch.setattr(classifier, "_DRIVER_DOCS", 0)
    spark.catalog.clearCache()
    classifier.fit_quality_classifier(
        _qc_fixture_spark(spark), n_buckets=64, n_iter=2
    )
    assert _cache_empty(spark)


def test_persisted_releases_on_raise(spark):
    spark.catalog.clearCache()
    df = spark.range(20)
    with pytest.raises(RuntimeError, match="body failed"):
        with persisted() as keep:
            a = keep(df.selectExpr("id * 2 AS x"))
            b = keep(df.selectExpr("id + 1 AS y"), StorageLevel.MEMORY_AND_DISK)
            assert a.count() == 20
            assert b.storageLevel == StorageLevel.MEMORY_AND_DISK
            assert not _cache_empty(spark)
            raise RuntimeError("body failed")
    assert a.storageLevel == b.storageLevel == StorageLevel.NONE
    assert _cache_empty(spark)


def _cache_calls(path: str) -> list[int]:
    """Lines of ``path`` whose code (not comments or strings) calls
    ``.persist(`` or ``.cache()``."""
    with open(path, encoding="utf-8") as fh:
        toks = [
            t for t in tokenize.generate_tokens(io.StringIO(fh.read()).readline)
            if t.type in (tokenize.OP, tokenize.NAME)
        ]
    hits = []
    for dot, name, paren in zip(toks, toks[1:], toks[2:]):
        if dot.string == "." and paren.string == "(" and name.string in (
            "persist", "cache",
        ):
            hits.append(name.start[0])
    return hits


def test_no_cache_call_outside_persisted():
    allowed = os.path.join(PKG, "functions", "utils.py")
    found = []
    for root, _, files in os.walk(PKG):
        for f in files:
            path = os.path.join(root, f)
            if f.endswith(".py") and path != allowed:
                found += [
                    f"{os.path.relpath(path, PKG)}:{n}" for n in _cache_calls(path)
                ]
    assert not found, (
        "persist/cache outside functions.utils.persisted: " + ", ".join(found)
    )


DRIVER_CUTS = {
    "cart_thresholds", "lgb_thresholds", "chimerge_edges",
    "quantile_edges_weighted", "step_edges_weighted",
}


def _cut_refs(path: str) -> list[tuple[int, str | None]]:
    """(line, enclosing top-level function, or "import", or None) of
    every code reference to a driver_fit cut function in ``path``."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    refs = []
    for top in tree.body:
        owner = top.name if isinstance(top, (ast.FunctionDef, ast.ClassDef)) else None
        for node in ast.walk(top):
            name = (
                node.id if isinstance(node, ast.Name)
                else node.attr if isinstance(node, ast.Attribute) else None
            )
            if name in DRIVER_CUTS:
                refs.append((node.lineno, owner))
            elif isinstance(node, ast.ImportFrom) and DRIVER_CUTS & {
                a.name for a in node.names
            }:
                refs.append((node.lineno, "import"))
    return refs


def test_driver_cuts_called_only_by_fit_thresholds():
    dispatch = os.path.join(PKG, "operators", "binning.py")
    skip = os.path.join(PKG, "functions", "driver_fit.py")
    found = []
    for root, _, files in os.walk(PKG):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == skip:
                continue
            found += [
                f"{os.path.relpath(path, PKG)}:{n}"
                for n, owner in _cut_refs(path)
                if not (path == dispatch and owner in ("fit_thresholds", "import"))
            ]
    assert not found, (
        "driver_fit cut called outside binning.fit_thresholds: " + ", ".join(found)
    )
