"""Physical-plan shape assertions — the scale contract, not just the
values: single shuffle for the window family, filter/column pushdown
into the parquet scan, broadcast for small dimension joins."""

import pytest
from pyspark.sql import functions as F

from didtool_spark.data.transcripts import generate_transcripts
from didtool_spark.plans.materialize import materialize_features

SF = "/root/testdata/sf0.001"


def plan_str(df) -> str:
    from io import StringIO
    import contextlib

    buf = StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_materialize_single_exchange(spark, tmp_path_factory):
    # through parquet so the plan is the production shape (the in-session
    # generator is already partitioned by conv_id and needs no exchange)
    path = str(tmp_path_factory.mktemp("mat") / "t")
    generate_transcripts(spark, n_convs=10, avg_turns=5).write.parquet(path)
    feats = materialize_features(spark.read.parquet(path))
    p = plan_str(feats)
    # sessionize + lags + 5 rolling aggs + ffill share ONE partitioning:
    # exactly one Exchange and one Sort feed the whole window chain
    import re

    n_exchanges = len(re.findall(r"\(\d+\) Exchange", p))
    n_sorts = len(re.findall(r"\(\d+\) Sort", p))
    assert n_exchanges == 1, f"expected 1 exchange, got {n_exchanges}\n{p[:3000]}"
    assert n_sorts == 1, f"expected 1 sort, got {n_sorts}"


def test_scan_pushdown(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("scan") / "t")
    generate_transcripts(spark, n_convs=20, avg_turns=5).write.parquet(path)
    df = spark.read.parquet(path)
    q = df.where(F.col("role") == "tool").select("conv_id", "turn_idx")
    p = plan_str(q)
    # filter reaches the scan; projection prunes to 3 columns
    assert "PushedFilters: [IsNotNull(role), EqualTo(role,tool)]" in p, p
    assert "text" not in p.split("ReadSchema")[1].splitlines()[0]


def test_small_lookup_broadcasts(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    nat = spark.read.parquet(f"{SF}/nation.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    j = cust.join(nat, cust.c_nationkey == nat.n_nationkey)
    p = plan_str(j)
    assert "BroadcastHashJoin" in p, p[:2000]


def test_whole_stage_codegen_covers_transform(spark):
    """Encoder transforms stay inside whole-stage codegen (no UDF rows)."""
    from didtool_spark.operators.woe import WOEEncoder

    ev = spark.read.parquet(f"{SF}/events.parquet").withColumn(
        "y", (F.col("event_type") == "error").cast("int")
    )
    enc = WOEEncoder().fit(ev, "event_type", "y")
    out = ev.select(enc.expr("event_type").alias("w"))
    p = plan_str(out)
    # formatted mode marks codegen stages as "[codegen id : N]"
    assert "codegen id" in p, p[:1500]
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_user_rollup_single_exchange(spark):
    """sessionize + same-key groupBy share ONE hash partitioning: the
    rollup adds no exchange over the window's.  (events is NOT in
    load()'s default scan-spread set — window-family queries opt out,
    see demo_queries._SPREAD_DEFAULT — so the plan stays at exactly
    one exchange.)"""
    import re

    from didtool_spark.plans.demo_queries import q_user_rollup

    p = plan_str(q_user_rollup(spark, SF))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p[:3000]


def test_load_spread_keeps_scan_pushdown(spark):
    """The r6 scan-spread (documents/embeddings spread by default,
    spread=True opt-in elsewhere) must not break filter/column
    pushdown: the predicate and the pruned schema still reach the
    parquet scan below the RepartitionByExpression exchange."""
    from didtool_spark.plans.demo_queries import load

    df = load(spark, SF, "documents")
    q = df.where(F.col("doc_id") % 2 == 0).select("doc_id")
    p = plan_str(q)
    assert "Exchange" in p, p[:2000]          # the deliberate spread
    assert "PushedFilters:" in p, p[:2000]
    sch = p.split("ReadSchema")[1].splitlines()[0]
    assert "text" not in sch, sch              # column pruning survives


def test_curation_plan_shapes(spark):
    """Scale contracts of the curation family: scrub/chunk are pure
    codegen with ZERO shuffles; packing costs exactly one exchange (the
    per-shard window); nothing drops to Python row evaluation."""
    import re

    from didtool_spark.operators.curate import (
        chunk_documents, pack_sequences, scrub_pii, stratified_sample,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")

    p = plan_str(scrub_pii(docs, "text"))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 0, p[:2000]
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p

    p = plan_str(chunk_documents(docs, "text"))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 0, p[:2000]
    assert "Generate" in p  # the posexplode, not a join

    p = plan_str(
        stratified_sample(docs, "lang", {"en": 0.5}, id_col="doc_id")
    )
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 0, p[:2000]

    toks = docs.select("doc_id", F.size(F.split("text", r"\s+")).alias("n"))
    p = plan_str(pack_sequences(toks, "n", id_col="doc_id", n_shards=8))
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p[:3000]


def test_bucketed_rolling_no_global_window(spark, tmp_path_factory):
    """The bucketed rolling strategy must partition its windows by
    (key, bucket) — no window over the bare key (the hot-key
    serialization the strategy exists to avoid)."""
    from didtool_spark.operators.temporal import with_rolling

    path = str(tmp_path_factory.mktemp("bk") / "t")
    generate_transcripts(spark, n_convs=10, avg_turns=5).write.parquet(path)
    tr = spark.read.parquet(path).withColumn("text_len", F.length("text"))
    out = with_rolling(
        tr, [("text_len", "sum", 5)], strategy="bucketed", bucket_seconds=3600
    )
    p = plan_str(out)
    assert "__bucket" in p  # windows keyed by the time bucket
    # every Window node's partition spec mentions __bucket
    import re

    for spec in re.findall(r"partitionBy=\[([^\]]*)\]", p):
        assert "__bucket" in spec, spec


def test_bucketed_stitch_exchange_counts(spark, tmp_path_factory):
    """The bucketed carry-ins cost few shuffles: the bucketed
    materialize chain is one temporal._bucketed_scan — at most 4
    Exchanges (13 as four stacked carry self-joins) and the source read
    at most twice in the analyzed plan (16 stacked) — and the bucketed
    as-of join stays under the 4 of its old bucket-densifying theta
    join."""
    import re

    from didtool_spark.operators.temporal import asof_join

    path = str(tmp_path_factory.mktemp("stitch") / "t")
    generate_transcripts(spark, n_convs=10, avg_turns=5).write.parquet(path)
    tr = spark.read.parquet(path)

    def n_exchanges(df):
        return len(re.findall(r"\(\d+\) Exchange", plan_str(df)))

    mat = materialize_features(tr, strategy="bucketed", bucket_seconds=3600)
    assert n_exchanges(mat) <= 4, plan_str(mat)[:3000]
    leaves = mat._jdf.queryExecution().analyzed().collectLeaves()
    relations = [
        leaves.apply(i) for i in range(leaves.size())
        if leaves.apply(i).nodeName() == "LogicalRelation"
    ]
    assert len(relations) <= 2, mat._jdf.queryExecution().analyzed().toString()[:3000]
    feats = tr.where(F.col("role") == "tool").select(
        "conv_id", "ts", F.length("text").cast("double").alias("score")
    )
    anchors = tr.where(F.col("role") == "user").select("conv_id", "turn_idx", "ts")
    for strict in (False, True):
        out = asof_join(
            anchors, feats, value_cols=["score"], strict=strict,
            strategy="bucketed", n_buckets=16,
        )
        assert n_exchanges(out) < 4, plan_str(out)[:3000]


def test_new_text_ops_plan_shapes(spark):
    """Scale contracts for the session's text/dedup additions:
    - paragraph_dedup: no Window (groupBy-min, not a per-hash sort), no
      Python eval in the row path;
    - tfidf_keywords: document frequency comes from the (doc, token)
      table — no count(DISTINCT) expand — and the scalar corpus size
      enters via broadcast;
    - quality-classifier scoring: bounded weight table broadcast, no
      Python eval;
    - winnowing fingerprints: pure expressions, no Window, no Python.
    """
    import numpy as np

    from didtool_spark.operators.classifier import QualityClassifier, score_quality
    from didtool_spark.operators.dedup import paragraph_dedup
    from didtool_spark.operators.text import tfidf_keywords, winnow_fingerprints

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")

    p = plan_str(paragraph_dedup(docs))
    assert "Window" not in p and "PythonUDF" not in p and "BatchEvalPython" not in p

    p = plan_str(tfidf_keywords(docs))
    assert "Expand" not in p, "df must not use count(DISTINCT) expansion"
    assert "BroadcastExchange" in p, "scalar corpus count must broadcast"
    assert "PythonUDF" not in p

    model = QualityClassifier(np.zeros(64), 0.0, 64)
    p = plan_str(score_quality(docs, model))
    assert "BroadcastHashJoin" in p, "weight table must broadcast"
    assert "PythonUDF" not in p

    p = plan_str(winnow_fingerprints(docs))
    assert "Window" not in p and "PythonUDF" not in p
    assert "Exchange" not in p, "fingerprint selection is shuffle-free"


def test_semantic_dedup_plan_shape(spark):
    """SemDeDup scale contract: cluster id is the only co-location key
    (no all-pairs cross join), assignment is pure expressions in the
    expr path (no Python eval), and prototype_prune is ONE
    cluster-partitioned window exchange."""
    import re

    from didtool_spark.operators.similarity import prototype_prune, semantic_dedup
    from didtool_spark.plans.pipeline_queries import _ivf_gate_centroids

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = _ivf_gate_centroids()

    p = plan_str(semantic_dedup(emb, cents, compute="expr", pairwise="join"))
    assert "PythonUDF" not in p and "BatchEvalPython" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p

    # grouped pairwise: ONE cluster-keyed exchange into the Arrow
    # kernel, still no all-pairs join anywhere
    p = plan_str(semantic_dedup(emb, cents, compute="expr", pairwise="grouped"))
    assert "FlatMapGroupsInPandas" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    n_ex = len(re.findall(r"\(\d+\) Exchange", p))
    assert n_ex == 1, p

    # the shipped DEFAULT (compute='arrow', pairwise='grouped') rides
    # the Arrow kernel — pinned here so the runtime requirement
    # (pandas/pyarrow-capable workers) stays explicit; pairwise='join'
    # above is the documented pure-JVM fallback (ADVICE r3)
    p = plan_str(semantic_dedup(emb, cents))
    assert "FlatMapGroupsInPandas" in p

    p = plan_str(prototype_prune(emb, cents, compute="expr"))
    assert "PythonUDF" not in p
    n_ex = len(re.findall(r"\(\d+\) Exchange", p))
    assert n_ex == 1, p


def test_bpe_tokenize_plan_shape(spark):
    """Scale contract of the vocab strategy: the chained-replace
    segmentation runs over the DISTINCT-word table (an Aggregate below
    the join — each word segmented once), occurrences join to it (AQE
    broadcast here), and NO Python eval node exists anywhere."""
    from didtool_spark.operators.bpe import bpe_tokenize, fit_bpe

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    merges = fit_bpe(docs.limit(50), "text", n_merges=8)
    p = plan_str(bpe_tokenize(docs, merges))
    assert "PythonUDF" not in p and "BatchEvalPython" not in p
    assert "HashAggregate" in p  # the distinct-word vocab table
    assert "staticinvoke" in p.lower() or "replace" in p.lower()


def test_feature_bank_plan_shapes(spark):
    """Scale contract of the round-4 feature bank: stateless hashed
    features are shuffle-free codegen; the calibration/agreement/
    transition/novelty/pooling family shuffles only on aggregated or
    entity keys; no Python eval node anywhere."""
    import re

    from didtool_spark.operators.calibration import reliability_table
    from didtool_spark.operators.feature_hash import (
        hash_vectorize, hashed_cross,
    )
    from didtool_spark.operators.pooling import pool_embeddings
    from didtool_spark.operators.seq_features import (
        transition_counts, with_turn_novelty,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")

    def exchanges(df):
        p = plan_str(df)
        assert "PythonUDF" not in p and "BatchEvalPython" not in p, p[:2000]
        return len(re.findall(r"\(\d+\) Exchange", p)), p

    # stateless hashing: zero shuffle, stays in the scan stage
    n, p = exchanges(hashed_cross(ev, ["event_type", "user_id"], 64))
    assert n == 0, p[:2000]
    n, p = exchanges(
        hash_vectorize(ev, cat_cols=["event_type"], num_cols=["value"])
    )
    assert n == 0, p[:2000]

    # reliability: ONE map-side-combined groupBy (partial_avg present)
    scored = ev.withColumn("s", F.col("value") / 500.0).withColumn(
        "y", (F.col("value") > 5).cast("int")
    )
    n, p = exchanges(reliability_table(scored, "s", "y"))
    assert n == 1 and "partial_avg" in p, p[:2500]

    # transitions: ONE exchange total — the (user, from, to) groupBy
    # rides the lag window's user_id hash partitioning (the entity key
    # is a grouping-key subset, so Catalyst inserts no second shuffle)
    n, p = exchanges(
        transition_counts(ev, "event_type", keys="user_id",
                          order=("ts", "event_id"))
    )
    assert n == 1, p[:2500]

    # novelty: one entity-sort exchange, everything else codegen
    n, p = exchanges(
        with_turn_novelty(ev, "props", keys="user_id",
                          order=("ts", "event_id"))
    )
    assert n == 1, p[:2500]

    # pooling long form: one (keys, dim) groupBy with map-side combine
    n, p = exchanges(
        pool_embeddings(emb, "embedding", keys="label", long=True)
    )
    assert n == 1 and "partial_avg" in p, p[:2500]


def test_session8_plan_shapes(spark, force_distributed):
    """Scale contracts of the session-8 operators: snapshot compaction
    aggregates without sorting, SCD2 never collapses to a single
    partition, and the segment ranks run under per-bucket hash
    partitioning (the only SinglePartition exchanges feed the bounded
    <= n_buckets stats tables)."""
    import re

    from didtool_spark.operators.scd import scd2_compress, snapshot_latest
    from didtool_spark.operators.segments import _global_rank

    ev = spark.read.parquet(f"{SF}/events.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")

    # snapshot_latest: ONE exchange, map-side combined partial_max_by
    # (the shuffle carries one row per key per mapper, never history),
    # and every Sort orders by the grouping keys only — the history
    # order (ts) never reaches a sort, unlike a row_number window
    p = plan_str(
        snapshot_latest(ev, keys=("user_id", "event_type"),
                        order=("ts", "event_id"))
    )
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1, p[:2500]
    assert "partial_max_by" in p, p[:2500]
    for m in re.finditer(r"\(\d+\) Sort\n.*\nArguments: (.*)", p):
        assert "ts#" not in m.group(1), m.group(1)

    # scd2 window strategy: every exchange is hash-partitioned on the
    # entity key; nothing falls back to a single partition
    p = plan_str(
        scd2_compress(ev, "event_type", keys="user_id",
                      order=("ts", "event_id"))
    )
    assert "SinglePartition" not in p, p[:2500]
    assert "hashpartitioning(user_id" in p, p[:2500]

    # pareto's rank, DISTRIBUTED regime (r6: below the 8M-entity cap
    # the ranks come from the bounded numpy driver path — force the
    # bucketed fallback to assert its shape): per-entity rows are
    # ranked under __bk hash partitioning; SinglePartition appears
    # only for the bounded bucket-stats window.  pareto_curve eagerly
    # checkpoints its result (cache hygiene, ADVICE r4), which
    # truncates the inspectable plan to a Scan ExistingRDD — inspect
    # the lazy plan of the rank it runs instead
    per = orders.groupBy(F.col("o_custkey").alias("key")).agg(
        F.sum("o_totalprice").alias("amount")
    )
    with force_distributed():
        ranked, _ = _global_rank(
            per, "amount", ["key"], descending=True, sum_col="amount",
            rank_name="rank",
        )
        p = plan_str(ranked)
    assert "hashpartitioning(__bk" in p, p[:2500]


def test_fuzzy_pairs_scores_each_pair_once(spark):
    """The Arrow Levenshtein kernel runs in ONE ArrowEvalPython node:
    the dist filter stays above the projection that computes dist
    instead of being pushed below it, which would score every blocked
    pair a second time."""
    import re

    from didtool_spark.operators.linkage import fuzzy_pairs

    cust = spark.read.parquet(f"{SF}/customer.parquet")
    p = plan_str(
        fuzzy_pairs(cust, "c_custkey", "c_name", max_dist=2, prefix_len=16)
    )
    n_udf = len(re.findall(r"\(\d+\) ArrowEvalPython", p))
    assert n_udf == 1, f"expected 1 ArrowEvalPython, got {n_udf}\n{p}"
