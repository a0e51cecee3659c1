"""Streaming feature path: file-source micro-batch (availableNow) with
checkpointed incremental re-runs; session stats vs the batch engine."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from didtool_spark.data.transcripts import generate_transcripts
from didtool_spark.operators.temporal import sessionize
from didtool_spark.streaming.stream import (
    read_transcript_stream,
    run_stream_once,
    streaming_session_stats,
    streaming_turn_features,
)

GAP = 1800


def _each_window(check, table):
    """Run ``check(row)`` on every emitted window row from a pool of 4
    threads: each check is a few short Spark jobs whose latency, not
    the executors, bounds a serial loop.  Every window is checked and
    the first failure is re-raised."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as pool:
        list(pool.map(check, table.itertuples(index=False)))


@pytest.fixture(scope="module")
def stream_dirs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    src = str(root / "src")
    tr = generate_transcripts(spark, n_convs=30, avg_turns=10)
    tr.write.mode("overwrite").parquet(src)
    return src, str(root)


def test_streaming_turn_features(spark, stream_dirs):
    src, root = stream_dirs
    out = os.path.join(root, "feat_out")
    ck = os.path.join(root, "feat_ck")
    stream = read_transcript_stream(spark, src)
    assert stream.isStreaming
    run_stream_once(streaming_turn_features(stream), ck, out)
    got = spark.read.parquet(out)
    n = spark.read.parquet(src).count()
    assert got.count() == n
    assert "text_len" in got.columns and "is_tool" in got.columns

    # incremental: re-run with same checkpoint processes nothing new
    run_stream_once(streaming_turn_features(read_transcript_stream(spark, src)), ck, out)
    assert spark.read.parquet(out).count() == n


def test_streaming_session_stats_matches_batch(spark, stream_dirs):
    src, root = stream_dirs
    out = os.path.join(root, "sess_out")
    ck = os.path.join(root, "sess_ck")
    run_stream_once(
        streaming_session_stats(
            read_transcript_stream(spark, src), GAP, watermark="0 seconds"
        ),
        ck, out,
    )
    got = spark.read.parquet(out)

    src_df = spark.read.parquet(src)
    max_ts = src_df.select(F.max("ts")).first()[0]
    batch = sessionize(src_df, gap_seconds=GAP)
    batch_sessions = (
        batch.groupBy("conv_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        # append mode only emits sessions CLOSED at the final watermark
        # (session end + gap <= max event time); the still-open tail
        # session is correctly withheld by streaming semantics
        .where(
            F.col("session_end") + F.expr(f"INTERVAL {GAP} SECONDS")
            <= F.lit(max_ts)
        )
    )
    # same sessions: (conv, start, n_turns) triples
    a = (
        got.select("conv_id", "session_start", "n_turns")
        .toPandas()
        .sort_values(["conv_id", "session_start"])
        .reset_index(drop=True)
    )
    b = (
        batch_sessions.select("conv_id", "session_start", "n_turns")
        .toPandas()
        .sort_values(["conv_id", "session_start"])
        .reset_index(drop=True)
    )
    assert a.equals(b)


def test_stateful_running_features(spark, stream_dirs, tmp_path_factory):
    """applyInPandasWithState: state must carry across micro-batches
    (maxFilesPerTrigger=1 forces several) and reproduce the batch
    cumulative features exactly."""
    from didtool_spark.streaming.stream import streaming_running_features

    src, _ = stream_dirs
    root = str(tmp_path_factory.mktemp("stateful"))
    out = os.path.join(root, "out")
    ck = os.path.join(root, "ck")

    stream = read_transcript_stream(spark, src, max_files_per_trigger=1)
    run_stream_once(streaming_running_features(stream, GAP), ck, out)
    got = (
        spark.read.parquet(out)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )

    batch_src = spark.read.parquet(src)
    from didtool_spark.operators.temporal import sessionize
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("conv_id")
        .orderBy("ts", "turn_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    expect = (
        sessionize(batch_src, gap_seconds=GAP)
        .withColumn("turn_number", F.count(F.lit(1)).over(w))
        .withColumn("cum_text_len", F.sum(F.length("text")).over(w))
        .select("conv_id", "turn_idx", "turn_number", "cum_text_len", "session_id")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(got) == len(expect)
    assert (got["turn_number"].values == expect["turn_number"].values).all()
    assert (got["cum_text_len"].values == expect["cum_text_len"].values).all()
    assert (got["session_id"].values == expect["session_id"].values).all()


def test_streaming_exact_dedup(spark, tmp_path_factory):
    """Duplicated texts within the watermark horizon are emitted once;
    the survivor set matches the batch exact-dedup canonical set."""
    from didtool_spark.operators.dedup import exact_dupes
    from didtool_spark.streaming.stream import streaming_exact_dedup

    root = tmp_path_factory.mktemp("sdedup")
    src, out, ck = str(root / "src"), str(root / "out"), str(root / "ck")
    tr = generate_transcripts(spark, n_convs=10, avg_turns=8)
    # plant duplicates: every text appears twice under different ids
    dup = tr.withColumn("turn_idx", F.col("turn_idx") + 1000)
    tr.unionByName(dup).write.mode("overwrite").parquet(src)

    run_stream_once(
        streaming_exact_dedup(read_transcript_stream(spark, src), watermark="0 seconds"),
        ck, out,
    )
    got = spark.read.parquet(out)
    batch = spark.read.parquet(src)
    n_distinct = batch.select(
        F.md5(F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "))
    ).distinct().count()
    assert got.count() == n_distinct
    # batch path agrees on the number of canonical survivors
    b = exact_dupes(
        batch.withColumn("doc_id", F.monotonically_increasing_id()),
        "text", "doc_id",
    )
    assert b.where(F.col("is_dup") == 0).count() == n_distinct


def test_streaming_psi_monitor_matches_batch(spark, tmp_path_factory):
    """Per-window streaming PSI == batch metrics.psi on the same window
    slice: the streaming side only aggregates (window, bin) counts; the
    fold reuses the identical floored-rate formula."""
    from didtool_spark.operators.metrics import psi as batch_psi
    from didtool_spark.plans.materialize import turn_features
    from didtool_spark.streaming.drift import PsiMonitor

    root = tmp_path_factory.mktemp("drift")
    src, out, ck = str(root / "src"), str(root / "out"), str(root / "ck")
    tr = generate_transcripts(spark, n_convs=40, avg_turns=10)
    feats = turn_features(tr).select("conv_id", "ts", "text_len")
    feats.write.mode("overwrite").parquet(src)
    ref = spark.read.parquet(src)

    mon = PsiMonitor("text_len", n_bins=5).fit(ref)

    stream = (
        spark.readStream.schema("conv_id string, ts timestamp, text_len int")
        .format("parquet")
        .load(src)
    )
    run_stream_once(
        mon.binned_counts(
            stream, window_duration="30 minutes", watermark="0 seconds"
        ),
        ck, out,
    )
    table = mon.psi_table(spark.read.parquet(out))
    assert len(table) >= 2  # several windows closed and emitted

    def check(row):
        sl = ref.where(
            (F.col("ts") >= F.lit(row.window_start))
            & (F.col("ts") < F.lit(row.window_end))
        )
        assert sl.count() == row.n_rows
        # one-shot monitor fold == streaming fold == batch psi()
        assert abs(mon.psi_now(sl) - row.psi) < 1e-12
        assert abs(batch_psi(ref, sl, "text_len", n_bins=5) - row.psi) < 1e-12

    _each_window(check, table)


def test_streaming_near_dup_matches(spark, tmp_path_factory):
    """Incremental crawl-dedup: a stream of perturbed copies is checked
    against the static MinHash index of the original corpus — every
    planted near-copy matches its source doc, with the same jaccard the
    batch verify computes."""
    from didtool_spark.operators.dedup import jaccard_expr, near_dup_index, shingles_expr
    from didtool_spark.streaming.stream import streaming_near_dup_matches

    root = tmp_path_factory.mktemp("snear")
    src, out, ck = str(root / "src"), str(root / "out"), str(root / "ck")

    # reference corpus: synthetic docs with enough shared-vocab variety
    base = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(F.lit(f"w{w}x"), ((F.col("id") * 7 + w) % 13).cast("string"))
                for w in range(30)
            ],
        ).alias("text"),
    )
    idx = near_dup_index(base, bands=16)
    idx = idx._replace(
        bands_df=idx.bands_df.persist(), shingles_df=idx.shingles_df.persist()
    )
    idx.bands_df.count(), idx.shingles_df.count()

    # stream: first 20 docs with the tail truncated (jaccard ~0.66)
    incoming = base.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 5000).alias("doc_id"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
        F.regexp_replace(F.col("text"), r"( \S+){10}$", "").alias("text"),
    )
    incoming.write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, ts timestamp, text string")
        .format("parquet")
        .load(src)
    )
    run_stream_once(
        streaming_near_dup_matches(
            stream, idx, threshold=0.5, watermark="0 seconds"
        ),
        ck, out,
    )
    got = spark.read.parquet(out).toPandas()

    # batch ground truth: exact jaccard of each incoming doc vs its source
    truth = (
        incoming.select("doc_id", shingles_expr(F.col("text")).alias("sa"))
        .join(
            base.select(
                (F.col("doc_id") + 5000).alias("doc_id"),
                shingles_expr(F.col("text")).alias("sb"),
            ),
            "doc_id",
        )
        .select("doc_id", F.round(jaccard_expr(F.col("sa"), F.col("sb")), 6).alias("j"))
        .toPandas()
        .set_index("doc_id")["j"]
    )
    matched_self = got[got["matched_id"] == got["doc_id"] - 5000]
    assert len(matched_self) == 20  # every planted near-copy found
    for r in matched_self.itertuples(index=False):
        assert abs(r.jaccard - truth[r.doc_id]) < 1e-12
    # no pair reported twice despite multi-band collisions
    assert not got.duplicated(["doc_id", "matched_id"]).any()


def test_streaming_psi_monitor_categorical(spark, tmp_path_factory):
    """Categorical monitor: with cardinality under the cap the
    per-window PSI equals batch psi(is_continuous=False); values never
    seen at fit time fold into OTHER instead of growing state."""
    from didtool_spark.operators.metrics import psi as batch_psi
    from didtool_spark.streaming.drift import PsiMonitor

    root = tmp_path_factory.mktemp("driftcat")
    src, out, ck = str(root / "src"), str(root / "out"), str(root / "ck")
    tr = generate_transcripts(spark, n_convs=40, avg_turns=10)
    feats = tr.select("conv_id", "ts", "role")
    feats.write.mode("overwrite").parquet(src)
    ref = spark.read.parquet(src)

    mon = PsiMonitor("role", is_continuous=False).fit(ref)

    stream = (
        spark.readStream.schema("conv_id string, ts timestamp, role string")
        .format("parquet")
        .load(src)
    )
    run_stream_once(
        mon.binned_counts(stream, window_duration="30 minutes", watermark="0 seconds"),
        ck, out,
    )
    table = mon.psi_table(spark.read.parquet(out))
    assert len(table) >= 2

    def check(row):
        sl = ref.where(
            (F.col("ts") >= F.lit(row.window_start))
            & (F.col("ts") < F.lit(row.window_end))
        )
        assert abs(mon.psi_now(sl) - row.psi) < 1e-12
        assert abs(
            batch_psi(ref, sl, "role", is_continuous=False) - row.psi
        ) < 1e-12

    _each_window(check, table)

    # unseen category folds into OTHER (bounded state), no crash
    unseen = spark.createDataFrame(
        [("c", ref.select(F.max("ts")).first()[0], "brand-new-role")],
        "conv_id string, ts timestamp, role string",
    )
    v = mon.psi_now(ref.unionByName(unseen))
    assert v > 0


def test_psi_monitor_categorical_numeric_dtype_matches_batch(spark):
    """ADVICE r02: the monitor's categorical key must use the same
    normalization as batch metrics.psi ('nan' sentinel, int-normalized
    numerics) so the batch-equality contract holds for NUMERIC columns
    too, not only plain strings."""
    from didtool_spark.operators.metrics import psi as batch_psi
    from didtool_spark.streaming.drift import PsiMonitor

    ref = spark.range(200).select(
        (F.col("id") % 7).cast("double").alias("code")
    )
    # actual: shifted distribution + a NaN block (hits the 'nan' key)
    actual = spark.range(150).select(
        F.when(F.col("id") % 11 == 0, F.lit(float("nan")))
        .otherwise((F.col("id") % 5).cast("double"))
        .alias("code")
    )
    mon = PsiMonitor("code", is_continuous=False).fit(ref)
    got = mon.psi_now(actual)
    want = batch_psi(ref, actual, "code", is_continuous=False)
    assert abs(got - want) < 1e-12


def test_stateful_decayed_features_matches_batch(spark, stream_dirs, tmp_path_factory):
    """streaming_decayed_features: the sequential decay-state fold must
    carry across micro-batches and reproduce batch with_decayed (both
    strictly historical) to float tolerance."""
    import numpy as np

    from didtool_spark.operators.ts_features import with_decayed
    from didtool_spark.streaming.stream import (
        read_transcript_stream, run_stream_once, streaming_decayed_features,
    )

    src, _ = stream_dirs
    root = str(tmp_path_factory.mktemp("decayed_stream"))
    out = os.path.join(root, "out")
    ck = os.path.join(root, "ck")

    stream = read_transcript_stream(spark, src, max_files_per_trigger=1)
    run_stream_once(streaming_decayed_features(stream, 3600.0), ck, out)
    got = (
        spark.read.parquet(out)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )

    batch_src = spark.read.parquet(src).withColumn(
        "tl", F.length("text").cast("double")
    )
    expect = (
        with_decayed(
            batch_src, [("tl", "sum"), ("tl", "count")], 3600.0,
            keys="conv_id", order=("ts", "turn_idx"), ts_col="ts",
        )
        .select("conv_id", "turn_idx", "tl_decsum_3600s", "tl_deccount_3600s")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(got) == len(expect) and len(got) > 0
    for g_col, e_col in [
        ("text_len_decsum", "tl_decsum_3600s"),
        ("turn_deccount", "tl_deccount_3600s"),
    ]:
        g, e = got[g_col], expect[e_col]
        assert (g.isna() == e.isna()).all(), g_col  # first turn of a conv
        m = ~g.isna()
        assert np.allclose(g[m], e[m], rtol=1e-9), g_col


def test_streaming_calibration_monitor_matches_batch(spark, tmp_path_factory):
    """Per-window streaming calibration == batch calibration_metrics on
    the same window slice: the streaming side aggregates four
    sufficient statistics per (window, bin); the fold is identical."""
    from didtool_spark.operators.calibration import calibration_metrics
    from didtool_spark.streaming.drift import CalibrationMonitor

    root = tmp_path_factory.mktemp("calib")
    src, out, ck = str(root / "src"), str(root / "out"), str(root / "ck")
    tr = generate_transcripts(spark, n_convs=40, avg_turns=10)
    scored = tr.select(
        "conv_id",
        "ts",
        (1.0 / (1.0 + F.exp(-(F.length("text") - 40.0) / 20.0))).alias("s"),
        (F.col("role") == "assistant").cast("int").alias("y"),
    )
    scored.write.mode("overwrite").parquet(src)
    ref = spark.read.parquet(src)

    mon = CalibrationMonitor("s", "y", n_bins=10)
    stream = (
        spark.readStream.schema("conv_id string, ts timestamp, s double, y int")
        .format("parquet")
        .load(src)
    )
    run_stream_once(
        mon.windowed_bins(
            stream, window_duration="30 minutes", watermark="0 seconds"
        ),
        ck, out,
    )
    table = mon.calibration_table(spark.read.parquet(out))
    assert len(table) >= 2

    def check(row):
        sl = ref.where(
            (F.col("ts") >= F.lit(row.window_start))
            & (F.col("ts") < F.lit(row.window_end))
        )
        batch = calibration_metrics(sl, "s", "y", n_bins=10).collect()[0]
        assert batch["n"] == row.n_rows
        for m in ("brier", "ece", "mce"):
            assert abs(batch[m] - getattr(row, m)) < 1e-12, m
        one = mon.now(sl)
        for m in ("brier", "ece", "mce"):
            assert abs(one[m] - getattr(row, m)) < 1e-12, m

    _each_window(check, table)


def test_streaming_transitions_match_batch(spark, stream_dirs, tmp_path_factory):
    """streaming_transitions: the one-value state must carry across
    micro-batches and reproduce batch transition_counts exactly."""
    from didtool_spark.operators.seq_features import transition_counts
    from didtool_spark.streaming.stream import (
        read_transcript_stream, run_stream_once, streaming_transitions,
    )

    src, _ = stream_dirs
    root = str(tmp_path_factory.mktemp("trans_stream"))
    out, ck = os.path.join(root, "out"), os.path.join(root, "ck")

    stream = read_transcript_stream(spark, src, max_files_per_trigger=1)
    run_stream_once(streaming_transitions(stream, col="role"), ck, out)
    got = (
        spark.read.parquet(out)
        .groupBy("from", "to")
        .count()
        .withColumnRenamed("count", "n")
    )

    batch = transition_counts(
        spark.read.parquet(src), "role",
        keys="conv_id", order=("ts", "turn_idx"), per_key=False,
    )
    g = {(r["from"], r["to"]): r["n"] for r in got.collect()}
    b = {(r["from"], r["to"]): r["n"] for r in batch.collect()}
    assert g == b and sum(b.values()) > 0


def test_streaming_funnel_matches_batch(spark, stream_dirs, tmp_path_factory):
    """streaming_funnel: the completed-steps state must carry across
    micro-batches and reproduce batch funnel() exactly — same depth
    and same step timestamps per conversation."""
    from pyspark.sql import functions as F

    from didtool_spark.operators.funnel import funnel
    from didtool_spark.streaming.stream import (
        read_transcript_stream, run_stream_once, streaming_funnel,
    )

    src, _ = stream_dirs
    root = str(tmp_path_factory.mktemp("funnel_stream"))
    out, ck = os.path.join(root, "out"), os.path.join(root, "ck")

    values = ["user", "assistant", "tool"]
    stream = read_transcript_stream(spark, src, max_files_per_trigger=1)
    run_stream_once(streaming_funnel(stream, "role", values), ck, out)
    got_rows = spark.read.parquet(out).collect()
    got = {}
    for r in got_rows:
        got.setdefault(r["conv_id"], {})[r["depth"]] = (r["step"], r["ts"])

    batch = funnel(
        spark.read.parquet(src),
        [(v, F.col("role") == v) for v in values],
        keys="conv_id", order=("ts", "turn_idx"),
    )
    n_checked = 0
    for r in batch.collect():
        conv = r["conv_id"]
        emitted = got.get(conv, {})
        assert len(emitted) == r["depth"], (conv, emitted, r)
        for i, v in enumerate(values[: r["depth"]], start=1):
            step, ts = emitted[i]
            assert step == v
            # both paths emit the RAW completion timestamp
            assert ts == r[f"{v}_ts"], (conv, v, ts, r[f"{v}_ts"])
        n_checked += r["depth"]
    assert n_checked > 0


def test_streaming_snapshot_matches_batch(spark, stream_dirs, tmp_path_factory):
    """streaming_snapshot: the one-row-per-key state must carry across
    micro-batches; the newest emission per (conv_id, role) equals the
    batch snapshot_latest at drain time."""
    from didtool_spark.operators.scd import snapshot_latest
    from didtool_spark.streaming.stream import (
        read_transcript_stream, run_stream_once, streaming_snapshot,
    )

    src, _ = stream_dirs
    root = str(tmp_path_factory.mktemp("snap_stream"))
    out, ck = os.path.join(root, "out"), os.path.join(root, "ck")

    stream = read_transcript_stream(spark, src, max_files_per_trigger=1)
    run_stream_once(streaming_snapshot(stream), ck, out)

    got = snapshot_latest(
        spark.read.parquet(out),
        keys=("conv_id", "role"), order=("ts", "turn_idx"),
    ).toPandas()
    exp = (
        snapshot_latest(
            spark.read.parquet(src),
            keys=("conv_id", "role"), order=("ts", "turn_idx"),
        )
        .select("conv_id", "role", "turn_idx", "ts", "text", "tool")
        .toPandas()
    )
    key = ["conv_id", "role"]
    got = got[exp.columns].sort_values(key).reset_index(drop=True)
    exp = exp.sort_values(key).reset_index(drop=True)
    # the stream schema widens turn_idx to long; values must match
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    assert len(exp) > 0


def test_streaming_cms_matches_batch(spark, stream_dirs):
    """streaming_cms: the incremental streaming aggregation state IS
    the sketch — after a full drain in complete mode the cells equal
    the batch cms_build on the same rows."""
    from didtool_spark.operators.sketches import cms_build
    from didtool_spark.streaming.stream import (
        read_transcript_stream, streaming_cms,
    )

    src, _ = stream_dirs
    stream = read_transcript_stream(spark, src, max_files_per_trigger=1)
    q = (
        streaming_cms(stream, "role", width=64, depth=3)
        .writeStream.format("memory")
        .queryName("cms_live")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = (
        spark.table("cms_live").toPandas()
        .sort_values(["j", "bucket"]).reset_index(drop=True)
    )
    exp = (
        cms_build(spark.read.parquet(src), "role", width=64, depth=3)
        .toPandas().sort_values(["j", "bucket"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp)
    assert got.n.sum() > 0
