"""Checkpoint/resume semantics + the zero-temporal-leakage audit
(north rule: features at anchor (conv_id, ts) must not read rows with
ts' > ts)."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from didtool_spark.data.transcripts import generate_transcripts
from didtool_spark.plans.checkpoint import CheckpointedRun
from didtool_spark.plans.materialize import materialize_features


@pytest.fixture(scope="module")
def tr(spark):
    return generate_transcripts(spark, n_convs=60, avg_turns=12).cache()


def test_checkpoint_resume(spark, tr, tmp_path_factory, monkeypatch):
    out = str(tmp_path_factory.mktemp("ckpt"))
    run = CheckpointedRun(spark, out, n_buckets=8)

    # row metrics must come from the write job itself (observe()), not
    # a read-back of the bucket output — spy on DataFrameReader.parquet
    # and assert no bucket directory is ever re-read during run()
    from pyspark.sql.readwriter import DataFrameReader

    read_paths = []
    orig_parquet = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        read_paths.extend(paths)
        return orig_parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    totals = run.run(tr, materialize_features)
    monkeypatch.setattr(DataFrameReader, "parquet", orig_parquet)
    assert not [p for p in read_paths if "bucket=" in str(p)], (
        "bucket output re-read during run(): metrics should come from "
        "the write job's observe(), one scan per bucket"
    )
    assert totals["buckets_run"] == 8
    assert totals["buckets_skipped"] == 0
    assert totals["rows"] == tr.count()
    assert totals["bytes"] > 0

    # resume: everything already committed -> nothing re-runs
    totals2 = CheckpointedRun(spark, out, n_buckets=8).run(tr, materialize_features)
    assert totals2["buckets_run"] == 0
    assert totals2["buckets_skipped"] == 8

    # simulate a crash: remove two manifest entries -> exactly those re-run
    for p in sorted(glob.glob(os.path.join(out, "_manifest", "bucket-*.json")))[:2]:
        os.remove(p)
    totals3 = CheckpointedRun(spark, out, n_buckets=8).run(tr, materialize_features)
    assert totals3["buckets_run"] == 2
    assert totals3["buckets_skipped"] == 6

    # the stitched result equals the one-shot job
    stitched = run.read_result()
    direct = materialize_features(tr)
    assert stitched.count() == direct.count()
    key = ["conv_id", "turn_idx"]
    a = stitched.select(*key, "session_id", "text_len_sum_last5").toPandas().sort_values(key).reset_index(drop=True)
    b = direct.select(*key, "session_id", "text_len_sum_last5").toPandas().sort_values(key).reset_index(drop=True)
    assert a.equals(b)

    # manifest carries lineage metrics
    man = run.manifest()
    assert len(man) == 8
    assert all(m["rows"] >= 0 and m["bytes"] > 0 and "finished_at" in m for m in man)


def test_checkpoint_rerun_on_changed_fingerprint(spark, tr, tmp_path_factory):
    """A bucket committed under another input fingerprint is stale: a
    run with a new fingerprint re-runs every bucket, and the result is
    the new source's."""
    out = str(tmp_path_factory.mktemp("ckpt_fp"))
    first = CheckpointedRun(spark, out, n_buckets=4).run(
        tr, materialize_features, input_fingerprint="fp-1"
    )
    assert first["buckets_run"] == 4
    changed = tr.withColumn("text", F.concat(F.coalesce("text", F.lit("")), F.lit(" more")))
    run = CheckpointedRun(spark, out, n_buckets=4)
    second = run.run(changed, materialize_features, input_fingerprint="fp-2")
    assert second["buckets_run"] == 4
    assert second["buckets_skipped"] == 0
    assert {m["input_fingerprint"] for m in run.manifest()} == {"fp-2"}
    key = ["conv_id", "turn_idx"]
    cols = [*key, "text_len", "n_tokens_lag1", "text_len_sum_last5"]

    def rows(df):
        return df.select(*cols).toPandas().sort_values(key).reset_index(drop=True)

    assert rows(run.read_result()).equals(rows(materialize_features(changed)))
    # same fingerprint again -> nothing re-runs
    again = CheckpointedRun(spark, out, n_buckets=4).run(
        changed, materialize_features, input_fingerprint="fp-2"
    )
    assert again["buckets_run"] == 0 and again["buckets_skipped"] == 4


def test_read_result_refuses_mixed_fingerprints(spark, tr, tmp_path_factory):
    """A re-run on changed input that fails part way leaves new and
    stale buckets side by side; read_result() must refuse to mix them."""
    out = str(tmp_path_factory.mktemp("ckpt_mixed"))
    CheckpointedRun(spark, out, n_buckets=4).run(
        tr, materialize_features, input_fingerprint="fp-1"
    )
    calls = []

    def crash_on_third(part):
        calls.append(1)
        if len(calls) == 3:
            raise RuntimeError("bucket 2 failed")
        return materialize_features(part)

    run = CheckpointedRun(spark, out, n_buckets=4)
    with pytest.raises(RuntimeError, match="bucket 2 failed"):
        run.run(tr, crash_on_third, input_fingerprint="fp-2")
    assert {m["input_fingerprint"] for m in run.manifest()} == {"fp-1", "fp-2"}
    with pytest.raises(ValueError, match="fingerprints"):
        run.read_result()


def test_zero_temporal_leakage(spark, tr):
    """Perturb every row's text/role/tool/ts in the FUTURE of an anchor
    cut; features at-or-before the cut must be bit-identical."""
    cut_expr = F.col("turn_idx") <= 5

    base = materialize_features(tr)
    # corrupt all turns after the cut (values AND timestamps move)
    corrupted = tr.withColumn(
        "text",
        F.when(~cut_expr, F.concat(F.lit("CORRUPTED "), F.col("text"))).otherwise(
            F.col("text")
        ),
    ).withColumn(
        "tool", F.when(~cut_expr, F.lit("poison")).otherwise(F.col("tool"))
    ).withColumn(
        "ts",
        F.when(~cut_expr, F.col("ts") + F.expr("INTERVAL 10 SECONDS")).otherwise(
            F.col("ts")
        ),
    )
    pert = materialize_features(corrupted)

    key = ["conv_id", "turn_idx"]
    feat_cols = [
        c for c in base.columns
        if c not in {"conv_id", "turn_idx", "role", "tool", "ts"}
    ]
    a = (
        base.where(cut_expr).select(*key, *feat_cols)
        .toPandas().sort_values(key).reset_index(drop=True)
    )
    b = (
        pert.where(cut_expr).select(*key, *feat_cols)
        .toPandas().sort_values(key).reset_index(drop=True)
    )
    assert a.equals(b), "temporal leakage: features at/before cut changed"


def test_audit_library_flags_leaky_features(spark, tr):
    """audit_no_leakage passes the leakage-free pipeline and catches a
    deliberately leaky feature (lead = reads the future)."""
    from didtool_spark.operators.temporal import with_lags
    from didtool_spark.plans.audit import audit_no_leakage

    cut = F.col("turn_idx") <= 4

    clean, offenders = audit_no_leakage(tr, materialize_features, cut)
    assert clean, offenders

    def leaky(df):
        out = materialize_features(df)
        lead = with_lags(
            df.select("conv_id", "turn_idx", "ts", F.length("text").alias("L")),
            ["L"], lags=[], leads=[1],
        ).drop("ts", "L")
        return lead.join(out, ["conv_id", "turn_idx"], "inner")

    clean2, offenders2 = audit_no_leakage(tr, leaky, cut)
    assert not clean2
    assert "L_lead1" in offenders2


def test_checkpoint_staged_scan_prunes(spark, tr, tmp_path_factory):
    """Per-bucket reads hit only their own staged partition: the parquet
    scan carries a PartitionFilters entry on __bucket instead of
    filtering a computed column over the full source (B full scans)."""
    from io import StringIO
    import contextlib

    out = str(tmp_path_factory.mktemp("ckpt_prune"))
    run = CheckpointedRun(spark, out, n_buckets=4)
    src = run._stage_source(tr, "fp-1")
    part = src.where(F.col("__bucket") == 2)
    buf = StringIO()
    with contextlib.redirect_stdout(buf):
        part.explain("formatted")
    p = buf.getvalue()
    assert "PartitionFilters" in p and "__bucket" in p.split("PartitionFilters")[1].splitlines()[0], p[:2500]

    # staging is itself resumable: same fingerprint -> no rewrite
    marker = os.path.join(out, "_staged", "_STAGED.json")
    mtime = os.path.getmtime(marker)
    run._stage_source(tr, "fp-1")
    assert os.path.getmtime(marker) == mtime
    # changed input fingerprint -> restaged
    run._stage_source(tr, "fp-2")
    assert os.path.getmtime(marker) != mtime
