"""The three perfbench workloads.

Each workload stages its input (``stage``), runs an untimed warm-up
that also fixes the verification reference (``warmup``), runs timed
passes (``timed_pass``) and, in traced runs, times each layer it
exercises on its own (``probe``). Every operation's output is checked
(row count plus an order-insensitive fingerprint); see README.md for
why each workload exists and which layers it exercises or bypasses.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import shutil
import statistics

from harness import (
    CacheWatch, Fingerprinted, FingerprintSum, du_bytes, now, patched, written_fp,
)

HERE = os.path.dirname(os.path.abspath(__file__))


def load_goldens() -> dict:
    path = os.path.join(HERE, "goldens.json")
    if not os.path.exists(path):  # only while record_goldens.py first runs
        return {}
    with open(path) as f:
        return json.load(f)


class NullTracer:
    """Stand-in for ``harness.Tracer`` in untraced passes."""

    pass_id = None

    class _Span:
        def __enter__(self):
            return {}

        def __exit__(self, *exc):
            return False

    def span(self, name, **attrs):
        return self._Span()


class Ctx:
    """What a workload sees during one round: the live session, the
    staged input, operation counters, the tracer and cache sampling."""

    def __init__(self, ops):
        self.ops = ops
        self.spark = None
        self.inp: dict = {}
        self.round_dir = ""
        self.tracer = NullTracer()
        self.cache = CacheWatch()


# ------------------------------------------------------------ transcripts
def _anchors(tr):
    from pyspark.sql import functions as F

    return tr.where(F.col("role") == "user").select("conv_id", "ts", "turn_idx")


def _tool_lengths(tr):
    """One feature row per (conv_id, ts): tool turns in the same second
    would make "the latest feature" a tie that each strategy may break
    differently."""
    from pyspark.sql import functions as F

    return (
        tr.where(F.col("role") == "tool")
        .groupBy("conv_id", "ts")
        .agg(F.max(F.length("text")).alias("text_len"))
    )


def _asof(tr, strategy):
    from didtool_spark.operators.temporal import asof_join

    return asof_join(
        _anchors(tr), _tool_lengths(tr), keys="conv_id", ts_col="ts",
        value_cols=["text_len"], strategy=strategy,
    )


TEMPORAL_OPS = ("sessionize", "with_lags", "with_rolling", "forward_fill")


SAMPLE_MOD = 16


def _sample():
    """1/16 of the conversations, chosen by conv_id hash."""
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64("conv_id"), F.lit(SAMPLE_MOD)) == 0


class TranscriptWorkload:
    """Shared shape of ``materialize`` and ``skewed_backfill``: staged
    synthetic transcripts, a feature materialization and an as-of join.

    Every output is fingerprinted twice on the way to the sink: over all
    rows and over a 1/16 sample of conversations. Verification: the row
    count; the sample fingerprint against the same sample computed with
    ``ref_strategy`` during the warm-up; the full fingerprint against
    the golden (seed 42) or else the first pass of the run."""

    name = ""
    gen: dict = {}
    strategy = "window"
    ref_strategy = "bucketed"
    ref_on_sample = False
    # untimed passes after the reference, so the JIT settles first
    warm_passes = 1

    def __init__(self, seed: int):
        self.seed = seed
        self.ref: dict = {}
        self.full: dict = dict(load_goldens().get(self.name, {}).get(str(seed), {}))

    def before_pass(self, ctx) -> None:
        """Nothing in these passes is cached: they share one set-up."""

    # -- set-up
    def generate(self, spark):
        from didtool_spark.data.transcripts import generate_transcripts

        return generate_transcripts(spark, seed=self.seed, **self.gen)

    def stage(self, ctx) -> dict:
        path = os.path.join(ctx.round_dir, "transcripts")
        t0 = now()
        self.generate(ctx.spark).write.parquet(path)
        write_s = now() - t0
        df = ctx.spark.read.parquet(path)
        return {"df": df, "path": path, "turns": df.count(), "stage_write_s": write_s}

    # -- verification
    def _reference(self, ctx) -> None:
        from didtool_spark.plans.materialize import materialize_features

        df = ctx.inp["df"]
        if self.ref_on_sample:
            df = df.where(_sample())
        builds = {
            "features": lambda: materialize_features(df, strategy=self.ref_strategy),
            "asof": lambda: _asof(df, self.ref_strategy),
        }
        for key, build in builds.items():
            with ctx.ops.op(f"reference {key}[{self.ref_strategy}]"):
                fp = written_fp(build(), _sample())
                self.ref[key] = fp.sample()
                if not self.ref_on_sample:
                    self.full.setdefault(key, fp.result())

    def _verify(self, o, key: str, fp) -> None:
        o.expect(fp.sample(), self.ref.get(key), f"{key} sample vs {self.ref_strategy} strategy")
        o.expect(fp.result(), self.full.setdefault(key, fp.result()), f"{key} output")

    # -- timed operations
    def _traced_temporal(self, ctx):
        """Patch the temporal ops as materialize_features sees them, so
        each call becomes a child span of the materialize build."""
        from didtool_spark.plans import materialize as mat_mod

        stack = contextlib.ExitStack()
        if isinstance(ctx.tracer, NullTracer):
            return stack
        for op_name in TEMPORAL_OPS:
            fn = getattr(mat_mod, op_name)
            stack.enter_context(patched(
                mat_mod, op_name, ctx.tracer.wrap(f"operators.temporal.{op_name}", fn)))
        return stack

    def _asof_op(self, ctx) -> None:
        with ctx.ops.op(f"asof_join[{self.strategy}]") as o:
            with ctx.tracer.span("operators.temporal.asof_join"):
                out = _asof(ctx.inp["df"], self.strategy)
            with ctx.tracer.span("exec:asof_join"):
                fp = written_fp(out, _sample())
            self._verify(o, "asof", fp)
        ctx.cache.sample(ctx.spark)

    # -- traced-only layer probes
    def probe(self, ctx) -> dict:
        from pyspark.sql import functions as F

        from didtool_spark.operators import temporal

        spark, df, turns = ctx.spark, ctx.inp["df"], ctx.inp["turns"]
        out = {"data.turns": turns}
        with ctx.ops.op("probe data.generate") as o:
            t0 = now()
            rows = written_fp(self.generate(spark)).result()[0]
            out["data.generate_s"] = now() - t0
            o.expect(rows, turns, "generated rows")
        with ctx.ops.op("probe data.hot_share"):
            top = df.groupBy("conv_id").count().agg(F.max("count")).first()[0]
            out["data.hot_share"] = top / turns
        pre = df.withColumn("text_len", F.length("text"))
        kw = {"strategy": self.strategy}
        calls = {
            "sessionize": lambda: temporal.sessionize(pre, **kw),
            "with_lags": lambda: temporal.with_lags(pre, ["text_len"], lags=[1, 2], **kw),
            "with_rolling": lambda: temporal.with_rolling(pre, [("text_len", "sum", 5)], **kw),
            "forward_fill": lambda: temporal.forward_fill(pre, ["tool"], **kw),
        }
        for op_name, build in calls.items():
            with ctx.ops.op(f"probe temporal.{op_name}") as o:
                t0 = now()
                rows = written_fp(build()).result()[0]
                out[f"temporal.{op_name}_s"] = now() - t0
                o.expect(rows, turns, f"{op_name} rows")
        return out

    @staticmethod
    def _asof_s(tracer, pass_id) -> float:
        return tracer.total(pass_id, "operators.temporal.asof_join") + tracer.total(
            pass_id, "exec:asof_join")


class Materialize(TranscriptWorkload):
    name = "materialize"
    # default mild skew (n_hot=2, hot_factor=50), ~125k turns
    gen = {"n_convs": 2000, "avg_turns": 50}
    strategy, ref_strategy = "window", "bucketed"
    # over all conversations the bucketed reference costs ~5x the
    # window pass, so it is computed on the sample only
    ref_on_sample = True
    warm_passes = 4

    def warmup(self, ctx) -> None:
        self._reference(ctx)

    def timed_pass(self, ctx) -> None:
        from didtool_spark.plans.materialize import materialize_features

        with ctx.ops.op(f"materialize_features[{self.strategy}]") as o:
            with self._traced_temporal(ctx):
                with ctx.tracer.span("plans.materialize.materialize_features"):
                    feats = materialize_features(ctx.inp["df"], strategy=self.strategy)
            with ctx.tracer.span("exec:materialize_features"):
                fp = written_fp(feats, _sample())
            o.expect(fp.result()[0], ctx.inp["turns"], "feature rows")
            self._verify(o, "features", fp)
        ctx.cache.sample(ctx.spark)
        self._asof_op(ctx)

    def layer_metrics(self, tracer, pass_id) -> dict:
        return {
            "materialize.build_s": tracer.total(pass_id, "plans.materialize.materialize_features"),
            "materialize.exec_s": tracer.total(pass_id, "exec:materialize_features"),
            "temporal.asof_join_s": self._asof_s(tracer, pass_id),
        }


class SkewedBackfill(TranscriptWorkload):
    name = "skewed_backfill"
    # one conversation holds ~50% of ~22k turns; many short
    # conversations keep the total turn count within ~2% across seeds
    gen = {"n_convs": 600, "avg_turns": 12, "n_hot": 1, "hot_factor": 900}
    strategy, ref_strategy = "bucketed", "window"
    # a warm pass would cost as much as a timed one; the reference
    # computation warms the shared code paths instead
    warm_passes = 0
    # the run-time budget allows one bucket job per pass: the plan is
    # the same per bucket, and each costs ~5 s on 2 task slots
    n_buckets = 1

    def __init__(self, seed: int):
        super().__init__(seed)
        self.pass_no = itertools.count()
        self.out_dir = ""

    def before_pass(self, ctx) -> None:
        # each checkpointed pass writes to a new directory; the last one
        # is kept for the resume and read-back probes
        if self.out_dir:
            shutil.rmtree(self.out_dir, ignore_errors=True)
        self.out_dir = os.path.join(ctx.round_dir, f"checkpoint{next(self.pass_no)}")

    def warmup(self, ctx) -> None:
        self._reference(ctx)

    def _checkpointed(self, ctx, out_dir):
        from didtool_spark.plans.checkpoint import CheckpointedRun
        from didtool_spark.plans.materialize import materialize_features

        observed = []

        def transform(part):
            with ctx.tracer.span("plans.materialize.materialize_features"):
                fp = Fingerprinted(materialize_features(part, strategy=self.strategy), _sample())
            observed.append(fp)
            return fp.df

        return CheckpointedRun(ctx.spark, out_dir, n_buckets=self.n_buckets), transform, observed

    def _input_key(self, ctx) -> str:
        return f"transcripts-seed{self.seed}-rows{ctx.inp['turns']}"

    def timed_pass(self, ctx) -> None:
        with ctx.ops.op(f"checkpointed materialize_features[{self.strategy}]") as o:
            run, transform, observed = self._checkpointed(ctx, self.out_dir)
            with self._traced_temporal(ctx):
                with ctx.tracer.span("plans.checkpoint.CheckpointedRun.run"):
                    totals = run.run(ctx.inp["df"], transform, input_fingerprint=self._input_key(ctx))
            o.expect(totals["rows"], ctx.inp["turns"], "checkpointed rows")
            o.expect(totals["buckets_run"], self.n_buckets, "buckets run")
            self._verify(o, "features", FingerprintSum(observed))
            self.manifest = run.manifest()
        ctx.cache.sample(ctx.spark)
        self._asof_op(ctx)

    def layer_metrics(self, tracer, pass_id) -> dict:
        walls = [e["wall_sec"] for e in self.manifest]
        build = tracer.total(pass_id, "plans.materialize.materialize_features")
        run_s = tracer.total(pass_id, "plans.checkpoint.CheckpointedRun.run")
        return {
            "materialize.build_s": build,
            "materialize.exec_s": max(sum(walls) - build, 0.0),
            "checkpoint.stage_s": max(run_s - sum(walls), 0.0),
            "checkpoint.bucket_s_p50": statistics.median(walls),
            "checkpoint.bucket_s_max": max(walls),
            "temporal.asof_join_s": self._asof_s(tracer, pass_id),
        }

    def probe(self, ctx) -> dict:
        out = super().probe(ctx)
        written = du_bytes(self.out_dir)
        out["checkpoint.bytes_written"] = written
        out["checkpoint.write_amp"] = written / du_bytes(ctx.inp["path"])
        with ctx.ops.op("probe checkpoint.resume") as o:
            run, transform, _ = self._checkpointed(ctx, self.out_dir)
            done = sorted(run.completed_buckets())
            deleted = done[::2]
            for b in deleted:
                os.remove(run._manifest_path(b))
            t0 = now()
            totals = run.run(ctx.inp["df"], transform, input_fingerprint=self._input_key(ctx))
            out["checkpoint.resume_s"] = now() - t0
            out["checkpoint.resume_useful_ratio"] = totals["buckets_run"] / len(deleted)
            o.expect(sorted(run.completed_buckets()), done, "buckets after resume")
        with ctx.ops.op("probe checkpoint.read_result") as o:
            t0 = now()
            got = written_fp(run.read_result()).result()
            out["checkpoint.read_result_s"] = now() - t0
            o.expect(got, self.full["features"], "read_result output")
        return out


# --------------------------------------------------------------- registry
REGISTRY_QUERIES = (
    # bounded driver pulls (numpy pagerank, exact percentiles,
    # union-find), Arrow Levenshtein kernel, the fuzzy-pair memo
    "pagerank", "winsorize", "entity_resolution",
    # scan spread
    "embedding_pool",
    # fit -> collect_capped -> transform
    "woe_encode",
)
# module-level memos in plans/pipeline_queries.py: each holds one
# persisted (localCheckpoint) RDD per (application, sf_dir) entry
DECLARED_MEMOS = ("_NEAR_PAIRS_MEMO", "_FUZZY_PAIRS_MEMO")
MEMO_BUILDERS = {"_planted_near_pairs": "_NEAR_PAIRS_MEMO", "_fuzzy_pair_table": "_FUZZY_PAIRS_MEMO"}
BUNDLED_SF = os.path.join(HERE, "data", "sf0.01")


class RegistryMix:
    name = "registry_mix"
    # one untimed pass starts the Python workers and warms the JIT
    warm_passes = 1

    def __init__(self, seed: int):
        # the bundled tables are the fixed input; the seed does not apply
        self.golden = load_goldens().get("registry_mix", {})
        self.memo_hits = self.memo_builds = 0
        self.pass_no = itertools.count()

    def stage(self, ctx) -> dict:
        sf_dir = os.path.join(ctx.round_dir, "sf0.01")
        t0 = now()
        shutil.copytree(BUNDLED_SF, sf_dir)
        return {"sf_dir": sf_dir, "path": sf_dir, "stage_write_s": now() - t0}

    def warmup(self, ctx) -> None:
        """None beyond the warm passes."""

    def before_pass(self, ctx) -> None:
        """Give the pass a fresh copy of the tables and drop what the
        previous pass cached. The memos are keyed by (applicationId,
        sf_dir), so every timed pass pays their builds, and Spark's
        file listings start cold."""
        from didtool_spark.plans import pipeline_queries as pq

        old = ctx.inp["sf_dir"]
        for memo_name in DECLARED_MEMOS:
            memo = getattr(pq, memo_name, {})
            for key in [k for k in memo if isinstance(k, tuple) and old in k]:
                del memo[key]
        jsc = ctx.spark.sparkContext._jsc
        for rdd in list(jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
        ctx.spark.catalog.clearCache()
        if old != ctx.inp["path"]:
            shutil.rmtree(old, ignore_errors=True)
        sf_dir = os.path.join(ctx.round_dir, f"pass{next(self.pass_no)}")
        shutil.copytree(BUNDLED_SF, sf_dir)
        ctx.inp["sf_dir"] = sf_dir

    def declared_memo_rdds(self, spark) -> int:
        from didtool_spark.plans import pipeline_queries as pq

        app = spark.sparkContext.applicationId
        return sum(
            1 for memo in DECLARED_MEMOS for key in getattr(pq, memo, {})
            if isinstance(key, tuple) and key and key[0] == app
        )

    def _memo_counters(self, ctx):
        from didtool_spark.plans import pipeline_queries as pq

        stack = contextlib.ExitStack()
        if isinstance(ctx.tracer, NullTracer):
            return stack
        self.memo_hits = self.memo_builds = 0
        for fn_name, memo_name in MEMO_BUILDERS.items():
            fn, memo = getattr(pq, fn_name, None), getattr(pq, memo_name, None)
            if fn is None or memo is None:
                continue

            def counted(*args, _fn=fn, _memo=memo, _name=fn_name, **kwargs):
                before = len(_memo)
                with ctx.tracer.span(f"plans.pipeline_queries.{_name}"):
                    out = _fn(*args, **kwargs)
                if len(_memo) > before:
                    self.memo_builds += 1
                else:
                    self.memo_hits += 1
                return out

            stack.enter_context(patched(pq, fn_name, counted))
        return stack

    def timed_pass(self, ctx) -> None:
        import __spark_entry__

        queries = __spark_entry__.queries()
        with self._memo_counters(ctx):
            for name in REGISTRY_QUERIES:
                with ctx.tracer.span(f"query.{name}") as span:
                    with ctx.ops.op(f"query {name}") as o:
                        with ctx.tracer.span(f"query.{name}.build"):
                            df = queries[name](ctx.spark, ctx.inp["sf_dir"])
                        with ctx.tracer.span(f"query.{name}.exec"):
                            got = written_fp(df).result()
                        o.expect(got, self.golden.get(name), f"{name} output")
                    span["persisted_rdds_after"] = ctx.cache.sample(ctx.spark)

    def layer_metrics(self, tracer, pass_id) -> dict:
        out = {}
        for name in REGISTRY_QUERIES:
            out[f"query.{name}.build_s"] = tracer.total(pass_id, f"query.{name}.build")
            out[f"query.{name}.exec_s"] = tracer.total(pass_id, f"query.{name}.exec")
        return out

    def probe(self, ctx) -> dict:
        persisted = ctx.cache.persisted_last
        return {
            "query.memo_hits": self.memo_hits,
            "query.memo_builds": self.memo_builds,
            "cache.leaked_rdds": max(persisted - self.declared_memo_rdds(ctx.spark), 0),
        }


WORKLOADS = {w.name: w for w in (Materialize, SkewedBackfill, RegistryMix)}
