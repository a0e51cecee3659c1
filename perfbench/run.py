#!/usr/bin/env python3
"""perfbench — end-to-end and per-layer benchmark of the didtool_spark
engine on ``local[N]``, N = half the cores.

Usage (from the repository root):

    python3 perfbench/run.py --workload materialize --seed 42 --seconds 10 --trace 0

Workloads: materialize, skewed_backfill, registry_mix (see README.md).
One process, one client, closed loop: each job is submitted after the
previous one finished. Untimed warm-up passes come first; after them
every timed pass runs on the same SparkContext and staged input, and
nothing one pass caches is left for the next (see README.md).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics, writing
the spans to ``perfbench/out/``. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys

from workloads import REGISTRY_QUERIES, WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {"pass_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}

PER_LAYER = {
    "session.cold_start_s": "s",
    "session.start_s": "s",
    "run.warmup_s": "s",
    "data.generate_s": "s",
    "data.stage_write_s": "s",
    "data.turns": "count",
    "data.hot_share": "ratio",
    "materialize.build_s": "s",
    "materialize.exec_s": "s",
    "temporal.sessionize_s": "s",
    "temporal.with_lags_s": "s",
    "temporal.with_rolling_s": "s",
    "temporal.forward_fill_s": "s",
    "temporal.asof_join_s": "s",
    "checkpoint.stage_s": "s",
    "checkpoint.bucket_s_p50": "s",
    "checkpoint.bucket_s_max": "s",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.write_amp": "ratio",
    "checkpoint.resume_s": "s",
    "checkpoint.resume_useful_ratio": "ratio",
    "checkpoint.read_result_s": "s",
    **{f"query.{q}.{part}_s": "s" for q in REGISTRY_QUERIES for part in ("build", "exec")},
    "query.memo_hits": "count",
    "query.memo_builds": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.input_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.task_skew": "ratio",
    "spark.persisted_rdds_after": "count",
    "spark.storage_bytes_peak": "bytes",
    "cache.leaked_rdds": "count",
    "trace.untraced_pass_s": "s",
    "trace.traced_pass_s": "s",
    "trace.overhead_s": "s",
    "host.nproc": "count",
    "host.local_cores": "count",
    "host.shuffle_partitions": "count",
    "host.loadavg_start": "load",
    "host.loadavg_end": "load",
    "host.steal_frac": "ratio",
    "host.tmpfs": "bool",
}
MIN_SETUPS = 5
# a run's pass count then holds over a wide range of host speeds (a
# traced run also needs one traced and one untraced pass)
MIN_PASSES = 2


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def run(args) -> tuple[dict, dict]:
    from harness import (
        PASS_GROUP, CacheWatch, Engine, Ops, Tracer, host_snapshot, local_cores,
        now, on_tmpfs, pass_engine_metrics, steal_frac, tree_peak_rss_mb,
    )
    from workloads import Ctx, NullTracer

    wl = WORKLOADS[args.workload](args.seed)
    cores = local_cores()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    h0 = host_snapshot()
    engine = Engine(work, cores)
    ops = Ops()
    ctx = Ctx(ops)
    tracer = Tracer()
    setups, starts, writes = [], [], []
    passes = {False: [], True: []}
    layer_samples: list[dict] = []
    probes: dict = {}
    round_no = itertools.count()

    def setup():
        if ctx.round_dir:
            shutil.rmtree(ctx.round_dir, ignore_errors=True)
        ctx.round_dir = os.path.join(work, f"round{next(round_no)}")
        os.makedirs(ctx.round_dir)
        engine.stop()  # the previous pass's teardown is not set-up
        t0 = now()
        ctx.spark = engine.fresh()
        t1 = now()
        ctx.inp = wl.stage(ctx)
        setups.append(now() - t0)
        starts.append(t1 - t0)
        writes.append(ctx.inp["stage_write_s"])

    t_start = now()
    try:
        t0 = now()
        engine.fresh()  # JVM launch
        cold_start = now() - t0
        setup()
        t0 = now()
        wl.warmup(ctx)
        for _ in range(wl.warm_passes):
            wl.before_pass(ctx)
            wl.timed_pass(ctx)
        warmup_s = now() - t0
        deadline = now() + args.seconds
        for i in itertools.count():
            wl.before_pass(ctx)
            # traced passes first: skewed_backfill's first timed pass also
            # warms its bucketed code, and the trace should explain it
            traced = bool(args.trace) and i % 2 == 0
            ctx.tracer = tracer if traced else NullTracer()
            tracer.pass_id = i
            ctx.cache = CacheWatch()
            failed_before = ops.failed
            sc = ctx.spark.sparkContext
            sc.setJobGroup(PASS_GROUP, "perfbench timed pass")
            t0 = now()
            with ctx.tracer.span("pass", workload=wl.name):
                wl.timed_pass(ctx)
            dt = now() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            passes[traced].append((dt, ops.failed == failed_before))
            if traced:
                layer_samples.append({
                    **wl.layer_metrics(tracer, i),
                    **pass_engine_metrics(ctx.spark),
                    "spark.storage_bytes_peak": ctx.cache.storage_peak,
                    "spark.persisted_rdds_after": ctx.cache.persisted_last,
                })
            ctx.tracer = NullTracer()
            if now() >= deadline and i + 1 >= MIN_PASSES:
                break
        timed_s = now() - deadline + args.seconds
        if args.trace:
            probes = wl.probe(ctx)
        while len(setups) < MIN_SETUPS:
            setup()
    finally:
        peak_rss = tree_peak_rss_mb()
        engine.close()
        shutil.rmtree(work, ignore_errors=True)
    h1 = host_snapshot()

    def pass_median(traced):
        ok = [dt for dt, good in passes[traced] if good]
        return _median(ok or [dt for dt, _ in passes[traced]])

    host = {
        "host.nproc": os.cpu_count(),
        "host.local_cores": cores,
        "host.shuffle_partitions": engine.shuffle_partitions,
        "host.loadavg_start": h0["loadavg"],
        "host.loadavg_end": h1["loadavg"],
        "host.steal_frac": steal_frac(h0, h1),
        "host.tmpfs": int(on_tmpfs(HERE)),
    }
    summary = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "passes": len(passes[False]) + len(passes[True]),
        "turns": ctx.inp.get("turns"), "attempted": ops.attempted, "failed": ops.failed,
        "pass_samples": [round(dt, 4) for dt, _ in passes[False] + passes[True]],
        "setup_samples": [round(x, 4) for x in setups],
        "setups": len(setups), "cold_start_s": cold_start, "warmup_s": warmup_s,
        "timed_s": timed_s, "wall_s": now() - t_start,
        **host,
    }
    if not args.trace:
        metrics = {
            "pass_s": pass_median(False),
            "setup_s": _median(setups),
            "peak_rss_mb": peak_rss,
        }
        return metrics, summary

    metrics = dict.fromkeys(PER_LAYER, 0.0)
    for key in {k for s in layer_samples for k in s}:
        metrics[key] = _median([s[key] for s in layer_samples if key in s])
    metrics.update(probes)
    metrics.update(host)
    untraced, traced_s = pass_median(False), pass_median(True)
    metrics.update({
        "session.cold_start_s": cold_start,
        "session.start_s": _median(starts),
        "run.warmup_s": warmup_s,
        "data.stage_write_s": _median(writes),
        "trace.untraced_pass_s": untraced,
        "trace.traced_pass_s": traced_s,
        "trace.overhead_s": traced_s - untraced,
    })
    tracer.dump(
        os.path.join(HERE, "out", f"trace-{wl.name}-seed{args.seed}.json"),
        {"summary": summary, "metrics": metrics},
    )
    return metrics, summary


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in ("didtool_spark/__init__.py", "__spark_entry__.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources not found next to perfbench/: {missing}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    metrics, summary = run(args)
    units = END_TO_END if not args.trace else PER_LAYER
    attempted, failed = summary["attempted"], summary["failed"]
    line = [f"{k}={v:.6g} {units[k]}" for k, v in metrics.items() if k in END_TO_END]
    if not args.trace and summary["turns"]:
        line.append(f"turns_per_s={summary['turns'] / metrics['pass_s']:.6g} turns/s")
    line.append(f"fail_frac={failed / max(attempted, 1):.6g} ratio")
    print(f"perfbench {summary['workload']} seed={summary['seed']}: " + ", ".join(line))
    print("perfbench run: " + json.dumps(summary))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
