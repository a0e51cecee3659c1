#!/usr/bin/env python3
"""Record ``perfbench/goldens.json``: the row count and fingerprint of
every output the benchmark verifies, on the current commit.

    python3 perfbench/record_goldens.py

- ``materialize`` / ``skewed_backfill`` at seed 42: the window and
  bucketed strategies must agree before a golden is written.
- ``registry_mix``: each query's output is first compared with its
  DuckDB oracle on the bundled sf0.01 tables, using
  ``scripts/check_oracle.py``'s normalization (sorted columns, floats
  rounded to 6 dp) and its bit-exact serialization. A query that
  disagrees is reported and not recorded.

Run it only when an output is meant to change; the benchmark compares
against whatever this file holds.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "scripts"))

from harness import Engine, local_cores, written_fp  # noqa: E402
from workloads import (  # noqa: E402
    BUNDLED_SF, REGISTRY_QUERIES, Ctx, Materialize, SkewedBackfill, _asof,
)

GOLDEN_SEED = 42


def transcript_golden(ctx, wl_cls) -> dict:
    from didtool_spark.plans.materialize import materialize_features

    wl = wl_cls(GOLDEN_SEED)
    ctx.inp = wl.stage(ctx)
    df = ctx.inp["df"]
    out = {}
    for strategy in ("window", "bucketed"):
        got = {
            "features": written_fp(materialize_features(df, strategy=strategy)).result(),
            "asof": written_fp(_asof(df, strategy)).result(),
        }
        if out and got != out:
            raise SystemExit(f"{wl.name}: window and bucketed disagree: {out} vs {got}")
        out = got
    if out["features"][0] != ctx.inp["turns"]:
        raise SystemExit(f"{wl.name}: {out['features'][0]} rows for {ctx.inp['turns']} turns")
    print(f"{wl.name:28s} features={out['features']} asof={out['asof']}")
    return {str(GOLDEN_SEED): out}


def registry_goldens(spark) -> dict:
    import duckdb

    import __spark_entry__
    from check_oracle import bitexact_diff, normalize

    import pandas as pd

    con = duckdb.connect()
    for f in sorted(os.listdir(BUNDLED_SF)):
        con.sql(f"CREATE VIEW {f.split('.')[0]} AS SELECT * FROM '{BUNDLED_SF}/{f}'")
    queries, oracles = __spark_entry__.queries(), __spark_entry__.oracle_sql()
    out = {}
    for name in REGISTRY_QUERIES:
        df = queries[name](spark, BUNDLED_SF)
        got = written_fp(df).result()
        got_pd = df.toPandas()
        exp_pd = con.sql(oracles[name]).df()
        g, e = normalize(got_pd), normalize(exp_pd)
        try:
            pd.testing.assert_frame_equal(
                g, e, check_dtype=False, check_exact=False, atol=1e-6, rtol=1e-6)
            diff = bitexact_diff(got_pd, exp_pd)
        except AssertionError as err:
            diff = [str(err)[:300]]
        if diff or got[0] != len(exp_pd):
            print(f"{name:28s} ORACLE MISMATCH — not recorded: {diff[:2]}")
            continue
        print(f"{name:28s} oracle OK rows={got[0]} fp={got[1]}")
        out[name] = got
    return out


def main() -> int:
    work = os.path.join(HERE, ".work", f"goldens-{os.getpid()}")
    engine = Engine(work, local_cores())
    ctx = Ctx(None)
    goldens = {}
    try:
        ctx.spark = engine.fresh()
        for wl_cls in (Materialize, SkewedBackfill):
            ctx.round_dir = os.path.join(work, wl_cls.name)
            os.makedirs(ctx.round_dir)
            goldens[wl_cls.name] = transcript_golden(ctx, wl_cls)
        goldens["registry_mix"] = registry_goldens(ctx.spark)
    finally:
        engine.close()
        shutil.rmtree(work, ignore_errors=True)
    missing = set(REGISTRY_QUERIES) - set(goldens["registry_mix"])
    with open(os.path.join(HERE, "goldens.json"), "w") as f:
        json.dump(goldens, f, indent=1, sort_keys=True)
        f.write("\n")
    return 1 if missing else 0


if __name__ == "__main__":
    sys.exit(main())
