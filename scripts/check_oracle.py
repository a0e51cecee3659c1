"""Local mimic of the driver's correctness gate: run every
__spark_entry__.queries() entry at sf0.01 and diff against its DuckDB
oracle (row count, sorted-column schema, order-insensitive values).

Usage: python scripts/check_oracle.py [--bitexact] [sf_dir] [query ...]

Every query must also leave Spark's CacheManager empty: a query that
leaves a cached Dataset behind is printed as a LEAK line (the cache is
then cleared so the next query is judged on its own) and fails the run.

--bitexact replays the driver's hash semantics (sort columns by name,
round floats to 6, serialize, sort rows, compare serialized CSV) so
sign-of-zero and other serialization-level divergences that are
invisible to the default atol/rtol-1e-6 compare (0.0 == -0.0) fail
loudly here before they fail at the driver.  r4's two gate reds
(trend_slope / quantile_norm) were exactly this class.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
        # unify int flavors / nullable ints
        if str(df[c].dtype) in ("int32", "int64", "Int32", "Int64", "uint32"):
            df[c] = df[c].astype("float64")
    return df.sort_values(list(df.columns), na_position="last").reset_index(drop=True)


def serialize_rows(df: pd.DataFrame) -> list[str]:
    """Driver-hash semantics: columns sorted by name, floats rounded to
    6 decimals and serialized with full sign fidelity (repr keeps
    -0.0), rows CSV-joined and sorted.  Two frames are driver-hash
    equal iff these lists are equal."""
    df = df[sorted(df.columns)]
    cols: list[list[str]] = []
    for c in df.columns:
        s = df[c]
        dt = str(s.dtype)
        if dt.lower().startswith("float"):
            vals = s.astype("float64").round(6)
            cols.append(["" if pd.isna(v) else repr(float(v)) for v in vals])
        elif dt.lower().startswith(("int", "uint")):
            cols.append(["" if pd.isna(v) else str(int(v)) for v in s])
        elif dt == "object":
            out = []
            for v in s:
                if v is None or (isinstance(v, float) and pd.isna(v)):
                    out.append("")
                elif isinstance(v, float):
                    out.append(repr(round(v, 6)))
                else:
                    out.append(str(v))
            cols.append(out)
        else:
            cols.append(["" if pd.isna(v) else str(v) for v in s])
    return sorted(",".join(cells) for cells in zip(*cols)) if cols else []


def bitexact_diff(got: pd.DataFrame, exp: pd.DataFrame) -> list[str]:
    """Return sample lines present in exactly one side (empty = equal)."""
    g, e = serialize_rows(got), serialize_rows(exp)
    if g == e:
        return []
    sg, se = set(g), set(e)
    only_g = [x for x in g if x not in se][:3]
    only_e = [x for x in e if x not in sg][:3]
    out = [f"spark-only: {x}" for x in only_g] + [f"oracle-only: {x}" for x in only_e]
    return out or ["(multiset differs only in duplicate counts)"]


def main() -> int:
    import __spark_entry__ as entrymod
    from didtool_spark.session import get_spark

    argv = [a for a in sys.argv[1:] if a != "--bitexact"]
    bitexact = "--bitexact" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    spark = get_spark("oracle-check", cores=8, shuffle_partitions=8)

    con = duckdb.connect()
    # bound DuckDB's spill: the recursive-CTE oracles (entity
    # resolution closure, pagerank rounds) can materialize tens of GB
    # of temp at sf0.1 — fail that one query cleanly instead of
    # filling the disk under every other process on the box
    con.sql("SET max_temp_directory_size='20GB'")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    cache = spark._jsparkSession.sharedState().cacheManager()
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled0 = codegen.METRIC_COMPILATION_TIME().getCount()
    failures = 0
    leaks: list[str] = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        got = fn(spark, sf_dir).toPandas()
        if not cache.isEmpty():
            leaks.append(name)
            print(f"{name:28s} LEAK: leaves a CacheManager entry")
            spark.catalog.clearCache()
        if name not in oracles:
            print(f"{name:28s} rows={len(got)} (rows-only check, no oracle)")
            continue
        exp = con.sql(oracles[name]).df()
        g, e = normalize(got), normalize(exp)
        ok_rows = len(g) == len(e)
        ok_cols = list(g.columns) == list(e.columns)
        ok_vals = False
        if ok_rows and ok_cols:
            try:
                pd.testing.assert_frame_equal(
                    g, e, check_dtype=False, check_exact=False, atol=1e-6, rtol=1e-6
                )
                ok_vals = True
            except AssertionError as err:
                print(f"--- {name} value mismatch:\n{str(err)[:800]}")
        ok_bits = True
        bit_lines: list[str] = []
        if bitexact and ok_rows and ok_cols and ok_vals:
            bit_lines = bitexact_diff(got, exp)
            ok_bits = not bit_lines
        status = "OK" if (ok_rows and ok_cols and ok_vals and ok_bits) else "FAIL"
        if not ok_bits:
            failures += 1
            print(f"{name:28s} FAIL (bitexact) rows={len(g)}")
            for line in bit_lines:
                print(f"   {line}")
            continue
        if status == "FAIL":
            failures += 1
            print(f"{name:28s} {status} rows {len(g)}/{len(e)} cols_match={ok_cols}")
            if not ok_cols:
                print(f"   spark cols: {list(g.columns)}\n   duck  cols: {list(e.columns)}")
        else:
            print(f"{name:28s} {status} rows={len(g)}")
    # the run's codegen working set: the classes compiled is a lower
    # bound on the spark.sql.codegen.cache.maxEntries it needs
    compiled = codegen.METRIC_COMPILATION_TIME().getCount() - compiled0
    print(f"{compiled} generated classes compiled")
    print(f"{len(leaks)} queries leave a cache behind"
          + (f": {', '.join(leaks)}" if leaks else ""))
    return 1 if failures or leaks else 0


if __name__ == "__main__":
    raise SystemExit(main())
