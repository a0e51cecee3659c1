"""Driver-contract queries for the didtool-operator families (SURVEY.md
§2.1-2.6), each with a DuckDB oracle. Conventions as in demo_queries:
aliases match on both sides, floats rounded to 6dp.

Labels for supervised ops are derived deterministically from the data
(is_error = event_type == 'error'); the 'score' for AUC/KS/scorecard is
the value column scaled to (0,1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.binning import Binner
from ..operators.category import CategoryTransformer, ListTransformer, OneHotTransformer
from ..operators.metrics import auc_ks_values, iv, iv_all, psi, psi_all
from ..operators.scorecard import ScoreCardTransformer
from ..operators.split import split_data
from ..operators.woe import LabelEncoder, WOEEncoder
from .demo_queries import load

def _events(spark, sf_dir, spread: bool = False):
    # Column exprs must be built lazily (need an active SparkContext)
    return load(spark, sf_dir, "events", spread=spread).withColumn(
        "y", (F.col("event_type") == "error").cast("int")
    )


# ---------------------------------------------------------------- binning

def q_step_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    # remove_empty_bins=False (the PSI-style fixed-grid cut,
    # metric.py:190-191) — the empty-bin merge is data-dependent and not
    # ANSI-SQL-expressible; the merge path is covered by unit goldens
    ev = load(spark, sf_dir, "events")
    b = Binner(method="step", n_bins=10, remove_empty_bins=False).fit(ev, "value")
    return b.transform(ev, "value", "value_bin").select("event_id", "value_bin")


# pd.cut equal-width grid; right-closed bins via ceil arithmetic
SQL_STEP_BIN = """
WITH s AS (SELECT min(value) mn, max(value) mx FROM events)
SELECT e.event_id,
       CAST(least(greatest(ceil((e.value - s.mn) / ((s.mx - s.mn) / 10.0)), 1), 10) - 1 AS INT)
         AS value_bin
FROM events e, s
"""


def q_quantile_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    b = Binner(method="quantile", n_bins=4).fit(ev, "value")
    return b.transform(ev, "value", "value_bin").select("event_id", "value_bin")


SQL_QUANTILE_BIN = """
WITH q AS (
  SELECT quantile_cont(value, 0.25) q1, quantile_cont(value, 0.5) q2,
         quantile_cont(value, 0.75) q3
  FROM events
)
SELECT e.event_id,
       CAST((e.value > q.q1)::INT + (e.value > q.q2)::INT + (e.value > q.q3)::INT AS INT)
         AS value_bin
FROM events e, q
"""


def _supervised_fit_input(spark: SparkSession, n: int = 4000) -> DataFrame:
    """Deterministic synthetic (x, y) for the supervised binning gate
    queries: x spans ~0..500 (the events.value range), p(y=1) rises with
    x so CART/LightGBM/ChiMerge find real splits. sf-INDEPENDENT by
    design: the fitted edges are stable constants, so the DuckDB oracle
    can replay them as literals (the plane-literal trick from the LSH
    oracles) while the Spark side re-runs the full distributed fit at
    every gate — a fit regression changes the edges and goes hash-red."""
    h1 = F.xxhash64(F.col("id"), F.lit(101))
    h2 = F.xxhash64(F.col("id"), F.lit(202))
    x = F.pmod(h1, 50000) / 100.0
    y = (F.pmod(h2, 1000) < (F.lit(100) + x)).cast("int")
    return spark.range(n).select(x.alias("x"), y.alias("y"))


# golden fitted edges on _supervised_fit_input(n=4000), n_bins=6 —
# pinned by tests/test_binning.py::test_supervised_gate_edges_golden
DT_GATE_EDGES = [63.725, 171.255, 291.595, 350.39, 459.425]
LGB_GATE_EDGES = [
    48.49500000000001, 169.36500000000004, 291.5950000000001,
    350.39000000000004, 459.42500000000007,
]
CHI_GATE_EDGES = [88.2, 219.58, 221.0, 275.36, 276.89, 291.47, 451.68]


def _edge_replay_sql(edges: list[float]) -> str:
    cmps = " + ".join(f"(e.value > {e!r})::INT" for e in edges)
    return f"""
SELECT e.event_id,
       CASE WHEN e.value IS NULL OR isnan(e.value) THEN -1
            ELSE CAST({cmps} AS INT) END AS value_bin
FROM events e
"""


def _q_supervised_bin(method: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        fit_df = _supervised_fit_input(spark)
        b = Binner(method=method, n_bins=6).fit(fit_df, "x", "y")
        ev = load(spark, sf_dir, "events")
        return b.transform(ev, "value", "value_bin").select("event_id", "value_bin")

    return q


q_dt_bin = _q_supervised_bin("dt")
q_lgb_bin = _q_supervised_bin("lgb")
q_chi_bin = _q_supervised_bin("chi")
SQL_DT_BIN = _edge_replay_sql(DT_GATE_EDGES)
SQL_LGB_BIN = _edge_replay_sql(LGB_GATE_EDGES)
SQL_CHI_BIN = _edge_replay_sql(CHI_GATE_EDGES)


# -------------------------------------------------------------- WOE / IV

def q_woe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir, spread=True)
    enc = WOEEncoder().fit(ev, "event_type", "y")
    return ev.select(
        "event_id", F.round(enc.expr("event_type"), 6).alias("event_type_woe")
    )


SQL_WOE_ENCODE = """
WITH t AS (
  SELECT event_type,
         sum(CASE WHEN event_type = 'error' THEN 0 ELSE 1 END) c0,
         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) c1
  FROM events GROUP BY event_type
), tot AS (SELECT sum(c0) t0, sum(c1) t1 FROM t),
w AS (
  SELECT event_type,
         ln((greatest(c1, 0.5) / greatest(tot.t1, 0.5)) /
            (greatest(c0, 0.5) / greatest(tot.t0, 0.5))) AS woe
  FROM t, tot
)
SELECT e.event_id, round(w.woe, 6) AS event_type_woe
FROM events e JOIN w USING (event_type)
"""


def q_iv_discrete(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    v = iv(ev, "event_type", "y", is_continuous=False)
    return spark.createDataFrame([(round(v, 6),)], "iv_value double")


SQL_IV_DISCRETE = """
WITH t AS (
  SELECT event_type,
         sum(CASE WHEN event_type = 'error' THEN 0 ELSE 1 END) c0,
         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) c1
  FROM events GROUP BY event_type
), tot AS (SELECT sum(c0) t0, sum(c1) t1 FROM t)
SELECT round(sum(
         (greatest(c1, 0.5) / greatest(tot.t1, 0.5) - greatest(c0, 0.5) / greatest(tot.t0, 0.5))
         * ln((greatest(c1, 0.5) / greatest(tot.t1, 0.5)) /
              (greatest(c0, 0.5) / greatest(tot.t0, 0.5)))
       ), 6) AS iv_value
FROM t, tot
"""


def q_iv_continuous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """iv() continuous path with step cut (reference metric.py:106-123
    via cut.py:15-66). The oracle reuses the validated ceil-grid bin
    arithmetic of SQL_STEP_BIN; `value` populates every bin at both sf
    so the empty-bin merge is a no-op (merge path covered by unit
    goldens)."""
    ev = _events(spark, sf_dir)
    v = iv(ev, "value", "y", is_continuous=True, cut_method="step")
    return spark.createDataFrame([(round(v, 6),)], "iv_value double")


SQL_IV_CONTINUOUS = """
WITH s AS (SELECT min(value) mn, max(value) mx FROM events),
b AS (
  SELECT CAST(least(greatest(ceil((e.value - s.mn) / ((s.mx - s.mn) / 10.0)), 1), 10) - 1 AS INT) AS b,
         CASE WHEN e.event_type = 'error' THEN 1 ELSE 0 END AS y
  FROM events e, s
),
t AS (SELECT b, sum(1 - y) c0, sum(y) c1 FROM b GROUP BY b),
tot AS (SELECT sum(c0) t0, sum(c1) t1 FROM t)
SELECT round(sum(
         (greatest(c1, 0.5) / greatest(tot.t1, 0.5) - greatest(c0, 0.5) / greatest(tot.t0, 0.5))
         * ln((greatest(c1, 0.5) / greatest(tot.t1, 0.5)) /
              (greatest(c0, 0.5) / greatest(tot.t0, 0.5)))
       ), 6) AS iv_value
FROM t, tot
"""


def q_psi_continuous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """psi() continuous: ACTUAL binned with the EXPECTED side's fixed
    step grid (metric.py:190-193), zero rates floored at 1e-10."""
    ev = load(spark, sf_dir, "events")
    expected = ev.where(F.col("event_id") % 2 == 0)
    actual = ev.where(F.col("event_id") % 2 == 1)
    v = psi(expected, actual, "value", n_bins=10, is_continuous=True)
    return spark.createDataFrame([(round(v, 6),)], "psi_value double")


SQL_PSI_CONTINUOUS = """
WITH s AS (SELECT min(value) mn, max(value) mx FROM events WHERE event_id % 2 = 0),
eb AS (
  -- outer step edges are +/-inf (cut.py:15-66): out-of-range actuals
  -- clamp into bins 0/9, which the least/greatest arithmetic already does
  SELECT CAST(least(greatest(ceil((e.value - s.mn) / ((s.mx - s.mn) / 10.0)), 1), 10) - 1 AS INT) AS b
  FROM events e, s WHERE e.event_id % 2 = 0
),
ab AS (
  SELECT CAST(least(greatest(ceil((e.value - s.mn) / ((s.mx - s.mn) / 10.0)), 1), 10) - 1 AS INT) AS b
  FROM events e, s WHERE e.event_id % 2 = 1
),
ec AS (SELECT b, count(*) c FROM eb GROUP BY b),
ac AS (SELECT b, count(*) c FROM ab GROUP BY b),
keys AS (SELECT CAST(range AS INT) AS b FROM range(0, 10)),
r AS (
  SELECT k.b,
         greatest(coalesce(ec.c, 0) * 1.0 / (SELECT sum(c) FROM ec), 1e-10) er,
         greatest(coalesce(ac.c, 0) * 1.0 / (SELECT sum(c) FROM ac), 1e-10) ar
  FROM keys k LEFT JOIN ec ON k.b = ec.b LEFT JOIN ac ON k.b = ac.b
)
SELECT round(sum((ar - er) * ln(ar / er)), 6) AS psi_value FROM r
"""


def q_list_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ListTransformer membership mode (reference transformer.py:532-643)
    over a deterministic two-token list column; output columns sorted by
    name like the reference's transform."""
    ev = load(spark, sf_dir, "events", spread=True)
    lst = F.concat_ws(
        ",",
        F.concat(F.lit("t"), F.pmod(F.col("user_id"), F.lit(5)).cast("string")),
        F.concat(
            F.lit("t"),
            F.pmod(F.floor(F.col("value")).cast("long"), F.lit(7)).cast("string"),
        ),
    )
    ev = ev.withColumn("lst", lst)
    t = ListTransformer(sep=",").fit(ev, ["lst"])
    return ev.select("event_id", *t.exprs("lst"))


SQL_LIST_ENCODE = """
WITH b AS (
  SELECT event_id,
         't' || CAST(user_id % 5 AS VARCHAR) AS ta,
         't' || CAST(CAST(floor(value) AS BIGINT) % 7 AS VARCHAR) AS tb
  FROM events
)
SELECT event_id,
       CAST(ta = 't0' OR tb = 't0' AS INT) AS lst_t0,
       CAST(ta = 't1' OR tb = 't1' AS INT) AS lst_t1,
       CAST(ta = 't2' OR tb = 't2' AS INT) AS lst_t2,
       CAST(ta = 't3' OR tb = 't3' AS INT) AS lst_t3,
       CAST(ta = 't4' OR tb = 't4' AS INT) AS lst_t4,
       CAST(ta = 't5' OR tb = 't5' AS INT) AS lst_t5,
       CAST(ta = 't6' OR tb = 't6' AS INT) AS lst_t6
FROM b
"""


def q_psi_discrete(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events", spread=True)
    expected = ev.where(F.col("event_id") % 2 == 0)
    actual = ev.where(F.col("event_id") % 2 == 1)
    v = psi(expected, actual, "event_type", is_continuous=False)
    return spark.createDataFrame([(round(v, 6),)], "psi_value double")


SQL_PSI_DISCRETE = """
WITH e AS (
  SELECT event_type, count(*) c FROM events WHERE event_id % 2 = 0 GROUP BY event_type
), a AS (
  SELECT event_type, count(*) c FROM events WHERE event_id % 2 = 1 GROUP BY event_type
), keys AS (SELECT event_type FROM e UNION SELECT event_type FROM a),
r AS (
  SELECT k.event_type,
         greatest(coalesce(e.c, 0) * 1.0 / (SELECT sum(c) FROM e), 1e-10) er,
         greatest(coalesce(a.c, 0) * 1.0 / (SELECT sum(c) FROM a), 1e-10) ar
  FROM keys k LEFT JOIN e ON k.event_type = e.event_type
              LEFT JOIN a ON k.event_type = a.event_type
)
SELECT round(sum((ar - er) * ln(ar / er)), 6) AS psi_value FROM r
"""


def q_iv_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """iv_all (stats.py:32-67) over two categorical features via the
    single-pass melted plan: ONE groupBy over ONE scan covers every
    (feature, value) cell; per-feature IV is driver math over that
    aggregate. The oracle melts the same two features in SQL and
    replays the 0.5-floor IV formula per feature."""
    ev = _events(spark, sf_dir, spread=True).withColumn(
        "vband",
        F.concat(
            F.lit("b"),
            F.floor(F.col("value") / 100).cast("int").cast("string"),
        ),
    )
    stats = iv_all(
        ev, ["event_type", "vband"], "y",
        categorical_cols=["event_type", "vband"],
    )
    rows = [(f_, round(float(stats.loc[f_, "iv"]), 6))
            for f_ in ["event_type", "vband"]]
    return spark.createDataFrame(rows, "feature string, iv double")


SQL_IV_ALL = """
WITH src AS (
  SELECT event_type,
         'b' || CAST(CAST(floor(value / 100) AS INT) AS VARCHAR) AS vband,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y
  FROM events
),
melt AS (
  SELECT 'event_type' AS feature, event_type AS val, y FROM src
  UNION ALL
  SELECT 'vband' AS feature, vband AS val, y FROM src
),
t AS (
  SELECT feature, val, sum(1 - y) c0, sum(y) c1 FROM melt GROUP BY feature, val
),
tot AS (SELECT feature, sum(c0) t0, sum(c1) t1 FROM t GROUP BY feature)
SELECT t.feature,
       round(sum(
         (greatest(c1, 0.5) / greatest(t1, 0.5) - greatest(c0, 0.5) / greatest(t0, 0.5))
         * ln((greatest(c1, 0.5) / greatest(t1, 0.5)) /
              (greatest(c0, 0.5) / greatest(t0, 0.5)))
       ), 6) AS iv
FROM t JOIN tot ON tot.feature = t.feature
GROUP BY t.feature
"""


def q_psi_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """psi_all (stats.py:70-123) group-vs-previous drift over two
    categorical features and three deterministic groups — the melted
    single-pass plan aggregates every (group, feature, value) cell in
    ONE groupBy; each of the 4 (feature x group-pair) PSIs is driver
    math. Oracle replays the pairing, union-of-values universe, and
    1e-10 rate floors."""
    ev = load(spark, sf_dir, "events", spread=True).withColumn(
        "grp", F.concat(F.lit("g"), F.pmod(F.col("event_id"), 3).cast("string"))
    ).withColumn(
        "vband",
        F.concat(
            F.lit("b"),
            F.floor(F.col("value") / 100).cast("int").cast("string"),
        ),
    )
    res = psi_all(
        ev, ["event_type", "vband"], group_col="grp",
        categorical_cols=["event_type", "vband"],
    )
    rows = []
    for f_ in ["event_type", "vband"]:
        for g in list(res.columns)[1:]:  # first group has no previous
            rows.append((f_, g, round(float(res.loc[f_, g]), 6)))
    return spark.createDataFrame(rows, "feature string, grp string, psi double")


SQL_PSI_ALL = """
WITH src AS (
  SELECT 'g' || CAST(event_id % 3 AS VARCHAR) AS grp,
         event_type,
         'b' || CAST(CAST(floor(value / 100) AS INT) AS VARCHAR) AS vband
  FROM events
),
melt AS (
  SELECT grp, 'event_type' AS feature, event_type AS val FROM src
  UNION ALL
  SELECT grp, 'vband' AS feature, vband AS val FROM src
),
cnt AS (SELECT grp, feature, val, count(*) n FROM melt GROUP BY grp, feature, val),
tot AS (SELECT grp, feature, sum(n) t FROM cnt GROUP BY grp, feature),
pairs AS (SELECT * FROM (VALUES ('g0', 'g1'), ('g1', 'g2')) AS p(eg, ag)),
universe AS (
  SELECT p.eg, p.ag, c.feature, c.val
  FROM pairs p JOIN cnt c ON c.grp IN (p.eg, p.ag)
  GROUP BY p.eg, p.ag, c.feature, c.val
),
r AS (
  SELECT u.ag AS grp, u.feature,
         greatest(coalesce(ec.n, 0) * 1.0 / et.t, 1e-10) er,
         greatest(coalesce(ac.n, 0) * 1.0 / at.t, 1e-10) ar
  FROM universe u
  LEFT JOIN cnt ec ON ec.grp = u.eg AND ec.feature = u.feature AND ec.val = u.val
  LEFT JOIN cnt ac ON ac.grp = u.ag AND ac.feature = u.feature AND ac.val = u.val
  JOIN tot et ON et.grp = u.eg AND et.feature = u.feature
  JOIN tot at ON at.grp = u.ag AND at.feature = u.feature
)
SELECT feature, grp, round(sum((ar - er) * ln(ar / er)), 6) AS psi
FROM r GROUP BY feature, grp
"""


def q_selector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selector chain stats (selector.py:60-192): the three distributed
    aggregation passes — missing rates, per-feature IV (step cut), and
    the pairwise Pearson matrix — value-checked end to end. The
    sequential keep/drop iteration over the matrix is driver logic
    covered by unit goldens (not ANSI-SQL-expressible ordering)."""
    from ..operators.selector import Selector

    ev = _events(spark, sf_dir, spread=True)
    df = ev.select(
        "y",
        F.col("value").alias("v1"),
        (F.col("value") * 0.5 + F.pmod(F.col("event_id"), 10)).alias("v2"),
        F.when(F.pmod(F.col("event_id"), 5) == 0, F.lit(None).cast("double"))
         .otherwise(F.pmod(F.col("user_id"), 100).cast("double")).alias("v3"),
    )
    # inside the with block the three stats passes (missing / melted
    # IV / corr) read the narrow 4-column projection from the columnar
    # cache instead of re-scanning the parquet source three times
    with Selector(df, "y") as sel:
        sel.drop_missing(0.9).drop_low_iv(
            0.0, cut_method="step"
        ).drop_correlated(0.9)
        feats = ["v1", "v2", "v3"]
    rows = []
    for f_ in feats:
        rows.append(("missing", f_, "", round(float(sel.missing_stats.loc[f_, "missing_rate"]), 6)))
        rows.append(("iv", f_, "", round(float(sel.iv_stats.loc[f_, "iv"]), 6)))
    for i, a in enumerate(feats):
        for b in feats[i + 1:]:
            rows.append(("corr", a, b, round(float(sel.corr_matrix.loc[a, b]), 6)))
    return spark.createDataFrame(rows, "stat string, fa string, fb string, val double")


SQL_SELECTOR_STATS = """
WITH src AS (
  SELECT CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y,
         value AS v1,
         value * 0.5 + (event_id % 10) AS v2,
         CASE WHEN event_id % 5 = 0 THEN NULL
              ELSE CAST(user_id % 100 AS DOUBLE) END AS v3
  FROM events
),
melt AS (
  SELECT 'v1' AS f, v1 AS x, y FROM src
  UNION ALL SELECT 'v2', v2, y FROM src
  UNION ALL SELECT 'v3', v3, y FROM src
),
-- per-feature step grid over non-null values (cut.py:15-66, right-closed)
s AS (SELECT f, min(x) mn, max(x) mx FROM melt WHERE x IS NOT NULL GROUP BY f),
b AS (
  SELECT m.f,
         CASE WHEN m.x IS NULL THEN -1
              ELSE CAST(least(greatest(ceil((m.x - s.mn) / ((s.mx - s.mn) / 10.0)), 1), 10) - 1 AS INT)
         END AS b,
         m.y
  FROM melt m JOIN s ON s.f = m.f
),
t AS (SELECT f, b, sum(1 - y) c0, sum(y) c1 FROM b GROUP BY f, b),
tot AS (SELECT f, sum(c0) t0, sum(c1) t1 FROM t GROUP BY f),
ivs AS (
  SELECT t.f,
         round(sum(
           (greatest(c1, 0.5) / greatest(t1, 0.5) - greatest(c0, 0.5) / greatest(t0, 0.5))
           * ln((greatest(c1, 0.5) / greatest(t1, 0.5)) /
                (greatest(c0, 0.5) / greatest(t0, 0.5)))
         ), 6) AS iv
  FROM t JOIN tot ON tot.f = t.f GROUP BY t.f
)
SELECT 'missing' AS stat, f AS fa, '' AS fb,
       round(avg(CASE WHEN x IS NULL OR isnan(x) THEN 1.0 ELSE 0.0 END), 6) AS val
FROM melt GROUP BY f
UNION ALL
SELECT 'iv', f, '', iv FROM ivs
UNION ALL
SELECT 'corr', 'v1', 'v2', round(corr(v1, v2), 6) FROM src
UNION ALL
SELECT 'corr', 'v1', 'v3', round(corr(v1, v3), 6) FROM src
UNION ALL
SELECT 'corr', 'v2', 'v3', round(corr(v2, v3), 6) FROM src
"""


# ------------------------------------------------------------- encoders

def q_category_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events", spread=True)
    ct = CategoryTransformer().fit(ev, ["event_type"])
    return ev.select("event_id", ct.expr("event_type").alias("event_type_code"))


SQL_CATEGORY_ENCODE = """
WITH r AS (
  SELECT event_type,
         CAST(row_number() OVER (ORDER BY count(*) DESC, event_type) AS INT) AS code
  FROM events GROUP BY event_type
)
SELECT e.event_id, r.code AS event_type_code
FROM events e JOIN r USING (event_type)
"""


def q_onehot_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events", spread=True)
    oht = OneHotTransformer().fit(ev, ["event_type"])
    return ev.select("event_id", *oht.exprs("event_type")).drop("event_type_others")


SQL_ONEHOT_ENCODE = """
SELECT event_id,
       (event_type = 'click')::INT    AS event_type_click,
       (event_type = 'view')::INT     AS event_type_view,
       (event_type = 'purchase')::INT AS event_type_purchase,
       (event_type = 'error')::INT    AS event_type_error,
       (event_type = 'signup')::INT   AS event_type_signup
FROM events
"""


def q_label_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    enc = LabelEncoder().fit(ev, "event_type")
    return ev.select("event_id", enc.expr("event_type").alias("event_type_code"))


SQL_LABEL_ENCODE = """
WITH r AS (
  SELECT DISTINCT event_type FROM events
), m AS (
  SELECT event_type, CAST(dense_rank() OVER (ORDER BY event_type) - 1 AS INT) AS code
  FROM r
)
SELECT e.event_id, m.code AS event_type_code
FROM events e JOIN m USING (event_type)
"""


# ----------------------------------------------------------- split / auc

def q_split_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    out = split_data(ev, F.col("event_id") % 10 < 6, F.col("event_id") % 10 >= 8)
    return out.groupBy("group").agg(F.count(F.lit(1)).alias("n"))


SQL_SPLIT_GROUPS = """
SELECT CASE WHEN event_id % 10 >= 8 THEN 1
            WHEN event_id % 10 < 6 THEN 0 ELSE -1 END AS "group",
       count(*) AS n
FROM events GROUP BY 1
"""


def q_split_stacking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split_data_stacking mask semantics (reference split.py:95-141):
    oot rows -> -1, the rest -> folds 0..k-1. Fold membership is a
    deterministic xxhash64 (documented divergence from KFold shuffle,
    not SQL-expressible), so the oracle checks the oot/train partition
    and that all rows land in exactly one group; a unit test covers the
    fold proportions."""
    from ..operators.split import split_data_stacking

    ev = load(spark, sf_dir, "events")
    out = split_data_stacking(
        ev, F.col("event_id") % 10 >= 8, n_fold=5, key_cols=["event_id"]
    )
    return out.groupBy((F.col("group") >= 0).alias("is_train")).agg(
        F.count(F.lit(1)).alias("n")
    )


SQL_SPLIT_STACKING = """
SELECT (event_id % 10 < 8) AS is_train, count(*) AS n
FROM events GROUP BY 1
"""


def q_auc_ks_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The n_score_bins scale path of auc/ks (bounded grid +
    chunk-partitioned prefix sums) against a full SQL replication of
    the binned formula — same grid arithmetic, same tie-averaged rank
    statistic over bins."""
    ev = _events(spark, sf_dir).withColumn("score", F.col("value") / 500.0)
    a, k = auc_ks_values(ev, "y", "score", n_score_bins=1000)
    return spark.createDataFrame(
        [(round(a, 6), round(k, 6))], "auc_value double, ks_value double"
    )


SQL_AUC_KS_BINNED = """
WITH base AS (
  SELECT value / 500.0 AS s,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y
  FROM events
), g AS (SELECT min(s) mn, max(s) mx FROM base),
binned AS (
  SELECT CAST(least(greatest(floor((b.s - g.mn) / ((g.mx - g.mn) / 1000.0)), 0), 999) AS INT) AS b,
         y
  FROM base b, g
),
per AS (SELECT b, count(*) n, sum(y) n1 FROM binned GROUP BY b),
tot AS (SELECT sum(n1) n1, sum(n) - sum(n1) AS n0 FROM per),
cum AS (
  SELECT b, n, n1,
         coalesce(sum(n) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
         coalesce(sum(n1) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb1
  FROM per
),
shares AS (
  SELECT (tot.n1 - cb1) * 1.0 / tot.n1 AS cum_bad,
         (tot.n0 - (cb - cb1)) * 1.0 / tot.n0 AS cum_good
  FROM cum, tot
)
SELECT
  (SELECT round((sum(cum.n1 * (cum.cb + (cum.n + 1) / 2.0)) - tot.n1 * (tot.n1 + 1) / 2.0)
                / (tot.n0 * tot.n1), 6)
   FROM cum, tot GROUP BY tot.n1, tot.n0) AS auc_value,
  (SELECT round(max(abs(cum_bad - cum_good)), 6) FROM shares) AS ks_value
"""


def q_auc_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).withColumn("score", F.col("value") / 500.0)
    a, k = auc_ks_values(ev, "y", "score")
    return spark.createDataFrame(
        [(round(a, 6), round(k, 6))], "auc_value double, ks_value double"
    )


SQL_AUC_KS = """
WITH base AS (
  SELECT value / 500.0 AS s,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y
  FROM events
), ranked AS (
  SELECT y, avg(rn) OVER (PARTITION BY s) AS avg_rank
  FROM (SELECT y, s, row_number() OVER (ORDER BY s) AS rn FROM base)
), tot AS (
  SELECT sum(y) n1, count(*) - sum(y) n0 FROM base
), aucv AS (
  SELECT (sum(CASE WHEN y = 1 THEN avg_rank END) - tot.n1 * (tot.n1 + 1) / 2.0)
         / (tot.n0 * tot.n1) AS auc_value
  FROM ranked, tot GROUP BY tot.n1, tot.n0
), per_s AS (
  SELECT s, count(*) n, sum(y) n1 FROM base GROUP BY s
), cum AS (
  SELECT sum(n1) OVER w * 1.0 / (SELECT n1 FROM tot) AS cum_bad,
         sum(n - n1) OVER w * 1.0 / (SELECT n0 FROM tot) AS cum_good
  FROM per_s
  WINDOW w AS (ORDER BY s DESC ROWS UNBOUNDED PRECEDING)
)
SELECT round(aucv.auc_value, 6) AS auc_value,
       round((SELECT max(abs(cum_bad - cum_good)) FROM cum), 6) AS ks_value
FROM aucv
"""


def _scorecard_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic prob computable identically in DuckDB (md5-60 hash,
    the simhash-oracle trick), shaped so EVERY fit bin holds both
    classes: u is hash-uniform in [0,1), prob = u*0.98 + y*0.01 + 0.005
    keeps both classes inside every 0.05-wide (1-prob) bin. On such an
    input the reference's sequential odds adjustment
    (scorecard.py:153-195) is a no-op (asserted by
    tests/test_split_selector_scorecard.py), which makes fit+transform
    ANSI-SQL-expressible: binned counts -> odds -> log2 score ->
    piecewise lerp."""
    u = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 100000
    ) / 100000.0
    return _events(spark, sf_dir, spread=True).withColumn(
        "prob", u * 0.98 + F.col("y") * 0.01 + 0.005
    )


def q_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _scorecard_input(spark, sf_dir)
    t = ScoreCardTransformer(bad_flag=True).fit(ev, "prob", "y")
    return t.transform(ev, "prob").select("event_id", "score")


# Full fit+transform replay (bad_flag=True, n_bins=20, standard 500/0.01
# /pdo 20). Valid ONLY because the input keeps every bin dual-class (the
# odds adjustment is a no-op there — the adjustment path itself stays
# covered by unit goldens). j = 19 - fit_bin is the bad_flag row
# reversal (scorecard.py:139-143); segment math mirrors
# _calc_mapping_df's float formulas term for term.
SQL_SCORECARD = """
WITH base AS (
  SELECT event_id,
         (('0x'||substr(md5(CAST(event_id AS VARCHAR)),1,15))::BIGINT % 100000)
           / 100000.0 * 0.98
           + (CASE WHEN event_type='error' THEN 1 ELSE 0 END) * 0.01 + 0.005 AS prob,
         CASE WHEN event_type='error' THEN 1 ELSE 0 END AS y
  FROM events
), fit AS (
  SELECT CAST(floor((1.0 - prob) / 0.05) AS INT) AS fb,
         count(*) AS hits, CAST(sum(y) AS BIGINT) AS ones
  FROM base GROUP BY fb
), anchors AS (
  SELECT 19 - fb AS j,
         0.05 * (19 - fb) AS pl_bin,
         CAST(floor(500 + 20 * log2(((hits - ones) * 1.0 / ones) / 0.01)) AS INT)
           AS score
  FROM fit WHERE fb BETWEEN 0 AND 19
), mm AS (SELECT max(score) AS mx, min(score) AS mn FROM anchors),
segs AS (
  SELECT t.t,
         CASE WHEN t.t = 0 THEN 0.0
              ELSE (a1.pl_bin + (a1.pl_bin + 0.05)) / 2 END AS pl,
         CASE WHEN t.t = 0 THEN CAST(mm.mx + 20 AS DOUBLE)
              ELSE CAST(a1.score AS DOUBLE) END AS sl,
         CASE WHEN t.t = 20 THEN 1.0
              ELSE (a2.pl_bin + (a2.pl_bin + 0.05)) / 2 END AS pr,
         CASE WHEN t.t = 20 THEN mm.mn - 10.0
              ELSE CAST(a2.score AS DOUBLE) END AS sr
  FROM range(21) AS t(t)
  LEFT JOIN anchors a1 ON a1.j = t.t - 1
  LEFT JOIN anchors a2 ON a2.j = t.t
  CROSS JOIN mm
), mapping AS (
  SELECT t, (sr - sl) / (pr - pl) AS slope,
         (pr * sl - pl * sr) / (pr - pl) AS intercept
  FROM segs
)
SELECT b.event_id,
       CAST(round_even(m.slope * b.prob + m.intercept, 0) AS INT) AS score
FROM base b
JOIN mapping m ON m.t = CAST(floor((b.prob + 0.025) / 0.05) AS INT)
"""


def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold m-estimate target encoding (target_encode.py) over
    two categorical features with deterministic folds (event_id % 5) —
    zero label leakage: a row's encoding uses only other-fold
    statistics, including the prior. The oracle replays the exact
    formula with window sums; every input to the arithmetic is an exact
    integer, so the doubles agree bit-for-bit before rounding."""
    from ..operators.target_encode import target_encode

    ev = load(spark, sf_dir, "events", spread=True)
    df = ev.select(
        "event_id",
        "event_type",
        F.concat(
            F.lit("b"), F.floor(F.col("value") / 100).cast("int").cast("string")
        ).alias("vband"),
        (F.col("value") > 500).cast("int").alias("y"),
        F.pmod(F.col("event_id"), 5).cast("int").alias("fold"),
    )
    out = target_encode(
        df, ["event_type", "vband"], "y", method="oof", fold_col="fold",
        smoothing=20.0,
    )
    return out.select(
        "event_id",
        F.round("event_type_te", 6).alias("event_type_te"),
        F.round("vband_te", 6).alias("vband_te"),
    )


SQL_TARGET_ENCODE = """
WITH src AS (
  SELECT event_id, event_type,
         'b' || CAST(CAST(floor(value / 100) AS INT) AS VARCHAR) AS vband,
         CASE WHEN value > 500 THEN 1 ELSE 0 END AS y,
         CAST(event_id % 5 AS INT) AS fold
  FROM events
), w AS (
  SELECT event_id,
    sum(y) OVER (PARTITION BY event_type)        AS s1,
    count(*) OVER (PARTITION BY event_type)      AS n1,
    sum(y) OVER (PARTITION BY event_type, fold)  AS sf1,
    count(*) OVER (PARTITION BY event_type, fold) AS nf1,
    sum(y) OVER (PARTITION BY vband)             AS s2,
    count(*) OVER (PARTITION BY vband)           AS n2,
    sum(y) OVER (PARTITION BY vband, fold)       AS sf2,
    count(*) OVER (PARTITION BY vband, fold)     AS nf2,
    sum(y) OVER ()                               AS st,
    count(*) OVER ()                             AS nt,
    sum(y) OVER (PARTITION BY fold)              AS sfo,
    count(*) OVER (PARTITION BY fold)            AS nfo
  FROM src
)
SELECT event_id,
  round((s1 - sf1 + 20.0 * ((st - sfo) * 1.0 / (nt - nfo)))
        / (n1 - nf1 + 20.0), 6) AS event_type_te,
  round((s2 - sf2 + 20.0 * ((st - sfo) * 1.0 / (nt - nfo)))
        / (n2 - nf2 + 20.0), 6) AS vband_te
FROM w
"""


OP_QUERIES = {
    "step_bin": q_step_bin,
    "quantile_bin": q_quantile_bin,
    "dt_bin": q_dt_bin,
    "lgb_bin": q_lgb_bin,
    "chi_bin": q_chi_bin,
    "woe_encode": q_woe_encode,
    "iv_discrete": q_iv_discrete,
    "iv_continuous": q_iv_continuous,
    "psi_discrete": q_psi_discrete,
    "psi_continuous": q_psi_continuous,
    "iv_all": q_iv_all,
    "psi_all": q_psi_all,
    "selector_stats": q_selector_stats,
    "list_encode": q_list_encode,
    "category_encode": q_category_encode,
    "onehot_encode": q_onehot_encode,
    "label_encode": q_label_encode,
    "split_groups": q_split_groups,
    "split_stacking": q_split_stacking,
    "auc_ks": q_auc_ks,
    "auc_ks_binned": q_auc_ks_binned,
    "scorecard": q_scorecard,
    "target_encode": q_target_encode,
}

OP_ORACLES = {
    "step_bin": SQL_STEP_BIN,
    "quantile_bin": SQL_QUANTILE_BIN,
    "dt_bin": SQL_DT_BIN,
    "lgb_bin": SQL_LGB_BIN,
    "chi_bin": SQL_CHI_BIN,
    "woe_encode": SQL_WOE_ENCODE,
    "iv_discrete": SQL_IV_DISCRETE,
    "iv_continuous": SQL_IV_CONTINUOUS,
    "psi_discrete": SQL_PSI_DISCRETE,
    "psi_continuous": SQL_PSI_CONTINUOUS,
    "iv_all": SQL_IV_ALL,
    "psi_all": SQL_PSI_ALL,
    "selector_stats": SQL_SELECTOR_STATS,
    "list_encode": SQL_LIST_ENCODE,
    "category_encode": SQL_CATEGORY_ENCODE,
    "onehot_encode": SQL_ONEHOT_ENCODE,
    "label_encode": SQL_LABEL_ENCODE,
    "split_groups": SQL_SPLIT_GROUPS,
    "split_stacking": SQL_SPLIT_STACKING,
    "auc_ks": SQL_AUC_KS,
    "auc_ks_binned": SQL_AUC_KS_BINNED,
    # scorecard oracle is valid because its gate input keeps the odds
    # adjustment a no-op (see _scorecard_input); the adjustment path
    # stays covered by unit goldens
    "scorecard": SQL_SCORECARD,
    "target_encode": SQL_TARGET_ENCODE,
}
