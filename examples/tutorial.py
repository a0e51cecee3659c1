"""didtool_spark tutorial — the reference workflow, Spark-first.

Mirrors the reference's doc/didtool_tutorial.ipynb section by section
(encoders -> binning -> feature analysis -> selection -> splits ->
model -> evaluation plots -> scorecard), running on the synthetic
``events`` table. Every step is a lazy DataFrame plan plus a small
driver-side stats table; nothing row-scale is collected.

Run:  python examples/tutorial.py [testdata_dir] [out_dir]
      (defaults: /root/testdata/sf0.001, ./examples/out)
"""

import os
import sys

from pyspark.sql import SparkSession, functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import didtool_spark as dt  # noqa: E402

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "out")
os.makedirs(out, exist_ok=True)

spark = (
    SparkSession.builder.master("local[4]")
    .appName("didtool-spark-tutorial")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

df = (
    spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    .withColumn("label", (F.col("event_type") == "error").cast("int"))
    .withColumn("month", F.date_format("ts", "yyyy-MM"))
)

# ----------------------------------------------------- 1. encoders
# One-hot / ordinal category encoding (reference OneHotTransformer /
# CategoryTransformer): fit = one distinct-count aggregation, transform
# = generated column expressions.
onehot = dt.OneHotTransformer().fit(df, ["event_type"], max_bins=3)
cat = dt.CategoryTransformer().fit(df, ["event_type"], max_bins=10)
print("one-hot columns:", [c for c in onehot.transform(df).columns
                           if c.startswith("event_type_")])

# WOE transform (cut + per-bin weight of evidence)
woe = dt.WOETransformer(cut_method="dt", n_bins=5)
woe.fit(df.select("value", "event_type", "label"), "label")
print("woe_df head:\n", woe.woe_df.head(6).to_string())
# transform replaces the feature columns with their WOE values
woe_cols = woe.transform(df).select("value", "event_type")
print("woe sample:", woe_cols.limit(3).collect())

# ------------------------------------------------------ 2. binning
# All five cut methods of the reference dispatcher.
for method in ["step", "quantile", "dt", "lgb", "chi"]:
    _, edges = dt.cut(df, "value", target="label", method=method,
                      n_bins=6, return_bins=True)
    print(f"cut[{method}] edges:", [round(e, 2) for e in edges][:8])
binned = dt.cut_with_bins(df, "value", bins=[0, 100, 250, 500, 1000])
print("cut_with_bins dist:",
      sorted(binned.groupBy("value_bin").count().collect()))

# ----------------------------------------- 3. feature analysis
features = df.withColumn("v2", F.col("value") * 0.5
                         + F.pmod("user_id", 7).cast("double"))
print("iv_all:\n", dt.iv_all(
    features, ["value", "v2", "event_type"], "label",
    categorical_cols=["event_type"]).to_string())
# group-over-group drift (the small sample has one month, so group on
# a deterministic cohort id instead)
cohorts = features.withColumn(
    "cohort", F.concat(F.lit("g"), F.pmod("event_id", 3).cast("string")))
print("psi_all (cohort-over-cohort):\n", dt.psi_all(
    cohorts, ["value", "event_type"], group_col="cohort",
    categorical_cols=["event_type"]).to_string())

# ---------------------------------------------- 4. feature selection
sel_df = features.select(
    "label", "value", "v2",
    F.when(F.pmod("event_id", 5) == 0, None)
     .otherwise(F.pmod("user_id", 100).cast("double")).alias("v3"),
)
# inside the with block the chain's three stats passes share one
# columnar cache, released on exit
with dt.Selector(sel_df, "label") as sel:
    sel.drop_missing(0.9).drop_low_iv(0.0, cut_method="step") \
       .drop_correlated(0.9)
    sel.plot_missing(out_path=out)
    sel.plot_iv(out_path=out)
    sel.plot_correlated(out_path=out, plot_all=True)
    print("selector kept:", sel.features, "dropped:", sel.drop_cols)

# -------------------------------------------------------- 5. splits
data = dt.split_data_random(sel_df.select("label", *sel.features),
                            0.6, 0.2, key_cols=sel.features)
print("split sizes:", sorted(data.groupBy("group").count().collect()))

# ---------------------------------------------------------- 6. model
model = dt.GBMModelSingle(
    data, feature_names=sel.features, target="label", group_col="group",
    model_params={"n_estimators": 20, "max_depth": 3},
)
model.train(early_stopping_rounds=5)
scored, report = model.evaluate()
print("per-group AUC/KS:", report)
model.export(out, model_name="tutorial_model")

# ---------------------------------------------- 7. evaluation plots
# plots take the DataFrame itself — curves are computed distributed
# (use n_score_bins on big tables to avoid the exact global sort)
oot = scored.where(F.col("group") == -1)
dt.plot_roc(oot, "label", "prob", out_path=out)
dt.plot_ks(oot, "label", "prob", out_path=out)
dt.plot_pr_curve(oot, "label", "prob", out_path=out)

# -------------------------------------------------------- 8. scorecard
card = dt.ScoreCardTransformer(n_bins=10, standard_score=600,
                               standard_odds=0.01, pdo=20)
card.fit(scored, "prob", "label")
with_scores = card.transform(scored, "prob")
print("score range:", with_scores.agg(
    F.min("score"), F.max("score")).collect()[0])
card.plot_bins(out_path=out)
card.export_mapping(os.path.join(out, "score_card.csv"))

print("tutorial artifacts written to", out)
spark.stop()
