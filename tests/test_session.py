"""The session keeps a plan's generated classes compiled across runs.

Spark's codegen class cache (``spark.sql.codegen.cache.maxEntries``) is
a static conf: it holds the classes of every plan the JVM has run, and
evicts the least recently used once full. If one pass of an engine plan
needs more classes than the cap, every later pass compiles them again.
"""

from didtool_spark import session
from didtool_spark.data.transcripts import generate_transcripts
from didtool_spark.plans.materialize import materialize_features


def _compiled(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_session_confs_reach_the_session(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_ENTRIES
    )
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_second_bucketed_materialize_compiles_nothing(spark, tmp_path):
    path = str(tmp_path / "transcripts")
    generate_transcripts(
        spark, n_convs=60, avg_turns=12, n_hot=1, hot_factor=50
    ).write.parquet(path)

    def run() -> int:
        before = _compiled(spark)
        out = materialize_features(spark.read.parquet(path), strategy="bucketed")
        out.write.format("noop").mode("overwrite").save()
        return _compiled(spark) - before

    first = run()
    assert run() == 0, f"the first run compiled {first} classes, the second recompiled some"
