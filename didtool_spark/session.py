"""SparkSession factory for the engine.

Design notes (scale):
- AQE on: runtime re-planning, skew-join splitting, coalescing of
  small shuffle partitions — first line of defense on a 1000-executor
  cluster; local runs behave the same way.
- Arrow on: every pandas-UDF / toPandas boundary is Arrow-batched.
- ``shuffle_partitions`` defaults to 2x parallelism locally; on a real
  cluster pass an explicit value sized so each shuffle partition holds
  ~128-256MB (AQE then coalesces).

No Iceberg jars ship in this sandbox; when ``iceberg_warehouse`` is
given we *attempt* to register an Iceberg catalog (works unmodified on
a cluster whose runtime has iceberg-spark-runtime on the classpath);
otherwise the engine's checkpoint layer (didtool_spark.plans.checkpoint)
provides equivalent snapshot/manifest semantics over parquet.

Codegen class cache (``spark.sql.codegen.cache.maxEntries``, static,
one LRU per JVM): Spark's default of 100 generated classes is smaller
than one pass of the engine's plans, so a repeated pass (each
``CheckpointedRun`` bucket, each registry run) compiled its classes
again instead of reusing them. The cap is sized from the classes that
one pass compiles with an unbounded cache (the count of
``CodegenMetrics.METRIC_COMPILATION_TIME``), on a 4-core host at
``local[2]``:

- one perfbench ``registry_mix`` pass: 99, and 112 over three passes,
  with origin capture (below) on; 103, and 103 over three, with it off;
- one bucketed ``skewed_backfill`` pass plus its window reference:
  132 + 54 = 186;
- one 140-query ``scripts/check_oracle.py`` run at sf0.001: 2007.

``CODEGEN_CACHE_ENTRIES`` covers the largest with about 2x headroom.

PySpark's per-call origin capture
(``spark.python.sql.dataFrameDebugging.enabled``) is off: with it on,
every ``F.*``/``Column`` call made about three extra py4j round trips
to record its Python call site. The cost of turning it off: an
analysis error no longer names the Python line that built the failing
expression.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_LOCAL_CORES = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
CODEGEN_CACHE_ENTRIES = 4000


def get_spark(
    app_name: str = "didtool-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    iceberg_warehouse: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the engine.

    On a real cluster, ``spark-submit --py-files didtool_spark.zip`` with
    ``--master yarn/k8s`` simply overrides the master; nothing here is
    local-only.
    """
    cores = cores or DEFAULT_LOCAL_CORES
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(f"local[{cores}]")
    if iceberg_warehouse:
        builder = (
            builder.config(
                "spark.sql.catalog.engine", "org.apache.iceberg.spark.SparkCatalog"
            )
            .config("spark.sql.catalog.engine.type", "hadoop")
            .config("spark.sql.catalog.engine.warehouse", iceberg_warehouse)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
