"""SparkSession factory with the engine's default tuning.

Defaults are chosen for correctness-at-scale first:

- AQE on: runtime coalescing of post-shuffle partitions and skew-join
  splitting mean the same plan works at sf0.001 and at 100 TB.
- ``spark.sql.session.timeZone=UTC``: the testdata parquet carries naive
  timestamps; pinning the session TZ makes epoch math engine-independent
  (the DuckDB oracle is TZ-naive).
- shuffle partitions default to 32 locally; on a real cluster leave it to
  AQE + ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``.
- ``spark.sql.codegen.cache.maxEntries=1000``: the JVM-wide cache of
  compiled generated classes. One report cycle (usage, lag, governance,
  registry, window and metrics layers) needs ~265 distinct classes; at
  Spark's default of 100 the cache thrashed and every cycle recompiled
  ~237 of them. 300 still thrashed. The conf is static: it takes effect
  only when set before the first session starts.
- ``spark.sql.codegen.useIdInClassName=false``: AQE numbers whole-stage
  codegen stages in the order it plans them at run time, which varies
  from run to run; with the number in the class name the same stage
  compiled again as a "new" class under another number (up to 20
  extra compiles per repeated report at sf0.001).
- ``spark.executorEnv.PYTHONPATH`` names the directory that holds the
  package: Python workers import it (Arrow bodies call module-level
  functions, which cloudpickle ships by reference), so without it they
  fail with ``ModuleNotFoundError`` when the driver runs outside that
  directory. Spark merges it with its own paths and the launching
  environment's ``PYTHONPATH``.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# The tuning every session gets through ``builder``, including scripts
# that need a builder of their own (e.g. with the UI on).
SPARK_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.codegen.cache.maxEntries": "1000",
    "spark.sql.codegen.useIdInClassName": "false",
    "spark.ui.enabled": "false",
    "spark.executorEnv.PYTHONPATH": str(
        Path(__file__).resolve().parent.parent
    ),
}


def builder(
    app_name: str = "kafka-overwatch-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession.Builder:
    """A session builder with ``SPARK_CONF`` and the environment's
    master, shuffle partitions and driver memory applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config(map=SPARK_CONF)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )


def get_spark(
    app_name: str = "kafka-overwatch-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    return builder(app_name, shuffle_partitions).getOrCreate()


def warm_python_workers(spark: SparkSession) -> None:
    """Spawn (and keep, via spark.python.worker.reuse) one Python worker
    per core with a trivial mapInPandas. Cold worker init measured at
    ~20-25 s/worker when 32 spawn concurrently mid-workload (pandas/numpy
    import under contention) — warming during setup moves that cost out of
    every first Arrow-UDF query."""
    par = spark.sparkContext.defaultParallelism
    (
        spark.range(par * 2, numPartitions=par)
        .mapInPandas(lambda it: it, "id long")
        .count()
    )
