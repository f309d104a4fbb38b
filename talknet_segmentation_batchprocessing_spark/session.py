"""SparkSession factory tuned for this engine.

Local mode is a single JVM; on a real cluster the same conf applies per
executor. Scale posture (100 TB target):

- AQE on: runtime partition coalescing + skew-join handling covers the
  long-video / hot-key straggler problem (SURVEY.md §4).
- Arrow on: every pandas-UDF boundary (media/NN shells) is
  Arrow-batched, never row-at-a-time pickle.
- UTC session timezone: parity with the DuckDB oracle (UTC-naive).
- shuffle partitions sized to cores locally; on a cluster this should
  be ~2-3x total executor cores or left to AQE's coalescing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "talknet-segmentation-spark",
    cpus: str | int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the engine's SparkSession.

    Env knobs (driver contract): ``SPARK_GRAFT_CPUS`` sets local
    parallelism, default ``*``; shuffle partitions follow it (all
    cores when ``*``).
    """
    # applyInPandas/pandas-UDF worker processes import this package by
    # name; they resolve it via PYTHONPATH (not the driver's sys.path),
    # so export our repo root before the JVM starts. Cluster analog:
    # spark-submit --py-files of the packaged wheel.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH", "")
    if pkg_root not in py_path.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{py_path}" if py_path else pkg_root
        )

    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    shuffle_partitions = int(cpus) if str(cpus).isdigit() else os.cpu_count() or 8

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # driver testdata stores timestamps as TIMESTAMP(NANOS); Spark
        # has no ns timestamp type — read as long and convert in load()
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
