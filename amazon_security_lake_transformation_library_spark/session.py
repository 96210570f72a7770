"""SparkSession factory with scale-appropriate defaults.

Every job/test goes through :func:`get_spark` so configs that matter at
100 TB (AQE, UTC, Arrow, shuffle sizing, skew-join) are uniform.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # Determinism: the reference parses epochs in local TZ (a bug,
    # transformation_function/app.py:75); we pin UTC everywhere.
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime re-plan, partition coalescing, skew joins.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas_udf / applyInPandas / toPandas crossing.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet vectorized reader + pushdown are on by default; keep explicit.
    "spark.sql.parquet.filterPushdown": "true",
    # keep partition-key types as written (eventDay stays the string
    # 'YYYYMMDD' per the reference's path contract, app.py:404)
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
    # zstd shuffle/spill compression: transcript rows are text-heavy and
    # zstd's ratio cuts cross-executor shuffle bytes ~3x vs lz4 — measured
    # 2.6x wall on the shuffle-bound window stage at 4 executors
    # (BASELINE.md §4.2); worth its small CPU premium on this data shape.
    "spark.io.compression.codec": "zstd",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(
    app_name: str = "asl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else ``*``).

    Two partition counts, because batch and streaming plans read different
    ones:

    * ``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` is
      ``shuffle_partitions``, default 2x the local parallelism (at least
      8). With AQE and coalescing on, every batch Exchange is planned this
      wide, and AQE coalesces small partitions at runtime. On a real
      cluster pass ``shuffle_partitions ~= 2-3x total cores``.
    * ``spark.sql.shuffle.partitions`` is the session's default
      parallelism, one task per core. Streaming runs without AQE, so this
      is the width of every stateful operator: one wave of Python tasks
      per micro-batch, each paying its worker's fixed cost once, and
      fewer, larger files per streaming commit. A checkpoint records the
      count it started with, and a restarted query keeps it.

    An explicit ``spark.sql.shuffle.partitions`` in ``extra_conf`` wins. On
    a cluster, the default parallelism counts only the executor cores
    registered when the session starts, so a streaming job there should
    pass its count explicitly.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            n = int(cpus) if cpus != "*" else (os.cpu_count() or 8)
        except ValueError:
            n = os.cpu_count() or 8
        shuffle_partitions = max(8, 2 * n)

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.adaptive.coalescePartitions.initialPartitionNum"] = str(
        shuffle_partitions
    )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if "spark.sql.shuffle.partitions" not in conf:
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(spark.sparkContext.defaultParallelism),
        )
    return spark
