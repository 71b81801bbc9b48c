"""SparkSession factory with the engine's standard configuration.

Local mode here; on a real cluster the same builder flags ride along with
``spark-submit --py-files`` (scripts/submit_crawl.sh). Arrow is mandatory —
every Python-side operator in this engine is a vectorized pandas/Arrow UDF
(BASELINE.json input_hint: "no per-row Python").
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "rcspark", cores: int | None = None) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: the driver heap IS the executor heap — size it for
        # 32 concurrent tasks' shuffle+Arrow buffers (host has 128 GiB;
        # 8g measurably GC-thrashes at local[32], see BENCH/SCALING.md)
        .config("spark.driver.memory", os.environ.get("RCSPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .getOrCreate()
    )
