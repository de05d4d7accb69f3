"""SparkSession factory with the engine's standard tuning."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "local_cpus"]


def local_cpus() -> int:
    """Worker threads for ``local[N]``: ``$SPARK_GRAFT_CPUS`` when set,
    else the host's CPU count."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def get_spark(
    app: str = "htmlparser2-spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    conf: dict[str, str] | None = None,
) -> SparkSession:
    """``conf`` entries are applied last and override the defaults —
    creation-time only (getOrCreate ignores configs when a session
    already exists, as ever)."""
    cpus = local_cpus()
    builder = (
        SparkSession.builder.appName(app)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        # Arrow batching is the JVM<->Python boundary for every UDF; bound
        # batch memory so one batch of large documents can't balloon.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    for key, value in (conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
