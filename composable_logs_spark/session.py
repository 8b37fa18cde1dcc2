"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (single JVM); production intent is a
multi-executor cluster at ~100 TB, so every default here is chosen to
survive that scale-up: AQE on (runtime re-plan + skew-join handling),
shuffle partitions sized explicitly, Arrow enabled for the Pandas-UDF
slow path, UTC session timezone so results are stable across engines.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def driver_memory() -> str:
    """``SPARK_DRIVER_MEM`` if set, else half of physical RAM capped at
    48 GB: a heap the box cannot commit kills the JVM mid-run."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    ram_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // (1024 * 1024)
    return f"{min(ram_mb // 2, 48 * 1024)}m"


def get_spark(
    app_name: str = "composable_logs_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    On a real cluster the ``master`` is supplied by spark-submit; here we
    default to ``local[$SPARK_GRAFT_CPUS]``. ``shuffle_partitions``
    defaults to the core count locally — on a 1000-executor cluster this
    would instead be set to ~2-3x total cores, and AQE coalesces down.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # TIMESTAMP(NANOS) parquet (the events table) reads as long only
        # with the legacy flag; harmless for every other column type.
        # Set here so queries/_ensure_session_conf is a pure check for
        # sessions we build ourselves (r11 verdict hygiene item).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
