"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]`` (default: the
cores this process may run on); the same
configs (AQE, Arrow, sane shuffle partitioning) are what we'd set on
a real cluster — only master/memory change. ``$SPARK_GRAFT_DRIVER_MEM``
sets the driver heap; it defaults to half of physical RAM, capped at
48g.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """Half of physical RAM, capped at 48g: in local mode the driver
    JVM is the whole executor, and a heap larger than the host lets
    it grow until the OOM killer ends it."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return "48g"
    return f"{max(1024, min(48 << 10, ram // 2 >> 20))}m"


def int_knob(name: str, default: int, positive: bool = False) -> int:
    """The integer in ``$name``, or ``default`` when it is unset or
    empty. Anything else that is not an integer, or not above 0 when
    ``positive``, raises ValueError naming the knob."""
    raw = os.environ.get(name, "")
    if not raw.strip():
        return default
    try:
        value = int(raw)
    except ValueError:
        value = None
    if value is None or (positive and value < 1):
        raise ValueError(f"{name} must be a positive integer, got {raw!r}")
    return value


def get_spark(app_name: str = "bfr_spark_engine", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int_knob("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)), positive=True)
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
    )
    if os.environ.get("SPARK_GRAFT_NO_PROGRESS"):
        # bench artifacts: keep stderr free of console progress bars
        builder = builder.config("spark.ui.showConsoleProgress", "false")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
