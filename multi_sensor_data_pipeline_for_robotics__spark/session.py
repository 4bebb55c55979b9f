"""SparkSession factory.

Defaults tuned for the test rig (single JVM ``local[N]``) but written so
the same code is correct on a real cluster: shuffle width follows core
count, AQE handles runtime coalescing/skew, session timezone is pinned to
UTC so timestamp semantics match the DuckDB oracle and parquet data, and
Arrow is enabled for every pandas interchange path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_session(
    app_name: str = "multi_sensor_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults.

    - ``spark.sql.shuffle.partitions`` ≈ cores locally; on a real cluster
      AQE coalesces post-shuffle partitions so a larger static value is
      also fine.
    - AQE on: runtime partition coalescing + skew-join splitting.
    - UTC session timezone: parquet timestamps compare bit-identically
      with the DuckDB oracle.
    - Generated-class cache of 8192 entries: each generated class is
      compiled once per JVM, not once per pass. Spark's default of 100
      entries is below the ~355 distinct classes the 18 headline
      queries generate, so its LRU evicted them all and every pass
      recompiled every class. 8192 covers the measured distinct-class
      count of the full test suite (6850) and of the oracle sweep
      (3792 at sf0.001). It is a static conf: it applies only to
      sessions this function creates, not to one already running that
      ``getOrCreate`` returns. ``extra_conf`` overrides it.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # timestamp-encoding confs pinned here so sources.load_table's
        # runtime conf sets are no-ops on engine-owned sessions (see its
        # docstring warning about caller-owned sessions)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
