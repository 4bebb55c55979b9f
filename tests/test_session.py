"""Session-level behavior: the generated-class cache and shipping the
package's worker code to Python workers."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _janino_compiles(spark) -> int:
    """JVM-wide count of Janino compiles of generated classes."""
    cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_more_than_spark_default(spark):
    """150 distinct whole-stage classes (each literal is compiled into
    its class) outnumber Spark's default cache of 100, whose LRU would
    evict them all and recompile every one on the second round. The
    session's cache holds them, so the second round compiles nothing."""

    def one_round():
        for i in range(150):
            spark.range(3).select((F.col("id") * 1000 + i).alias("x")).collect()

    one_round()
    before = _janino_compiles(spark)
    one_round()
    assert _janino_compiles(spark) == before


def test_stateful_stream_runs_where_workers_cannot_import_package(tmp_path):
    """A driver outside the repo root, with the package importable only
    through its own ``sys.path``: the Python workers cannot import the
    package, so its worker functions must travel by value."""
    script = tmp_path / "driver.py"
    script.write_text(textwrap.dedent(f"""
        import datetime as dt
        import sys

        sys.path.insert(0, {REPO!r})

        from multi_sensor_data_pipeline_for_robotics__spark import get_session
        from multi_sensor_data_pipeline_for_robotics__spark.streaming.stateful import (
            locf_enrich,
        )

        spark = get_session(app_name="worker_import", shuffle_partitions=2)
        schema = "event_type string, ts timestamp, value double"
        t0 = dt.datetime(2024, 1, 1)
        rows = [("a", t0 + dt.timedelta(seconds=i), float(i)) for i in range(4)]
        src = {str(tmp_path / "src")!r}
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
        q = (
            locf_enrich(spark.readStream.schema(schema).parquet(src))
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("locf_out")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        print("ROWS", spark.table("locf_out").count())
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    res = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-4000:]
    assert "ROWS 4" in res.stdout
