"""Idempotent epoch-partitioned parquet sinks for ``foreachBatch``.

foreachBatch is at-least-once: a failed micro-batch is retried under
the same epoch id, so a plain append would land its rows twice. Each
epoch's rows land instead as partition ``epoch_id=N`` with dynamic
partition overwrite — a retry of epoch N rewrites only ``epoch_id=N``
(the standard parquet-sink recipe; transactional table formats do this
natively). State an epoch carries forward is read back from the epochs
before N, which no attempt of N ever touches, so a retry recomputes
the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multi_sensor_data_pipeline_for_robotics__spark.sources.models import _hadoop_fs


def write_epoch(df: DataFrame, path: str, epoch_id: int) -> None:
    """Land ``df`` as partition ``epoch_id`` of the parquet table at
    ``path``, replacing that partition and no other."""
    (
        df.withColumn("epoch_id", F.lit(int(epoch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch_id")
        .parquet(path)
    )


def read_epochs_before(
    spark: SparkSession, path: str, schema: str, epoch_id: int
) -> DataFrame | None:
    """The rows of every epoch before ``epoch_id`` in the table at
    ``path``, with their ``epoch_id`` column; None when nothing has
    landed there yet.

    The existence probe is explicit, NOT a broad try/except around the
    read: a transient read error must FAIL the batch (foreachBatch
    retries it) rather than pass as "no prior state". The read carries
    the explicit ``schema`` (the data columns, without ``epoch_id``),
    so a directory with no matching rows reads as empty instead of
    failing schema inference.
    """
    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return None
    return (
        spark.read.schema(schema + ", epoch_id int")
        .parquet(path)
        .filter(F.col("epoch_id") < int(epoch_id))
    )
