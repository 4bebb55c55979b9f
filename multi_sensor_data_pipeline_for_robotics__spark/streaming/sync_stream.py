"""Structured Streaming surface of the sensor pipeline.

The reference is strictly batch (Streamlit re-runs, app.py:19-26), but
its data is streaming-shaped: 30/50 Hz sensors + an irregular event log.
This module maps the batch semantics onto streams:

  grid alignment (O13/O14)  →  tumbling-window aggregation: per window,
                               the LAST observation (max_by ts) — the
                               streaming-safe LOCF analog. `nearest`
                               needs future data, but a TOLERANCE
                               bounds the peek, so it is offered too
                               (`windowed_nearest_align`: watermark
                               delayed by the tolerance; SURVEY §7
                               "hard parts" #5). Unbounded nearest /
                               backfill remain batch-only.
  event one-hot (O16)       →  the same closed-form nearest-grid-point
                               arithmetic (stateless projection!) +
                               windowed MAX one-hot with a watermark for
                               late events.
  synchronized wide table   →  foreachBatch joining the two aligned
                               aggregates per epoch, reusing batch
                               operators exactly.

Scale notes: the one-hot mapping stays a narrow stateless projection —
no stream-stream join state at all; the windowed aggs carry one row of
state per (window) and are dropped at the watermark. State size is
bounded by (watermark horizon / step), independent of input rate.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from multi_sensor_data_pipeline_for_robotics__spark.operators.sync import nearest_grid_ts
from multi_sensor_data_pipeline_for_robotics__spark.functions.timeutil import ts_us

def read_events_stream(
    spark: SparkSession, sf_dir: str, glob: str = "events.parquet"
) -> DataFrame:
    """File-source stream over the events parquet (tests / local smoke;
    production would be Kafka with the same downstream plan). The file
    source wants a DIRECTORY, so we stream the sf dir with a glob
    filter.

    The stream schema (file sources require one up front) is taken from
    a batch footer read of the same files, so the ``ts`` encoding is
    whatever the data actually uses — int64 nanos (older driver data)
    or µs TIMESTAMP_NTZ — and is normalized to plain TimestampType
    exactly like the batch loader (``sources/tables.py``)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = spark.read.parquet(f"{sf_dir}/{glob}").schema
    df = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", glob)
        .parquet(sf_dir)
    )
    for f in schema.fields:
        if f.name == "ts" and isinstance(f.dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def windowed_sensor_align(
    stream: DataFrame,
    step_ms: int = 60_000,
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Streaming analog of grid alignment: per tumbling window, the last
    observation (max_by over event time). Output: window start as the
    grid timestamp + the aligned value + observation count."""
    w = F.window(F.col(ts_col), f"{step_ms} milliseconds")
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(w.alias("win"))
        .agg(
            F.max_by(F.col(value_col), F.col(ts_col)).alias(value_col),
            F.max(ts_col).alias("matched_ts"),
            F.count(F.lit(1)).alias("n_obs"),
        )
        .select(F.col("win.start").alias("timestamp"), value_col, "matched_ts", "n_obs")
    )


def event_onehot_stream(
    stream: DataFrame,
    anchor: dt.datetime,
    n_grid: int,
    step_ms: int = 60_000,
    tolerance_ms: int = 30_000,
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    type_col: str = "event_type",
    event_types: list[str] | None = None,
) -> DataFrame:
    """O16 on a stream: the nearest-grid assignment is pure arithmetic
    (stateless, no join); only the per-grid-point MAX one-hot needs
    windowed state. ``anchor``/``n_grid`` pin the grid (must be known,
    e.g. from the batch bootstrap)."""
    step_us, tol_us = step_ms * 1000, tolerance_ms * 1000
    if anchor.tzinfo is None:
        anchor = anchor.replace(tzinfo=dt.timezone.utc)
    start_us = int(anchor.timestamp() * 1_000_000)
    mapped = stream.withColumn(
        "grid_ts", nearest_grid_ts(F.col(ts_col), start_us, step_us, n_grid)
    ).filter(
        F.abs(ts_us(F.col("grid_ts")) - ts_us(F.col(ts_col))) < tol_us
    )
    types = event_types or []
    aggs = [
        F.max(F.when(F.col(type_col) == t, 1).otherwise(0)).alias(f"event_{t}")
        for t in types
    ]
    return (
        mapped.withWatermark(ts_col, watermark)
        .groupBy("grid_ts")
        .agg(*aggs)
        .withColumnRenamed("grid_ts", "timestamp")
    )


def windowed_asof_align(
    stream: DataFrame,
    anchor: dt.datetime,
    n_grid: int,
    step_ms: int = 60_000,
    tolerance_ms: int = 30_000,
    late_ms: int = 600_000,
    method: str = "nearest",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Streaming tolerance-bounded as-of alignment — including the
    ``nearest`` and ``backfill`` methods the module header previously
    ruled out as not watermark-safe. They ARE safe once a tolerance
    bounds the future-peek: grid point g can only match observations in
    [g - tol, g + tol] (``nearest``), [g, g + tol] (``backfill``) or
    [g - tol, g] (``pad``), so after the event-time watermark passes
    the window's right edge the winner is final.

    Plan shape (all incremental-supported):
      1. stateless expansion: each observation explodes to the grid
         points whose candidate window contains it — at most
         ``2*tol/step + 1`` rows, a constant fan-out independent of
         data volume;
      2. one windowed aggregation keyed on the grid timestamp:
         ``min_by`` over (distance, -obs_ts, -value) picks the winner.
         For ``nearest`` that is the closest observation, exact-distance
         ties to the LATER observation; for ``pad``/``backfill``
         minimum distance IS the latest-before / earliest-after
         observation. Equal-timestamp duplicates tie to the larger
         value — identical to the batch ``asof_align`` tie rules over
         a max-deduplicated series.

    The watermark is declared on the DERIVED grid timestamp with delay
    ``late_ms + 2 * tolerance_ms``. Two tolerance terms, not one: an
    observation ``late_ms`` late must still feed grid points up to
    ``tolerance_ms`` BEFORE it (backward reach, the first ``tol``),
    but the watermark clock itself runs on the expanded grid_ts — an
    on-time observation advances it by its FORWARD candidates up to
    ``obs_ts + tolerance_ms`` (the second ``tol``). With only one
    ``tol`` the effective allowed lateness for backward grid points
    would be ``late_ms - tolerance_ms``: an observation exactly
    ``late_ms`` late would find those rows already finalized, breaking
    the batch-parity contract. State is one candidate row per open
    grid point — bounded by (late_ms + 2·tol) / step, independent of
    input rate.

    Late-vs-batch divergence: observations later than ``late_ms`` are
    dropped by the watermark (batch, seeing everything, would use
    them) — the standard streaming trade, same stance as the windowed
    LOCF align. Within the horizon, output rows equal the batch
    operator's non-null within-tolerance rows (grid points with NO
    observation inside the tolerance emit nothing on a stream; batch
    emits a null row).
    """
    if method not in ("nearest", "pad", "backfill"):
        raise ValueError(f"unknown streaming as-of method: {method}")
    step_us, tol_us = step_ms * 1000, tolerance_ms * 1000
    if anchor.tzinfo is None:
        anchor = anchor.replace(tzinfo=dt.timezone.utc)
    start_us = int(anchor.timestamp() * 1_000_000)
    t = ts_us(F.col(ts_col))
    d = t - F.lit(start_us)
    # candidate grid-index window per method: the obs at offset d feeds
    # grid points k with g in [t - tol, t + tol] clipped by direction.
    # magnitudes are session-scale µs deltas (« 2^53), so double
    # floor/ceil are exact
    # pad: obs feeds grids in [t, t+tol]; backfill: [t-tol, t];
    # nearest: [t-tol, t+tol]
    lo_off = 0 if method == "pad" else tol_us
    hi_off = 0 if method == "backfill" else tol_us
    k_lo = F.greatest(F.ceil((d - lo_off) / F.lit(step_us)), F.lit(0))
    k_hi = F.least(
        F.floor((d + hi_off) / F.lit(step_us)), F.lit(n_grid - 1)
    )
    cand = (
        stream.filter(k_lo <= k_hi)
        .select(
            F.col(ts_col).alias("obs_ts"),
            F.col(value_col).cast("double").alias("value"),
            F.explode(F.sequence(k_lo, k_hi)).alias("k"),
        )
        .withColumn(
            "grid_ts",
            F.timestamp_micros(F.lit(start_us) + F.col("k") * step_us),
        )
        .withColumn(
            "dist", F.abs(ts_us(F.col("grid_ts")) - ts_us(F.col("obs_ts")))
        )
        .filter(F.col("dist") <= tol_us)
    )
    best = F.min_by(
        F.struct(F.col("value"), F.col("obs_ts")),
        F.struct(
            F.col("dist"),
            (-ts_us(F.col("obs_ts"))).alias("later_wins"),
            (-F.col("value")).alias("larger_wins"),
        ),
    ).alias("best")
    return (
        cand.withWatermark(
            "grid_ts", f"{late_ms + 2 * tolerance_ms} milliseconds"
        )
        .groupBy("grid_ts")
        .agg(best)
        .select(
            F.col("grid_ts").alias("timestamp"),
            F.col("best.value").alias("value"),
            F.col("best.obs_ts").alias("matched_ts"),
        )
    )


# round-6 first name for the nearest-only operator, kept as an alias
def windowed_nearest_align(*args, **kwargs) -> DataFrame:
    return windowed_asof_align(*args, **kwargs)


def run_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "complete"
) -> None:
    """Drive a (bounded) streaming query to completion synchronously
    into an in-memory table — the local smoke path."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def sync_wide_to_parquet(
    events_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    camera_type: str = "click",
    motion_type: str = "view",
    log_types: tuple[str, ...] = ("error", "signup"),
    method: str = "pad",
    step_ms: int = 60_000,
    tolerance_ms: int = 120_000,
) -> "object":
    """Full flagship pipeline as a stream: each micro-batch is split
    into camera/motion/log frames and pushed through the BATCH
    ``synchronize`` operator, appending the synchronized wide table to
    parquet. One implementation serves both execution modes — the
    foreachBatch boundary is where Structured Streaming hands a bounded
    DataFrame back to the batch planner.

    Note the per-batch window: alignment is computed within each
    micro-batch's overlap (bounded state, replayable via checkpointed
    batch ids). Cross-batch carry of the last observation is the
    ``stateful.locf_enrich`` primitive; compose it upstream when
    batches are too fine for self-contained windows.

    Delivery is at-least-once: foreachBatch retries a failed epoch and
    the write appends, so a retry can land that epoch's rows twice. The
    idempotent recipe is the epoch-partitioned sink
    (``streaming.epoch_sink``, used by ``stream_corpus_screen_to_parquet``).
    """
    from pyspark.sql import functions as F

    from multi_sensor_data_pipeline_for_robotics__spark.operators.sync import synchronize

    def write_batch(df: DataFrame, epoch_id: int) -> None:
        cam = (
            df.filter(F.col("event_type") == camera_type)
            .groupBy(F.col("ts").alias("timestamp"))
            .agg(F.max("value").alias("x"))
        )
        mot = (
            df.filter(F.col("event_type") == motion_type)
            .groupBy(F.col("ts").alias("timestamp"))
            .agg(F.max("value").alias("y"))
        )
        log = df.filter(F.col("event_type").isin(*log_types)).select(
            F.col("ts").alias("timestamp"), "event_type"
        )
        res = synchronize(
            cam, mot, log, method=method, step_ms=step_ms,
            tolerance_ms=tolerance_ms, event_types=list(log_types),
        )
        if res.df is not None:
            res.df.write.mode("append").parquet(out_path)

    return (
        events_stream.writeStream.outputMode("append")
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def sync_to_parquet(
    cam_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    step_ms: int = 60_000,
) -> "object":
    """foreachBatch sink: each micro-batch is aligned with the BATCH
    operators and appended as parquet; the batch/streaming code paths
    share one implementation. At-least-once, like
    :func:`sync_wide_to_parquet`: a retried epoch appends again — the
    epoch-partitioned sinks (``streaming.epoch_sink``) are the
    idempotent recipe."""
    aligned = windowed_sensor_align(cam_stream, step_ms)

    def write_batch(df: DataFrame, epoch_id: int) -> None:
        df.write.mode("append").parquet(out_path)

    return (
        aligned.writeStream.outputMode("append")
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
