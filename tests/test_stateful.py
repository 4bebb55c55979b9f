"""Stateful streaming LOCF: state must carry across micro-batches and
match the batch ``lag()`` result on the same data."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from multi_sensor_data_pipeline_for_robotics__spark.streaming import stateful as ST
from multi_sensor_data_pipeline_for_robotics__spark.streaming.stateful import (
    LOCF_OUTPUT_SCHEMA,
    locf_enrich,
)

T0 = dt.datetime(2024, 1, 1)


def _mk_rows(n, keys=("a", "b")):
    rows = []
    for i in range(n):
        for k in keys:
            rows.append((k, T0 + dt.timedelta(seconds=i * 2 + (0 if k == "a" else 1)), float(i * 10 + ord(k))))
    return rows


def test_locf_state_carries_across_microbatches(spark, tmp_path):
    rows = _mk_rows(10)
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    # two files = two micro-batches (maxFilesPerTrigger=1)
    half = T0 + dt.timedelta(seconds=9)
    src = str(tmp_path / "stream_src")
    df.filter(F.col("ts") <= half).coalesce(1).write.mode("append").parquet(src)
    df.filter(F.col("ts") > half).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("event_type string, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = locf_enrich(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("locf_test")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (r["key"], r["ts"]): (r["prev_ts"], r["prev_value"])
        for r in spark.table("locf_test").collect()
    }
    assert len(got) == len(rows)

    # batch oracle: lag() per key over the full data
    w = W.partitionBy("event_type").orderBy("ts")
    expected = df.select(
        "event_type",
        "ts",
        F.lag("ts").over(w).alias("prev_ts"),
        F.lag("value").over(w).alias("prev_value"),
    ).collect()
    for r in expected:
        pts, pv = got[(r["event_type"], r["ts"])]
        assert pts == r["prev_ts"], (r, pts)
        if r["prev_value"] is None:
            assert pv is None or pv != pv  # None or NaN for the first row
        else:
            assert abs(pv - r["prev_value"]) < 1e-12


def test_locf_schema(spark):
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(
            F.lit("k").alias("event_type"),
            F.col("timestamp").alias("ts"),
            F.col("value").cast("double"),
        )
    )
    out = locf_enrich(stream)
    assert out.isStreaming
    assert out.schema.simpleString() == (
        "struct<" + LOCF_OUTPUT_SCHEMA.replace(", ", ",").replace(" ", ":") + ">"
    )


def test_ewma_stream_state_carries_across_microbatches(spark, tmp_path):
    from multi_sensor_data_pipeline_for_robotics__spark.operators.timeseries import (
        ewma as batch_ewma,
    )
    from multi_sensor_data_pipeline_for_robotics__spark.streaming.stateful import (
        ewma_stream,
    )

    rows = _mk_rows(50)  # 100 rows across 2 keys — several W=8 windows
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    # three files = three micro-batches: outputs in batches 2-3 depend
    # on state carried from batch 1
    cut1 = T0 + dt.timedelta(seconds=30)
    cut2 = T0 + dt.timedelta(seconds=65)
    src = str(tmp_path / "ewma_src")
    df.filter(F.col("ts") <= cut1).coalesce(1).write.mode("append").parquet(src)
    df.filter((F.col("ts") > cut1) & (F.col("ts") <= cut2)).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    df.filter(F.col("ts") > cut2).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("event_type string, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = ewma_stream(stream, alpha=0.25, window_rows=8)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("ewma_stream_test")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (r.key, r.ts): r.ewma for r in spark.table("ewma_stream_test").collect()
    }
    want = {
        (r.key, r.ts): r.ewma
        for r in batch_ewma(
            df, "event_type", "ts", "value", alpha=0.25, window_rows=8
        ).collect()
    }
    assert len(got) == len(want) == 100
    assert got == want  # bit-identical: same summation order + round(6)


def test_kmv_stream_state_carries_and_matches_batch(spark, tmp_path):
    """Two micro-batches with OVERLAPPING values: the final per-key
    sketch must equal batch kmv_distinct over the union (associative,
    duplicate-insensitive merge), and batch_seq must show the state
    actually crossed the batch boundary."""
    from multi_sensor_data_pipeline_for_robotics__spark.functions.sketch import (
        kmv_distinct,
    )
    from multi_sensor_data_pipeline_for_robotics__spark.streaming.stateful import (
        kmv_stream,
    )

    rows = [("a", i % 40) for i in range(100)] + [("b", i % 300) for i in range(400)]
    df = spark.createDataFrame(rows, "k string, v long")
    src = str(tmp_path / "kmv_src")
    # overlapping halves -> re-delivered values must not inflate the sketch
    df.filter(F.col("v") < 220).coalesce(1).write.mode("append").parquet(src)
    df.filter(F.col("v") >= 150).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("k string, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = kmv_stream(stream, value_col="v", key_col="k", k=64)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("kmv_test")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    emitted = spark.table("kmv_test").collect()
    assert max(r["batch_seq"] for r in emitted) == 2  # two micro-batches ran
    final = {
        r["key"]: (r["approx_distinct"], r["sketch_m"])
        for r in sorted(emitted, key=lambda r: r["batch_seq"])
    }
    want = {
        r["k"]: (r["approx_distinct"], r["sketch_m"])
        for r in kmv_distinct(df, "v", k=64, group_col="k").collect()
    }
    assert final == want
    # key "a" has 40 < k distinct values -> exact path
    assert final["a"] == (40.0, 40)


def test_hist_stream_state_carries_and_matches_batch(spark, tmp_path):
    """Two micro-batches: the final per-key quantiles must equal batch
    histogram_quantiles over the union (associative bin-count merge)."""
    from multi_sensor_data_pipeline_for_robotics__spark.functions.sketch import (
        histogram_quantiles,
    )
    from multi_sensor_data_pipeline_for_robotics__spark.streaming.stateful import (
        hist_stream,
    )

    rows = [("a", float((i * 37) % 500)) for i in range(400)] + [
        ("b", float((i * 17) % 100)) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "k string, v double")
    src = str(tmp_path / "hist_src")
    df.filter(F.col("v") < 200).coalesce(1).write.mode("append").parquet(src)
    df.filter(F.col("v") >= 200).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("k string, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = hist_stream(
        stream, value_col="v", key_col="k", qs=(0.5, 0.9, 0.99),
        bins=2048, lo=0.0, hi=512.0,
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("hist_test")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    emitted = spark.table("hist_test").collect()
    assert max(r["batch_seq"] for r in emitted) == 2
    final = {}
    for r in sorted(emitted, key=lambda r: r["batch_seq"]):
        final[(r["key"], r["q"])] = r["quantile"]
    want = {
        (r["k"], r["q"]): r["quantile"]
        for r in histogram_quantiles(
            df, "v", qs=(0.5, 0.9, 0.99), bins=2048, group_col="k",
            lo=0.0, hi=512.0,
        ).collect()
    }
    assert final == want


def test_scd2_stream_fold_equals_batch_and_retries_are_noops(spark, tmp_path):
    """Three ts-ordered CDC micro-batches fold into the same dimension
    as one batch scd2_apply; reprocessing the whole stream against the
    advanced store (a fresh checkpoint replays every epoch — the
    at-least-once worst case) must change nothing thanks to the epoch
    guard."""
    import datetime as dtm

    from multi_sensor_data_pipeline_for_robotics__spark.operators.scd import (
        scd2_apply,
    )
    from multi_sensor_data_pipeline_for_robotics__spark.streaming.scd_stream import (
        read_current_dim,
        scd2_stream_to_parquet,
    )

    t = lambda m: dtm.datetime(2024, m, 1)
    dim = spark.createDataFrame(
        [(k, "a", t(1), None) for k in range(20)],
        "k long, attr string, valid_from timestamp, valid_to timestamp",
    )
    ups = [
        [(k, "b", t(3)) for k in range(0, 20, 2)],          # evens change
        [(k, "b", t(6)) for k in range(20)],                # no-op for evens
        [(k, "c", t(9)) for k in range(0, 20, 4)],          # every 4th again
    ]
    src = str(tmp_path / "cdc")
    for i, rows in enumerate(ups):
        spark.createDataFrame(
            rows, "k long, attr string, eff_ts timestamp"
        ).coalesce(1).write.mode("append").parquet(src)
        import os, time

        for f in os.listdir(src):
            if f.endswith(".parquet"):
                p = os.path.join(src, f)
                if os.path.getmtime(p) > time.time() - 5:
                    os.utime(p, (1700000000 + i, 1700000000 + i))

    def run(ckpt):
        stream = (
            spark.readStream.schema("k long, attr string, eff_ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = scd2_stream_to_parquet(
            stream, dim, str(tmp_path / "dim"), str(tmp_path / ckpt),
            "k", ["attr"],
        )
        q.processAllAvailable()
        q.stop()

    run("ckpt1")
    got = sorted(map(tuple, read_current_dim(spark, str(tmp_path / "dim")).collect()))
    allups = spark.createDataFrame(
        [r for rows in ups for r in rows], "k long, attr string, eff_ts timestamp"
    )
    want = sorted(map(tuple, scd2_apply(dim, allups, "k", ["attr"]).collect()))
    assert got == want

    run("ckpt2")  # full replay, fresh checkpoint -> every epoch retried
    again = sorted(map(tuple, read_current_dim(spark, str(tmp_path / "dim")).collect()))
    assert again == got


def test_kmv_stream_nulls_match_batch(spark, tmp_path):
    """Null values must contribute NOTHING to the streaming sketch —
    batch kmv_distinct hashes md5(cast(NULL as string)) = NULL, so a
    str(None)='None' phantom hash would diverge the estimates."""
    from multi_sensor_data_pipeline_for_robotics__spark.functions.sketch import (
        kmv_distinct,
    )
    from multi_sensor_data_pipeline_for_robotics__spark.streaming.stateful import (
        kmv_stream,
    )

    rows = [("a", i % 30 if i % 5 else None) for i in range(100)]
    df = spark.createDataFrame(rows, "k string, v long")
    src = str(tmp_path / "kmv_null_src")
    df.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("k string, v long").parquet(src)
    out = kmv_stream(stream, value_col="v", key_col="k", k=64)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("kmv_null_test")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        r["key"]: (r["approx_distinct"], r["sketch_m"])
        for r in spark.table("kmv_null_test").collect()
    }
    want = {
        r["k"]: (r["approx_distinct"], r["sketch_m"])
        for r in kmv_distinct(df, "v", k=64, group_col="k").collect()
    }
    assert got == want
    # 24 non-null distinct values (i%5!=0 -> i%30 hits 24 residues): exact path
    assert got["a"][1] < 64


def test_user_rfm_stream_state_carries_and_matches_batch(spark, tmp_path):
    """Two micro-batches split mid-user: the final per-user feature row
    must equal batch user_activity_features over the union (counters
    add, extrema min/max, decimal micro-unit sum exact)."""
    import datetime as dt

    from multi_sensor_data_pipeline_for_robotics__spark.plans.stats import (
        user_activity_features,
    )
    from multi_sensor_data_pipeline_for_robotics__spark.streaming.stateful import (
        user_features_stream,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=i), i % 3, f"t{i % 2}", float(i) + 0.25)
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    src = str(tmp_path / "rfm_src")
    df.filter(F.col("event_id") < 30).coalesce(1).write.mode("append").parquet(src)
    df.filter(F.col("event_id") >= 30).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = user_features_stream(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("rfm_test")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    emitted = spark.table("rfm_test").collect()
    assert max(r["batch_seq"] for r in emitted) == 2
    final = {
        r["user_id"]: (
            r["n_events"], r["n_event_types"], r["first_us"], r["last_us"],
            r["total_value"], r["avg_value"], r["events_per_day"],
        )
        for r in sorted(emitted, key=lambda r: r["batch_seq"])
    }
    from multi_sensor_data_pipeline_for_robotics__spark.functions.timeutil import (
        ts_us,
    )

    batch = user_activity_features(df)
    want = {
        str(r["user_id"]): (
            r["n_events"], r["n_event_types"],
            r["first_us"], r["last_us"],
            r["total_value"], r["avg_value"], r["events_per_day"],
        )
        for r in batch.withColumn("first_us", ts_us(F.col("first_ts")))
        .withColumn("last_us", ts_us(F.col("last_ts")))
        .collect()
    }
    assert final == want


def test_benford_stream_state_carries_and_matches_batch(spark, tmp_path):
    """Two micro-batches: the final per-key digit counts must equal the
    batch benford_audit counts over the union (additive counters), and
    batch_seq must show the state crossed the batch boundary."""
    from multi_sensor_data_pipeline_for_robotics__spark.plans.assoc import (
        benford_audit,
    )
    from multi_sensor_data_pipeline_for_robotics__spark.streaming.stateful import (
        benford_stream,
    )

    rows = [("a", float(v)) for v in [123.45, 19.99, 2.5, 999.0, 0.0, -3.0]]
    rows += [("b", float(v)) for v in [7.77, 81.0, 0.93, 111.1]]
    df = spark.createDataFrame(rows, "k string, v double")
    src = str(tmp_path / "benford_src")
    df.limit(5).coalesce(1).write.mode("append").parquet(src)
    df.subtract(df.limit(5)).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("k string, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = benford_stream(stream, value_col="v", key_col="k")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("benford_test")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    emitted = spark.table("benford_test").collect()
    assert max(r["batch_seq"] for r in emitted) == 2
    final = {}
    for r in sorted(emitted, key=lambda r: r["batch_seq"]):
        final[(r["key"], r["digit"])] = r["n_d"]
    for key in ("a", "b"):
        want = {
            r.digit: r.n_d
            for r in benford_audit(
                df.filter(F.col("k") == key), "v", scale=1_000_000
            ).collect()
        }
        got = {d: final[(key, d)] for d in range(1, 10)}
        assert got == want, key


def test_sequence_stream_matches_across_batch_boundary(spark, tmp_path):
    """A pattern occurrence whose steps SPAN the micro-batch boundary
    must emit exactly once (completed via the carried tail), and
    matches wholly inside batch 1 must not re-emit in batch 2."""
    import datetime as dt

    from multi_sensor_data_pipeline_for_robotics__spark.operators.sequence import (
        match_sequence,
    )
    from multi_sensor_data_pipeline_for_robotics__spark.streaming.stateful import (
        sequence_stream,
    )

    t0 = dt.datetime(2024, 1, 1)

    def _rows(specs, eid0):
        return [
            (u, t0 + dt.timedelta(seconds=s), et, eid0 + i)
            for i, (u, s, et) in enumerate(specs)
        ]

    schema = "u long, ts timestamp, et string, eid long"
    # batch 1: a full A,B (match inside batch) then a dangling A
    b1 = spark.createDataFrame(
        _rows([(1, 0, "A"), (1, 10, "B"), (1, 20, "A")], 0), schema
    )
    # batch 2: the B completing the dangling A across the boundary
    b2 = spark.createDataFrame(_rows([(1, 30, "B")], 10), schema)
    src = str(tmp_path / "seq_src")
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = sequence_stream(
        stream, "u", "ts", "et", ["A", "B"], max_gap_ms=60_000,
        tiebreak_col="eid",
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("seq_stream_test")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = sorted(
        (r["key"], r["duration_ms"])
        for r in spark.table("seq_stream_test").collect()
    )
    want = sorted(
        (str(r.key), r.duration_ms)
        for r in match_sequence(
            b1.union(b2), "u", "ts", "et", ["A", "B"], 60_000,
            tiebreak_col="eid",
        ).collect()
    )
    assert got == want == [("1", 10_000), ("1", 10_000)]


def test_mixture_stream_counts_carry_across_batches(spark, tmp_path):
    """Two micro-batches: final per-source counters equal batch group
    counts over the union (additive state)."""
    from multi_sensor_data_pipeline_for_robotics__spark.streaming.stateful import (
        mixture_stream,
    )

    rows = [("s0",)] * 6 + [("s1",)] * 3 + [("s2",)] * 1
    df = spark.createDataFrame(rows, "src string")
    srcdir = str(tmp_path / "mix_src")
    df.limit(5).coalesce(1).write.mode("append").parquet(srcdir)
    df.subtract(df.limit(5))  # not used; write complementary rows below
    spark.createDataFrame(rows[5:], "src string").coalesce(1).write.mode(
        "append"
    ).parquet(srcdir)

    stream = (
        spark.readStream.schema("src string")
        .option("maxFilesPerTrigger", 1)
        .parquet(srcdir)
    )
    out = mixture_stream(stream, "src")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("mix_test")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    emitted = spark.table("mix_test").collect()
    assert max(r["batch_seq"] for r in emitted) == 2
    final = {}
    for r in sorted(emitted, key=lambda r: r["batch_seq"]):
        final[r["key"]] = r["n"]
    assert sum(final.values()) == 10
    assert final["s0"] + final["s1"] + final["s2"] == 10
    # exact per-source totals equal the batch group count
    want = {r["src"]: r["cnt"] for r in
            spark.read.parquet(srcdir).groupBy("src")
            .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert final == want


def test_locf_and_ewma_sort_the_whole_microbatch(spark, tmp_path):
    """One key's micro-batch reaches the state function as several
    Arrow chunks in no particular order: LOCF and EWMA must sort the
    whole batch, not each chunk (300 rows written newest first, Arrow
    batches of 50 rows)."""
    from multi_sensor_data_pipeline_for_robotics__spark.operators.timeseries import (
        ewma as batch_ewma,
    )

    rows = [("a", T0 + dt.timedelta(seconds=i), float(i % 37)) for i in range(300)]
    df = spark.createDataFrame(rows[::-1], "event_type string, ts timestamp, value double")
    src = str(tmp_path / "chunked_src")
    df.coalesce(1).write.parquet(src)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "50")
    try:
        for name, op in (
            ("chunk_locf", locf_enrich),
            ("chunk_ewma", lambda s: ST.ewma_stream(s, window_rows=4)),
        ):
            stream = spark.readStream.schema(
                "event_type string, ts timestamp, value double"
            ).parquet(src)
            q = op(stream).writeStream.format("memory").queryName(name).start()
            q.processAllAvailable()
            q.stop()
    finally:
        spark.conf.set(key, old)

    w = W.partitionBy("event_type").orderBy("ts")
    want = {
        r["ts"]: r["prev_value"]
        for r in df.select("ts", F.lag("value").over(w).alias("prev_value")).collect()
    }
    got = {r["ts"]: r["prev_value"] for r in spark.table("chunk_locf").collect()}
    got[T0] = None if got[T0] != got[T0] else got[T0]  # first row: NaN
    assert got == want
    want = {
        r["ts"]: r["ewma"]
        for r in batch_ewma(df, "event_type", "ts", "value", window_rows=4).collect()
    }
    assert {r["ts"]: r["ewma"] for r in spark.table("chunk_ewma").collect()} == want


_BAD_STREAM_CALLS = {
    "kmv_k0": (lambda s, ref: ST.kmv_stream(s, "v", "k", k=0), "k must be"),
    "top_k_k0": (
        lambda s, ref: ST.top_k_frequent_stream(s, "v", "k", k=0), "k must be"
    ),
    "hist_bins0": (lambda s, ref: ST.hist_stream(s, "v", "k", bins=0), "bins"),
    "hist_hi_eq_lo": (
        lambda s, ref: ST.hist_stream(s, "v", "k", lo=5.0, hi=5.0), "hi > lo"
    ),
    "hist_q0": (lambda s, ref: ST.hist_stream(s, "v", "k", qs=(0.0,)), "outside"),
    "hist_q_above_1": (
        lambda s, ref: ST.hist_stream(s, "v", "k", qs=(0.5, 1.5)), "outside"
    ),
    "drift_bins0": (
        lambda s, ref: ST.drift_stream(s, "v", "k", ref, bins=0), "bins"
    ),
    "drift_hi_below_lo": (
        lambda s, ref: ST.drift_stream(s, "v", "k", ref, lo=1.0, hi=0.0),
        "hi > lo",
    ),
    "cms_depth0": (
        lambda s, ref: ST.cms_stream(s, "v", "k", ("1",), depth=0), "depth"
    ),
    "cms_width0": (
        lambda s, ref: ST.cms_stream(s, "v", "k", ("1",), width=0), "width"
    ),
    "ewma_window0": (
        lambda s, ref: ST.ewma_stream(s, "k", "ts", "v", window_rows=0),
        "window_rows",
    ),
    "sequence_one_step": (
        lambda s, ref: ST.sequence_stream(s, "k", "ts", "et", ["A"], 1000, "id"),
        "at least 2 steps",
    ),
    "sequence_negative_gap": (
        lambda s, ref: ST.sequence_stream(s, "k", "ts", "et", ["A", "B"], -1, "id"),
        "max_gap_ms",
    ),
}


@pytest.mark.parametrize("case", sorted(_BAD_STREAM_CALLS))
def test_bad_stream_args_raise_before_any_query_or_job(spark, case):
    """Stream twins reject bad sketch, window and pattern arguments with
    a ValueError before any Spark job or streaming query starts — not
    a worker crash, NaN output, silently empty output or unbounded
    state once the query runs."""
    stream = spark.readStream.format("rate").load().select(
        F.lit("k").alias("k"),
        F.col("timestamp").alias("ts"),
        F.col("value").cast("double").alias("v"),
        F.col("value").alias("id"),
        F.lit("A").alias("et"),
    )
    # collecting this reference histogram needs a Spark job
    ref = spark.range(4).select(
        F.col("id").cast("int").alias("bin"), F.lit(1).cast("long").alias("cnt")
    )
    call, match = _BAD_STREAM_CALLS[case]
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    with pytest.raises(ValueError, match=match):
        call(stream, ref)
    assert set(tracker.getJobIdsForGroup(None)) == before
    assert spark.streams.active == []
