"""Focused regression tests for the r14 optimization round's internal
changes: the edge-from-window as-of aggregates (exchange sharing), the
df-ordered prefix-filtered exact Jaccard plan, the narrow LSH band
join, backtick-quoted SQL identifiers, and ensure_parallelism's
logical-plan probe. Each pins an equivalence an optimization could
silently have broken."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from multi_sensor_data_pipeline_for_robotics__spark.operators import dedup as D
from multi_sensor_data_pipeline_for_robotics__spark.operators import sync as S


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_asof_edge_from_window_pad_backfill_carry(spark):
    """The per-bucket edge aggregates now read the fill-window output
    column; the cross-bucket carry (sparse buckets, many empty) must
    still transport the correct edge observation in both directions."""
    grid = S.time_grid(spark, _ts("2024-01-01 00:00:00"), _ts("2024-01-01 00:01:40"), step_ms=10_000)
    # observations only near the start and end: most buckets are empty,
    # so nearly every grid point is filled from the CARRY, not in-bucket
    sensor = spark.createDataFrame(
        [(_ts("2024-01-01 00:00:05"), 1.0), (_ts("2024-01-01 00:01:35"), 9.0)],
        "timestamp timestamp, x double",
    )
    pad = {
        r["timestamp"]: r["x"]
        for r in S.asof_align(grid, sensor, method="pad", num_buckets=16).collect()
    }
    bf = {
        r["timestamp"]: r["x"]
        for r in S.asof_align(grid, sensor, method="backfill", num_buckets=16).collect()
    }
    t0 = _ts("2024-01-01 00:00:00")
    for k in range(11):
        g = t0 + dt.timedelta(seconds=10 * k)
        assert pad[g] == (None if k == 0 else 1.0 if 10 * k < 95 else 9.0)
        assert bf[g] == (1.0 if 10 * k <= 5 else 9.0 if 10 * k <= 95 else None)


def test_asof_edge_equal_timestamp_two_sensors(spark):
    """Two sensors with observations at the SAME timestamp (the sort-tie
    case the window-output edge extraction must survive): each sensor's
    carry edge is its own payload, never the other's fill state."""
    grid = S.time_grid(spark, _ts("2024-01-01 00:00:00"), _ts("2024-01-01 00:00:50"), step_ms=10_000)
    t = _ts("2024-01-01 00:00:05")
    a = spark.createDataFrame([(t, 1.5)], "timestamp timestamp, x double")
    b = spark.createDataFrame([(t, 2.5)], "timestamp timestamp, y double")
    out = S.asof_align_multi(
        grid, {"a_": a, "b_": b}, method="nearest", num_buckets=8
    ).orderBy("timestamp").collect()
    assert [r["a_x"] for r in out] == [1.5] * 6
    assert [r["b_y"] for r in out] == [2.5] * 6


def test_ngram_prefix_filter_equals_full_join(spark, monkeypatch):
    """The df-ordered prefix-filtered plan must produce the exact pair
    set of the full inverted-index join at every threshold — including
    empty docs, exact duplicates, and sub-threshold pairs."""
    docs = [(i, f"w{i} x{i} y{i} z{i} common tail here now", ) for i in range(20)]
    docs += [(100, "a b c d e f g h"), (101, "a b c d e f g h"),  # exact dup
             (102, "a b c d e f q r"),                              # near dup
             (103, ""), (104, None)]                                # empty
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for thr in (0.3, 0.5, 0.9):
        monkeypatch.setenv("SPARK_GRAFT_NGRAM_PREFIX", "0")
        full = sorted(
            map(tuple, D.ngram_jaccard_pairs(df, n=3, threshold=thr, max_shingle_df=None).collect())
        )
        monkeypatch.setenv("SPARK_GRAFT_NGRAM_PREFIX", "1")
        pref = sorted(
            map(tuple, D.ngram_jaccard_pairs(df, n=3, threshold=thr, max_shingle_df=None).collect())
        )
        assert pref == full, f"threshold {thr}"


def test_minhash_narrow_band_join_equals_wide(spark, monkeypatch):
    """The ids-only band join (narrow scale regime) must produce the
    identical pair set and est_jaccard values as the wide form,
    including the signature-identical star and the bucket cap path."""
    docs = [(i, "alpha beta gamma delta epsilon zeta") for i in range(6)]  # identical
    docs += [(10 + i, f"doc {i} unique words here t{i} u{i} v{i}") for i in range(8)]
    docs += [(30, "alpha beta gamma delta epsilon eta")]  # near-dup of the clones
    df = spark.createDataFrame(docs, "doc_id long, text string")
    def run(flag, cap):
        monkeypatch.setenv("SPARK_GRAFT_MINHASH_NARROW", flag)
        return sorted(map(tuple, D.minhash_lsh_pairs(
            df, num_hashes=16, bands=4, threshold=0.3, shingle_n=2,
            max_bucket_size=cap,
        ).collect()))
    for cap in (0, 3):
        assert run("1", cap) == run("0", cap), f"cap {cap}"


def test_sql_identifier_quoting_weird_names(spark):
    """corr_matrix / summary_stats / map_events accept non-identifier
    column names (spaces, hyphens, reserved words) like the Column API
    did before the parsed-SQL rewrites."""
    from multi_sensor_data_pipeline_for_robotics__spark.plans.analytics import (
        corr_matrix,
        summary_stats,
    )

    df = spark.range(50).select(
        (F.col("id") * 1.0).alias("my-col"),
        (F.col("id") % 7 * 1.0).alias("my col"),
        (F.col("id") % 3 * 2.0).alias("select"),
    )
    cm = corr_matrix(df).collect()
    assert {(r["col_a"], r["col_b"]) for r in cm} == {
        ("my col", "my-col"), ("my col", "select"), ("my-col", "select")
    }
    st = summary_stats(df, cols=["my-col"]).collect()
    assert st[0]["column"] == "my-col" and st[0]["count"] == 50

    log = spark.createDataFrame(
        [(_ts("2024-01-01 00:00:00"), "err"), (_ts("2024-01-01 00:00:01"), "o'k")],
        "timestamp timestamp, `event type` string",
    )
    out = S.map_events(
        log,
        _ts("2024-01-01 00:00:00"),
        _ts("2024-01-01 00:00:02"),
        type_col="event type",
        event_types=["err", "o'k"],
    ).orderBy("timestamp").collect()
    assert out[0]["event_err"] == 1 and out[0]["event_o'k"] == 0


def test_ensure_parallelism_derived_frames(spark):
    """The logical-plan probe: shuffle-established frames pass through
    unchanged (no extra exchange, no physical-planning probe); narrow
    local relations still get the widening repartition."""
    from multi_sensor_data_pipeline_for_robotics__spark.sources.tables import (
        ensure_parallelism,
    )

    agg = spark.range(100).groupBy((F.col("id") % 10).alias("g")).count()
    assert ensure_parallelism(agg) is agg  # aggregate: already wide

    rng = spark.range(100)
    assert ensure_parallelism(rng) is rng  # Range: born parallel

    # RDD-backed leaves expose their existing partitioning with no
    # physical planning: a narrow checkpointed frame is widened, a
    # wide one passes through unchanged
    target = spark.sparkContext.defaultParallelism
    narrow = spark.range(50).coalesce(1).localCheckpoint(eager=True)
    wide_in = spark.range(50).repartition(target).localCheckpoint(eager=True)
    w1 = ensure_parallelism(narrow)
    assert w1 is not narrow
    assert "Repartition" in w1._jdf.queryExecution().logical().toString()
    assert ensure_parallelism(wide_in) is wide_in


def test_gate_and_dedup_barrier_values(spark, sf_dir):
    """The widening + pushdown-barrier restructure of _gate_and_dedup
    must not change which documents survive."""
    from multi_sensor_data_pipeline_for_robotics__spark.plans.selection import (
        _gate_and_dedup,
    )
    from multi_sensor_data_pipeline_for_robotics__spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    gated, surv = _gate_and_dedup(docs, "text", "doc_id")
    g, s = gated.count(), surv.count()
    assert 0 < s <= g <= docs.count()
    # survivors are unique by text and keep the min doc_id per text
    dup = surv.groupBy(F.sha2(F.col("text"), 256)).count().filter("count > 1")
    assert dup.count() == 0
