from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from multi_sensor_data_pipeline_for_robotics__spark.operators import sync as S
from tests._pandas_reference import (
    clean_pd,
    make_camera,
    make_log,
    make_motion,
    synchronize_pd,
)


def _sorted(pdf, by="timestamp"):
    return pdf.sort_values(by).reset_index(drop=True)


def test_time_grid_matches_date_range(spark):
    start = dt.datetime(2024, 1, 1)
    end = dt.datetime(2024, 1, 1, 0, 0, 10)
    got = S.time_grid(spark, start, end, 33).toPandas()["timestamp"]
    want = pd.date_range(start, end, freq="33ms")
    assert len(got) == len(want)
    assert list(got.sort_values()) == list(want)


def test_overlap_window(spark):
    cam = spark.createDataFrame(make_camera())
    mot = spark.createDataFrame(make_motion())
    start, end = S.overlap_window(cam, mot)
    # motion starts +50ms after camera; camera spans ~16.6s, motion ~12s
    assert start == dt.datetime(2024, 1, 1, 0, 0, 0, 50000)
    assert end < dt.datetime(2024, 1, 1, 0, 0, 13)


@pytest.mark.parametrize("method", ["pad", "backfill", "nearest"])
def test_asof_align_matches_pandas_reindex(spark, method):
    pdf = clean_pd(make_camera(), "camera")
    sensor = spark.createDataFrame(pdf)
    start, end = pdf["timestamp"].iloc[0], pdf["timestamp"].iloc[-1]
    grid = S.time_grid(spark, start.to_pydatetime(), end.to_pydatetime(), 33)
    got = (
        S.asof_align(grid, sensor, method=method, num_buckets=7)
        .drop("__matched_ts")
        .toPandas()
    )
    gridx = pd.date_range(start, end, freq="33ms")
    want = pdf.set_index("timestamp").reindex(gridx, method=method)
    want.insert(0, "timestamp", gridx)
    want = want.reset_index(drop=True)
    pd.testing.assert_frame_equal(
        _sorted(got)[want.columns], _sorted(want), check_dtype=False, rtol=1e-12
    )


def test_asof_pad_exact_match_and_edges(spark):
    sensor = spark.createDataFrame(
        pd.DataFrame(
            {"timestamp": pd.to_datetime(["2024-01-01 00:00:01", "2024-01-01 00:00:03"]),
             "v": [10.0, 30.0]}
        )
    )
    grid = spark.createDataFrame(
        pd.DataFrame({"timestamp": pd.to_datetime(
            ["2024-01-01 00:00:00", "2024-01-01 00:00:01", "2024-01-01 00:00:02",
             "2024-01-01 00:00:03", "2024-01-01 00:00:04"])})
    )
    got = S.asof_align(grid, sensor, method="pad", num_buckets=3).toPandas()
    got = _sorted(got)
    assert got["v"].tolist()[0] != got["v"].tolist()[0] or np.isnan(got["v"][0])  # before first -> null
    assert got["v"].tolist()[1:] == [10.0, 10.0, 30.0, 30.0]


def test_asof_nearest_midpoint_tie_matches_pandas(spark):
    pdf = pd.DataFrame(
        {"timestamp": pd.to_datetime(["2024-01-01 00:00:00", "2024-01-01 00:00:02"]),
         "v": [1.0, 2.0]}
    )
    sensor = spark.createDataFrame(pdf)
    gridx = pd.to_datetime(["2024-01-01 00:00:01"])
    grid = spark.createDataFrame(pd.DataFrame({"timestamp": gridx}))
    got = S.asof_align(grid, sensor, method="nearest", num_buckets=2).toPandas()
    want = pdf.set_index("timestamp").reindex(gridx, method="nearest")
    # pandas (monotonic index) resolves exact-midpoint ties to the LATER obs
    assert got["v"].tolist() == want["v"].tolist() == [2.0]


def test_map_events_tolerance_strict(spark):
    start = dt.datetime(2024, 1, 1)
    end = dt.datetime(2024, 1, 1, 0, 0, 10)
    log = spark.createDataFrame(
        pd.DataFrame(
            {
                "timestamp": pd.to_datetime(
                    [
                        "2024-01-01 00:00:01.000",   # on grid point? 1s/33ms -> nearest
                        "2024-01-01 00:00:05.100",   # 100ms past 5.049 grid pt? within tol of nearest
                        "2024-01-01 00:00:20.000",   # far beyond grid end -> clamped, out of tol
                    ]
                ),
                "event_type": ["A", "B", "A"],
            }
        )
    )
    got = S.map_events(log, start, end, step_ms=33, tolerance_ms=100).toPandas()
    # the far event must be excluded; both in-range events mapped once
    assert got[[c for c in got.columns if c.startswith("event_")]].to_numpy().sum() == 2


def test_map_events_duplicate_same_type_yields_one(spark):
    start = dt.datetime(2024, 1, 1)
    end = dt.datetime(2024, 1, 1, 0, 0, 1)
    log = spark.createDataFrame(
        pd.DataFrame(
            {
                "timestamp": pd.to_datetime(
                    ["2024-01-01 00:00:00.500", "2024-01-01 00:00:00.501"]
                ),
                "event_type": ["A", "A"],
            }
        )
    )
    got = S.map_events(log, start, end, step_ms=500, tolerance_ms=100).toPandas()
    assert got["event_A"].max() == 1
    assert got["event_A"].sum() == 1


@pytest.mark.parametrize("method", ["pad", "nearest"])
def test_full_synchronize_matches_pandas(spark, method):
    cam_p = clean_pd(make_camera(), "camera")
    mot_p = clean_pd(make_motion(), "motion")
    log_p = make_log()
    want = synchronize_pd(cam_p, mot_p, log_p, method=method)

    res = S.synchronize(
        spark.createDataFrame(cam_p),
        spark.createDataFrame(mot_p),
        spark.createDataFrame(log_p),
        method=method,
        num_buckets=13,
    )
    got = res.df.toPandas()
    # pandas reference creates event cols only when observed; ours pivots
    # observed types too (discovered) — align column sets
    ev_got = {c for c in got.columns if c.startswith("event_")}
    ev_want = {c for c in want.columns if c.startswith("event_")}
    assert ev_want <= ev_got
    for c in ev_got - ev_want:
        assert got[c].sum() == 0
        got = got.drop(columns=[c])
    assert len(got) == len(want)
    got = _sorted(got)[want.columns]
    pd.testing.assert_frame_equal(got, _sorted(want), check_dtype=False, rtol=1e-9)


def test_synchronize_disjoint_windows_errors(spark):
    cam = spark.createDataFrame(
        pd.DataFrame({"timestamp": pd.to_datetime(["2024-01-01"]), "v": [1.0]})
    )
    mot = spark.createDataFrame(
        pd.DataFrame({"timestamp": pd.to_datetime(["2025-01-01"]), "w": [1.0]})
    )
    res = S.synchronize(cam, mot, None)
    assert res.df is None
    assert any("no overlapping" in r for r in res.report)


@pytest.mark.parametrize("method", ["pad", "backfill", "nearest"])
def test_reduce_cells_path_equivalent(spark, method):
    """synchronize(reduce_cells=True) must produce exactly the full-path
    result — per-cell candidate reduction is a pure optimization."""
    cam = spark.createDataFrame(clean_pd(make_camera(), "camera"))
    mot = spark.createDataFrame(clean_pd(make_motion(), "motion"))
    log = spark.createDataFrame(make_log()[["timestamp", "event_type"]])
    kw = dict(method=method, step_ms=33, tolerance_ms=100)
    full = S.synchronize(cam, mot, log, **kw).df.toPandas()
    red = S.synchronize(cam, mot, log, reduce_cells=True, **kw).df.toPandas()
    a = _sorted(full).reset_index(drop=True)
    b = _sorted(red).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


@pytest.mark.parametrize("method", ["pad", "backfill", "nearest"])
def test_reduce_to_grid_cells_boundary_obs_survive(spark, method):
    """An observation exactly on a grid boundary must stay an as-of
    candidate even when later/earlier observations share its cell."""
    t0 = dt.datetime(2024, 1, 1)
    step_ms = 100
    rows = [
        (t0 + dt.timedelta(milliseconds=ms), float(ms))
        for ms in [0, 100, 130, 170, 200, 330, 400]
    ]
    sensor = spark.createDataFrame(rows, "timestamp timestamp, x double")
    grid = S.time_grid(spark, t0, t0 + dt.timedelta(milliseconds=400), step_ms)
    full = S.asof_align(grid, sensor, method=method).toPandas()
    red_in = S.reduce_to_grid_cells(
        sensor, int(t0.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6),
        step_ms * 1000, 5, method,
    )
    red = S.asof_align(grid, red_in, method=method).toPandas()
    pd.testing.assert_frame_equal(_sorted(full), _sorted(red))


@pytest.mark.parametrize("method", ["pad", "backfill", "nearest"])
def test_asof_align_multi_three_sensors(spark, method):
    """asof_align_multi with N>2 sensors must match pandas
    ``reindex(method=...)`` per sensor (an independent reference), and
    equal N separate asof_align calls joined on the grid key (no sensor
    leaks into another's columns)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    offsets = {"a_": ([0, 150, 420], "x"), "b_": ([60, 230, 360, 500], "y"),
               "c_": ([10, 490], "z")}

    def _mk(ms_list, col):
        rows = [
            (t0 + dt.timedelta(milliseconds=ms), float(ms)) for ms in ms_list
        ]
        return spark.createDataFrame(rows, f"timestamp timestamp, {col} double")

    sensors = {prefix: _mk(*spec) for prefix, spec in offsets.items()}
    grid = S.time_grid(spark, t0, t0 + dt.timedelta(milliseconds=500), 100)

    multi = S.asof_align_multi(grid, sensors, method=method).toPandas()

    multi_sorted = _sorted(multi)
    gridx = pd.date_range(t0, t0 + dt.timedelta(milliseconds=500), freq="100ms")
    assert list(multi_sorted["timestamp"]) == list(gridx)
    for prefix, (ms, col) in offsets.items():
        obs = pd.DatetimeIndex([t0 + dt.timedelta(milliseconds=m) for m in ms])
        ref = pd.DataFrame({col: [float(m) for m in ms], "__matched_ts": obs},
                           index=obs).reindex(gridx, method=method)
        for c_ in (col, "__matched_ts"):
            pd.testing.assert_series_equal(
                multi_sorted[prefix + c_].reset_index(drop=True),
                ref[c_].reset_index(drop=True),
                check_names=False, check_dtype=False,
            )

    single = None
    for prefix, df in sensors.items():
        al = S.asof_align(grid, df, method=method, prefix=prefix)
        single = al if single is None else single.join(al, "timestamp")
    single = single.toPandas()
    cols = sorted(multi.columns)
    pd.testing.assert_frame_equal(
        _sorted(multi)[cols], _sorted(single)[cols]
    )


def test_bad_method_raises_before_any_spark_job(spark):
    """An unknown as-of method is a ValueError raised before the first
    Spark job — synchronize checks it ahead of its overlap-window job."""
    t0 = dt.datetime(2024, 1, 1)
    rows = [(t0 + dt.timedelta(milliseconds=ms), float(ms)) for ms in (0, 50, 100)]
    sensor = spark.createDataFrame(rows, "timestamp timestamp, x double")
    grid = S.time_grid(spark, t0, t0 + dt.timedelta(milliseconds=100), 33)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    with pytest.raises(ValueError, match="unknown as-of method"):
        S.synchronize(sensor, sensor, method="typo")
    with pytest.raises(ValueError, match="unknown as-of method"):
        S.asof_align(grid, sensor, method="typo")
    with pytest.raises(ValueError, match="unknown as-of method"):
        S.reduce_to_grid_cells(sensor, 0, 33_000, 4, method="typo")
    assert set(tracker.getJobIdsForGroup(None)) == before
    # control: a job run on this thread does show up in the tracker
    sensor.count()
    assert set(tracker.getJobIdsForGroup(None)) - before


# ---- keyed as-of join (pandas merge_asof(by=...) differential) ----

def _keyed_fixture(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    n_l, n_r = 400, 300
    base = pd.Timestamp("2024-03-01")
    lt = base + pd.to_timedelta(np.sort(rng.integers(0, 10_000_000, n_l)), unit="us")
    rt = base + pd.to_timedelta(np.sort(rng.integers(0, 10_000_000, n_r)), unit="us")
    lpdf = pd.DataFrame(
        {"lid": range(n_l), "ts": lt, "k": rng.integers(0, 5, n_l), "lv": rng.random(n_l).round(6)}
    )
    rpdf = pd.DataFrame(
        {"ts": rt, "k": rng.integers(0, 5, n_r), "rv": rng.random(n_r).round(6)}
    ).drop_duplicates(subset=["k", "ts"])
    return lpdf, rpdf


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_join_keyed_matches_pandas(spark, direction):
    from multi_sensor_data_pipeline_for_robotics__spark.operators.sync import asof_join_keyed

    lpdf, rpdf = _keyed_fixture(spark)
    got = (
        asof_join_keyed(
            spark.createDataFrame(lpdf),
            spark.createDataFrame(rpdf),
            on="ts", by="k", value_cols=["rv"], direction=direction,
        )
        .toPandas()
        .sort_values("lid")
        .reset_index(drop=True)
    )
    exp = pd.merge_asof(
        lpdf.sort_values("ts"),
        rpdf.sort_values("ts"),
        on="ts", by="k", direction=direction,
    ).sort_values("lid").reset_index(drop=True)
    pd.testing.assert_series_equal(
        got["rv_r"], exp["rv"], check_names=False, check_dtype=False
    )


def test_asof_join_keyed_tolerance(spark):
    from multi_sensor_data_pipeline_for_robotics__spark.operators.sync import asof_join_keyed

    lpdf, rpdf = _keyed_fixture(spark)
    tol_ms = 50
    got = (
        asof_join_keyed(
            spark.createDataFrame(lpdf),
            spark.createDataFrame(rpdf),
            on="ts", by="k", value_cols=["rv"], tolerance_ms=tol_ms,
        )
        .toPandas()
        .sort_values("lid")
        .reset_index(drop=True)
    )
    exp = pd.merge_asof(
        lpdf.sort_values("ts"),
        rpdf.sort_values("ts"),
        on="ts", by="k", direction="backward",
        tolerance=pd.Timedelta(milliseconds=tol_ms),
    ).sort_values("lid").reset_index(drop=True)
    pd.testing.assert_series_equal(
        got["rv_r"], exp["rv"], check_names=False, check_dtype=False
    )


def test_asof_join_keyed_duplicate_ts_deterministic(spark):
    """Right rows tied on (key, ts) resolve to the greatest payload —
    deterministically, on every run (the payload struct is the final
    window sort key)."""
    from multi_sensor_data_pipeline_for_robotics__spark.operators.sync import asof_join_keyed

    base = pd.Timestamp("2024-03-01")
    lpdf = pd.DataFrame({"lid": [0], "ts": [base + pd.Timedelta(seconds=5)], "k": [1]})
    rpdf = pd.DataFrame(
        {
            "ts": [base + pd.Timedelta(seconds=1)] * 3,
            "k": [1, 1, 1],
            "rv": [0.2, 0.9, 0.5],
        }
    )
    for _ in range(3):
        got = asof_join_keyed(
            spark.createDataFrame(lpdf).repartition(4),
            spark.createDataFrame(rpdf).repartition(4),
            on="ts", by="k", value_cols=["rv"],
        ).toPandas()
        assert got["rv_r"].tolist() == [0.9]


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_join_keyed_bucketed_equivalent(spark, direction):
    """time_buckets=N (skew-safe: key x time-bucket fill + per-key
    carry) must return exactly the direct form's matches."""
    from multi_sensor_data_pipeline_for_robotics__spark.operators.sync import asof_join_keyed

    lpdf, rpdf = _keyed_fixture(spark)
    kw = dict(on="ts", by="k", value_cols=["rv"], direction=direction)
    l, r = spark.createDataFrame(lpdf), spark.createDataFrame(rpdf)
    direct = asof_join_keyed(l, r, **kw).toPandas().sort_values("lid").reset_index(drop=True)
    for nb in (1, 7, 64):
        bucketed = (
            asof_join_keyed(l, r, time_buckets=nb, **kw)
            .toPandas()
            .sort_values("lid")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(
            direct[["lid", "rv_r", "matched_ts_r"]],
            bucketed[["lid", "rv_r", "matched_ts_r"]],
        )


def test_asof_join_keyed_bucketed_skewed_key(spark):
    """Power-law keys: one key owns ~80% of both sides; the bucketed
    plan must agree with the direct plan (and with tolerance)."""
    import numpy as np

    from multi_sensor_data_pipeline_for_robotics__spark.operators.sync import asof_join_keyed

    rng = np.random.default_rng(11)
    n_l, n_r = 3000, 2000
    base = pd.Timestamp("2024-03-01")
    hot = rng.random(n_l) < 0.8
    lk = np.where(hot, 0, rng.integers(1, 20, n_l))
    rk = np.where(rng.random(n_r) < 0.8, 0, rng.integers(1, 20, n_r))
    lpdf = pd.DataFrame({
        "lid": range(n_l),
        "ts": base + pd.to_timedelta(rng.integers(0, 50_000_000, n_l), unit="us"),
        "k": lk,
    })
    rpdf = pd.DataFrame({
        "ts": base + pd.to_timedelta(rng.integers(0, 50_000_000, n_r), unit="us"),
        "k": rk,
        "rv": rng.random(n_r).round(6),
    }).drop_duplicates(subset=["k", "ts"])
    l, r = spark.createDataFrame(lpdf), spark.createDataFrame(rpdf)
    for tol in (None, 500):
        kw = dict(on="ts", by="k", value_cols=["rv"], tolerance_ms=tol)
        direct = asof_join_keyed(l, r, **kw).toPandas().sort_values("lid").reset_index(drop=True)
        bucketed = (
            asof_join_keyed(l, r, time_buckets=32, **kw)
            .toPandas()
            .sort_values("lid")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(
            direct[["lid", "rv_r", "matched_ts_r"]],
            bucketed[["lid", "rv_r", "matched_ts_r"]],
        )


def test_synchronize_auto_reduce_cells(spark, tmp_path):
    """reduce_cells=None: OFF on local masters (intra-process shuffle —
    the reduction's volume savings can't pay, measured); on network
    topologies the density heuristic (file-stat rows >= 4x grid cells)
    decides. Forced reduction must not change the row count."""
    from multi_sensor_data_pipeline_for_robotics__spark.operators import sync as S
    from multi_sensor_data_pipeline_for_robotics__spark.sources import datagen

    cam = datagen.generate_camera(spark, n=200_000, freq_hz=3000.0)
    mot = datagen.generate_motion(spark, n=150_000, freq_hz=2500.0)
    cam.write.parquet(str(tmp_path / "cam"))
    mot.write.parquet(str(tmp_path / "mot"))
    camp = spark.read.parquet(str(tmp_path / "cam"))
    motp = spark.read.parquet(str(tmp_path / "mot"))

    # this suite runs on local[*]: auto must stay off even at 100x density
    auto = S.synchronize(camp, motp, method="nearest")
    line = [l for l in auto.report if l.startswith("reduce_cells=")][0]
    assert line == "reduce_cells=camera:False,motion:False", line
    forced_on = S.synchronize(camp, motp, method="nearest", reduce_cells=True)
    assert auto.df.count() == forced_on.df.count()

    # cluster-mode density logic, exercised via the override:
    # dense sensor -> on; sparse sensor (~1 row per several cells) -> off
    n_grid_dense = 200_000 // 3000 * 1000 // 33 + 1  # ~67s span / 33ms
    assert S._auto_reduce(camp, n_grid_dense, assume_network=True)
    sparse = datagen.generate_camera(spark, n=500, freq_hz=30.0)
    sparse.write.parquet(str(tmp_path / "scam"))
    sparsep = spark.read.parquet(str(tmp_path / "scam"))
    assert not S._auto_reduce(sparsep, 506, assume_network=True)
    # unknown source size (no file scan) -> conservative off
    assert not S._auto_reduce(sparse, 506, assume_network=True)


def test_map_events_type_discovery_capped(spark):
    import datetime as _dt

    import pytest as _pytest

    from multi_sensor_data_pipeline_for_robotics__spark.operators.sync import map_events

    t0 = _dt.datetime(2024, 1, 1)
    wide = spark.range(1200).selectExpr(
        "timestamp'2024-01-01' as timestamp",
        "concat('t', id) as event_type",
    )
    with _pytest.raises(ValueError, match="more than 1000"):
        map_events(wide, t0, t0 + _dt.timedelta(minutes=1)).collect()
