"""Frequency sketches (Count-Min, heavy hitters, top-k) + drift."""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import functions as F

from multi_sensor_data_pipeline_for_robotics__spark.functions import freq as FR
from multi_sensor_data_pipeline_for_robotics__spark.plans.drift import (
    distribution_drift,
)


def _zipfish(spark, n=5000, vals=50):
    # value v occurs ~ n/(v+1) times — a skewed frequency profile
    return spark.range(n).select(
        (
            F.floor(
                F.lit(float(vals))
                ** (F.abs(F.hash(F.col("id").cast("string"))) % 1000 / 1000.0)
            )
            - 1
        ).cast("long").alias("v")
    )


def test_cms_estimate_never_underestimates_and_is_exact_when_wide(spark):
    df = _zipfish(spark)
    true = {r["v"]: r["cnt"] for r in df.groupBy("v").count().withColumnRenamed("count", "cnt").collect()}
    keys = df.select("v").distinct()
    # wide sketch: collisions essentially impossible for 50 keys
    sk = FR.cms_sketch(df, "v", depth=4, width=8192)
    est = {
        r["v"]: r["est_count"]
        for r in FR.cms_estimate(sk, keys, "v", depth=4, width=8192).collect()
    }
    assert est == true
    # narrow sketch: collisions now certain — the estimate must only
    # ever OVERestimate (the Count-Min one-sided error law)
    sk2 = FR.cms_sketch(df, "v", depth=3, width=16)
    est2 = {
        r["v"]: r["est_count"]
        for r in FR.cms_estimate(sk2, keys, "v", depth=3, width=16).collect()
    }
    assert all(est2[v] >= c for v, c in true.items())
    assert sum(est2.values()) > sum(true.values())  # some collision happened


def test_cms_merge_is_lossless(spark):
    df = _zipfish(spark)
    whole = {
        (r["d"], r["w"]): r["cnt"]
        for r in FR.cms_sketch(df, "v", depth=4, width=256).collect()
    }
    halves = FR.cms_merge(
        [
            FR.cms_sketch(df.filter(F.col("id") % 2 == 0), "v", 4, 256),
            FR.cms_sketch(df.filter(F.col("id") % 2 == 1), "v", 4, 256),
        ]
    )
    merged = {(r["d"], r["w"]): r["cnt"] for r in halves.collect()}
    assert merged == whole


def test_cms_nulls_contribute_nothing(spark):
    df = spark.createDataFrame(
        [("a",), ("a",), (None,), ("b",)], "v string"
    )
    sk = FR.cms_sketch(df, "v", depth=2, width=64)
    assert sk.agg(F.sum("cnt")).first()[0] == 3 * 2  # 3 non-null rows x depth


def test_heavy_hitters_exact_threshold(spark):
    rows = (
        [("x",)] * 60 + [("y",)] * 25 + [("z",)] * 10 + [(None,)] * 5
        + [("w",)] * 5
    )
    df = spark.createDataFrame(rows, "v string")
    got = {
        r["v"]: (r["cnt"], r["freq"])
        for r in FR.heavy_hitters(df, "v", phi=0.1).collect()
    }
    assert got == {"x": (60, 0.6), "y": (25, 0.25), "z": (10, 0.1)}


def test_top_k_frequent_deterministic_ties(spark):
    rows = [("a",)] * 3 + [("b",)] * 3 + [("c",)] * 5 + [("d",)] * 1
    df = spark.createDataFrame(rows, "v string")
    got = [(r["v"], r["cnt"], r["rank"]) for r in FR.top_k_frequent(df, "v", k=3).collect()]
    assert sorted(got, key=lambda t: t[2]) == [("c", 5, 1), ("a", 3, 2), ("b", 3, 3)]


def test_distribution_drift_zero_for_identical_and_positive_for_shift(spark):
    a = spark.range(2000).select(
        ((F.abs(F.hash(F.col("id").cast("string"))) % 1000) / 1000.0).alias("x")
    )
    row = distribution_drift(a, a, "x", bins=64, lo=0.0, hi=1.0).first()
    assert row["kl_ab"] == 0.0 and row["js_divergence"] == 0.0 and row["tvd"] == 0.0
    b = a.select((F.col("x") * 0.5 + 0.5).alias("x"))  # mass shifted right
    row2 = distribution_drift(a, b, "x", bins=64, lo=0.0, hi=1.0).first()
    assert row2["kl_ab"] > 0.1 and row2["tvd"] > 0.3
    assert row2["js_divergence"] <= math.log(2) + 1e-9


def test_distribution_drift_matches_numpy_reference(spark):
    import numpy as np

    xs = [(i * 37 % 100) / 100.0 for i in range(500)]
    ys = [((i * 53 % 100) / 100.0) ** 2 for i in range(400)]
    a = spark.createDataFrame([(x,) for x in xs], "x double")
    b = spark.createDataFrame([(y,) for y in ys], "x double")
    bins, lo, hi, alpha = 32, 0.0, 1.0, 0.5
    w = (hi - lo) / bins

    def hist(vals):
        h = np.zeros(bins)
        for v in vals:
            h[min(max(int((v - lo) // w), 0), bins - 1)] += 1
        return h

    ca, cb = hist(xs), hist(ys)
    p = (ca + alpha) / (ca.sum() + alpha * bins)
    q = (cb + alpha) / (cb.sum() + alpha * bins)
    m = (p + q) / 2
    want = {
        "kl_ab": round(float((p * np.log(p / q)).sum()), 6),
        "kl_ba": round(float((q * np.log(q / p)).sum()), 6),
        "js_divergence": round(
            float((p * np.log(p / m)).sum() / 2 + (q * np.log(q / m)).sum() / 2), 6
        ),
        "tvd": round(float(np.abs(p - q).sum() / 2), 6),
    }
    got = distribution_drift(a, b, "x", bins=bins, lo=lo, hi=hi, alpha=alpha).first()
    for k, v in want.items():
        assert abs(got[k] - v) < 2e-6, (k, got[k], v)


def test_cms_stream_state_carries_and_matches_batch(spark, tmp_path):
    """Two micro-batches: final streamed estimates must equal the batch
    sketch+estimate over the union (counters are additive and
    order-insensitive); nulls contribute nothing on either path."""
    from multi_sensor_data_pipeline_for_robotics__spark.streaming.stateful import (
        cms_stream,
    )

    rows = [("a", str(i % 20) if i % 7 else None) for i in range(300)]
    df = spark.createDataFrame(rows, "k string, v string")
    src = str(tmp_path / "cms_src")
    df.filter(F.col("v").isNull() | (F.col("v") < "15")).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    df.filter(F.col("v").isNotNull() & (F.col("v") >= "15")).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    probes = ("3", "15", "19", "absent")
    stream = (
        spark.readStream.schema("k string, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = cms_stream(stream, "v", "k", probes, depth=4, width=512)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("cms_test")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    emitted = spark.table("cms_test").collect()
    assert max(r["batch_seq"] for r in emitted) == 2
    final = {
        r["value"]: r["est_count"]
        for r in emitted
        if r["batch_seq"] == 2
    }
    sk = FR.cms_sketch(df, "v", depth=4, width=512)
    keys = spark.createDataFrame([(p,) for p in probes], "v string")
    want = {
        r["v"]: r["est_count"]
        for r in FR.cms_estimate(sk, keys, "v", depth=4, width=512).collect()
    }
    assert final == want
    assert want["absent"] == 0


def test_drift_stream_matches_batch_histogram_drift(spark, tmp_path):
    """Final streamed drift per key == batch histogram_drift over the
    same rows vs the same reference (bin counts merge associatively)."""
    from multi_sensor_data_pipeline_for_robotics__spark.plans.drift import (
        _binned,
        histogram_drift,
    )
    from multi_sensor_data_pipeline_for_robotics__spark.streaming.stateful import (
        drift_stream,
    )

    bins, lo, hi = 64, 0.0, 100.0
    ref_rows = spark.createDataFrame(
        [(float((i * 13) % 100),) for i in range(500)], "value double"
    )
    ref = _binned(ref_rows, "value", bins, lo, hi)
    rows = spark.createDataFrame(
        [("a", float(((i * 29) % 100) ** 0.9)) for i in range(400)]
        + [("b", float((i * 3) % 40)) for i in range(300)],
        "k string, value double",
    )
    src = str(tmp_path / "drift_src")
    rows.filter(F.col("value") < 50).coalesce(1).write.mode("append").parquet(src)
    rows.filter(F.col("value") >= 50).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("k string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = drift_stream(stream, "value", "k", ref, bins=bins, lo=lo, hi=hi)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("drift_test")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    emitted = spark.table("drift_test").collect()
    assert max(r["batch_seq"] for r in emitted) == 2
    final = {
        r["key"]: (r["kl_ab"], r["kl_ba"], r["js_divergence"], r["tvd"])
        for r in emitted
        if r["batch_seq"] == max(e["batch_seq"] for e in emitted if e["key"] == r["key"])
    }
    for k in ("a", "b"):
        want = histogram_drift(
            _binned(rows.filter(F.col("k") == k), "value", bins, lo, hi),
            ref,
            bins,
        ).first()
        got = final[k]
        for i, c in enumerate(("kl_ab", "kl_ba", "js_divergence", "tvd")):
            assert abs(got[i] - want[c]) < 2e-6, (k, c, got[i], want[c])


def test_drift_stream_state_survives_restart(spark, tmp_path):
    """The second micro-batch runs in a RESTARTED query on the same
    checkpoint, so the bin counts come back from the state store: the
    restarted query's row per key equals batch histogram_drift over
    both files."""
    from multi_sensor_data_pipeline_for_robotics__spark.plans.drift import (
        _binned,
        histogram_drift,
    )
    from multi_sensor_data_pipeline_for_robotics__spark.streaming.stateful import (
        drift_stream,
    )

    bins, lo, hi = 32, 0.0, 100.0
    ref = _binned(
        spark.createDataFrame(
            [(float((i * 7) % 100),) for i in range(300)], "value double"
        ),
        "value", bins, lo, hi,
    )
    rows = spark.createDataFrame(
        [("a", float((i * 11) % 100)) for i in range(200)]
        + [("b", float((i * 3) % 60)) for i in range(150)],
        "k string, value double",
    )
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (
            spark.readStream.schema("k string, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            drift_stream(stream, "value", "k", ref, bins=bins, lo=lo, hi=hi)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    rows.filter(F.col("value") < 40).coalesce(1).write.mode("append").parquet(src)
    run()
    rows.filter(F.col("value") >= 40).coalesce(1).write.mode("append").parquet(src)
    run()
    emitted = spark.read.parquet(out).collect()
    assert max(r["batch_seq"] for r in emitted) == 2
    final = {}
    for r in sorted(emitted, key=lambda r: r["batch_seq"]):
        final[r["key"]] = (r["kl_ab"], r["kl_ba"], r["js_divergence"], r["tvd"])
    for k in ("a", "b"):
        want = histogram_drift(
            _binned(rows.filter(F.col("k") == k), "value", bins, lo, hi), ref, bins
        ).first()
        for i, c in enumerate(("kl_ab", "kl_ba", "js_divergence", "tvd")):
            assert abs(final[k][i] - want[c]) < 2e-6, (k, c, final[k][i], want[c])


def test_heavy_hitters_and_topk_grouped(spark):
    rows = (
        [("g1", "x")] * 8 + [("g1", "y")] * 2
        + [("g2", "y")] * 5 + [("g2", "z")] * 5 + [("g2", "w")] * 1
    )
    df = spark.createDataFrame(rows, "g string, v string")
    hh = {
        (r["g"], r["v"]): (r["cnt"], r["freq"])
        for r in FR.heavy_hitters(df, "v", phi=0.2, group_col="g").collect()
    }
    # per-GROUP thresholds: y is 20% of g1 (kept) though 2 rows overall
    assert hh == {
        ("g1", "x"): (8, 0.8),
        ("g1", "y"): (2, 0.2),
        ("g2", "y"): (5, round(5 / 11, 6)),
        ("g2", "z"): (5, round(5 / 11, 6)),
    }
    tk = {
        (r["g"], r["rank"]): r["v"]
        for r in FR.top_k_frequent(df, "v", k=2, group_col="g").collect()
    }
    assert tk == {
        ("g1", 1): "x", ("g1", 2): "y",
        ("g2", 1): "y", ("g2", 2): "z",  # tie 5/5 -> value asc
    }


def test_top_k_grouped_two_phase_matches_single_window(spark):
    # skewed multi-group corpus; salt_buckets small enough that both phases
    # prune (k=3, S=4 -> phase-2 sees <= 12 rows/group, not all 40)
    from pyspark.sql import Window as W

    df = _zipfish(spark, n=4000).select(
        (F.col("v") % 3).cast("string").alias("g"), F.col("v")
    )
    got = {
        (r["g"], r["rank"]): (r["v"], r["cnt"])
        for r in FR.top_k_frequent(
            df, "v", k=3, group_col="g", salt_buckets=4
        ).collect()
    }
    # reference: single per-group window over exact counts
    counts = df.groupBy("g", "v").agg(F.count(F.lit(1)).alias("cnt"))
    w = W.partitionBy("g").orderBy(F.col("cnt").desc(), F.col("v").asc())
    want = {
        (r["g"], r["rank"]): (r["v"], r["cnt"])
        for r in counts.withColumn(
            "rank", F.row_number().over(w).cast("int")
        ).filter(F.col("rank") <= 3).collect()
    }
    assert got == want and len(got) == 9
    # partition-count independence: salt derives from the value only
    for nparts in (3, 13):
        again = {
            (r["g"], r["rank"]): (r["v"], r["cnt"])
            for r in FR.top_k_frequent(
                df.repartition(nparts), "v", k=3, group_col="g",
                salt_buckets=4,
            ).collect()
        }
        assert again == want


def test_heavy_hitters_stream_matches_batch_and_drops_stale(spark, tmp_path):
    """Two micro-batches: the LAST batch's emission per key must equal
    batch heavy_hitters over the union — including a value that was
    heavy after batch 1 but fell below phi once batch 2 grew n (the
    stale-row trap the graded query's max-batch_seq filter guards)."""
    from multi_sensor_data_pipeline_for_robotics__spark.streaming.stateful import (
        heavy_hitters_stream,
    )

    # batch 1: 'x' 5/10 rows (heavy at phi=0.3); batch 2 adds 40 rows
    # of other values -> x is 5/50 = 0.1, below phi
    b1 = [("g", "x")] * 5 + [("g", "y")] * 5
    b2 = [("g", f"z{i % 2}") for i in range(40)]
    src = str(tmp_path / "hh_src")
    spark.createDataFrame(b1, "k string, v string").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(b2, "k string, v string").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema("k string, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = heavy_hitters_stream(stream, "v", "k", phi=0.3)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("hh_test")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    emitted = spark.table("hh_test").collect()
    assert max(r["batch_seq"] for r in emitted) == 2
    # batch 1 emitted x and y as heavy; they must NOT be in batch 2's set
    seq1 = {r["value"] for r in emitted if r["batch_seq"] == 1}
    assert seq1 == {"x", "y"}
    final = {
        r["value"]: (r["cnt"], r["freq"])
        for r in emitted
        if r["batch_seq"] == 2
    }
    union = spark.createDataFrame(b1 + b2, "k string, v string")
    want = {
        r["v"]: (r["cnt"], r["freq"])
        for r in FR.heavy_hitters(
            union, "v", phi=0.3, group_col="k"
        ).collect()
    }
    assert final == want == {"z0": (20, 0.4), "z1": (20, 0.4)}


def test_top_k_frequent_stream_state_carries_and_matches_batch(spark, tmp_path):
    """Two micro-batches that reorder the top-k (and tie on count): the
    last batch per key equals batch top_k_frequent over the union."""
    from multi_sensor_data_pipeline_for_robotics__spark.streaming.stateful import (
        top_k_frequent_stream,
    )

    b1 = [("g", "x")] * 6 + [("g", "y")] * 3 + [("h", "p")] * 2 + [("h", None)]
    b2 = [("g", "z")] * 7 + [("g", "y")] * 3 + [("h", "q")] * 4
    src = str(tmp_path / "topk_src")
    for rows in (b1, b2):
        spark.createDataFrame(rows, "k string, v string").coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema("k string, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = top_k_frequent_stream(stream, "v", "k", k=2)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("topk_stream_test")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    emitted = spark.table("topk_stream_test").collect()
    assert max(r["batch_seq"] for r in emitted) == 2
    last = {}
    for r in emitted:
        last[r["key"]] = max(last.get(r["key"], 0), r["batch_seq"])
    final = {
        (r["key"], r["rank"]): (r["value"], r["cnt"])
        for r in emitted
        if r["batch_seq"] == last[r["key"]]
    }
    union = spark.createDataFrame(b1 + b2, "k string, v string")
    want = {
        (r["k"], r["rank"]): (r["v"], r["cnt"])
        for r in FR.top_k_frequent(union, "v", k=2, group_col="k").collect()
    }
    # g: z 7 takes rank 1; x 6 and y 6 tie, value asc keeps x
    assert final == want == {
        ("g", 1): ("z", 7), ("g", 2): ("x", 6),
        ("h", 1): ("q", 4), ("h", 2): ("p", 2),
    }
