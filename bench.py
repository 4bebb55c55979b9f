#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>}

Each query is forced with a cheap full-result action (count on the
final plan) after a warm-up of the session; per-query wall time
includes planning + execution.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from multi_sensor_data_pipeline_for_robotics__spark import get_session

HEADLINE = [
    "o15_sync_wide",
    "o14_asof_nearest",
    "o16_event_onehot",
    "o10_quantile_clamp",
    "o20_corr_matrix",
    "o21_summary_stats",
    "q1_pricing_summary",
    "q3_top_orders",
    "q_window_running",
    "q_rollup_revenue",
    "join_enrich_events",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "text_token_stats",
    "text_bpe_tokens",
    "embed_cosine_topk",
    "embed_neardup_lsh",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_session(app_name="bench")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()

    # warm up the JVM + parquet footers with a trivial action, and the
    # Python worker pool (first pandas_udf stage pays ~3s of per-core
    # worker spawn + pandas import otherwise)
    from pyspark.sql.functions import col, pandas_udf

    from multi_sensor_data_pipeline_for_robotics__spark.sources.tables import load_table

    for t in ("lineitem", "events", "documents", "embeddings"):
        load_table(spark, sf_dir, t).count()

    @pandas_udf("long")
    def _noop(x):
        return x

    cores = spark.sparkContext.defaultParallelism
    spark.range(cores * 4, numPartitions=cores).select(_noop(col("id"))).count()

    # warm whole-stage-codegen + shuffle + window machinery on a tiny
    # synthetic frame: the first shuffle/sort/window job in a fresh JVM
    # pays Janino compilation + shuffle-system init (~2s) that a real
    # deployment pays once per cluster, not once per query
    from pyspark.sql import Window as _W
    from pyspark.sql.functions import broadcast, row_number, sum as _sum

    w = _W.partitionBy("g").orderBy("id")
    (
        spark.range(cores * 64)
        .selectExpr("id", "id % 8 AS g")
        .select("id", "g", row_number().over(w).alias("rn"))
        .groupBy("g")
        .agg(_sum("rn").alias("s"))
        .join(broadcast(spark.range(8).selectExpr("id AS g", "id AS j")), "g")
        .unionByName(spark.range(1).selectExpr("id AS g", "id AS s", "id AS j"))
        .count()
    )

    # Two full passes, per-query MIN reported: the host shows +-40%
    # ambient-load variance run to run, and min-of-2 (each pass fully
    # re-plans and re-executes — nothing is cached across actions) is
    # the standard way to report the machine's actual capability.
    # Per-pass totals are included for transparency.
    PASSES = 2
    times: dict[str, float] = {}
    pass_totals: list[float] = []
    for p in range(PASSES):
        # operators may persist intermediates (e.g. the as-of union
        # stream); clear between passes so min-of-2 measures honest
        # recomputation, not a warm cache from the previous pass
        spark.catalog.clearCache()
        pt = 0.0
        for name in HEADLINE:
            fn = qs[name]
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = df.count()
            dt_ = round(time.perf_counter() - t0, 3)
            pt += dt_
            times[name] = min(times.get(name, float("inf")), dt_)
            print(f"# pass{p} {name}: {dt_:.3f}s ({n} rows)", file=sys.stderr)
        pass_totals.append(round(pt, 3))

    total = round(sum(times.values()), 3)

    # --- supplementary: reduce_cells downsampling win at the 100 TB
    # shape (|sensor| >> n_grid). NOT part of the frozen 18-query
    # headline total — reported under "extras" for SCALE.md evidence.
    # Guarded: an extras failure (scratch-disk, OOM on the 2M-row
    # fixture) must not lose the already-measured headline results.
    try:
        extras, extra_checks = hirate_reduce_cells_bench(spark)
    except Exception as e:  # noqa: BLE001 — headline JSON must print
        extras, extra_checks = {"error": str(e)[:500]}, {}
    try:
        skew_times, skew_checks = skewed_keyed_asof_bench(spark)
        extras.update(skew_times)
        extra_checks.update(skew_checks)
    except Exception as e:  # noqa: BLE001
        extras["skew_error"] = str(e)[:500]

    # round-5 family representatives at sf0.1, single pass — per-round
    # timing visibility for the newer operator families WITHOUT
    # changing the frozen 18-query headline the cross-round comparison
    # relies on
    NEW_FAMILY = [
        "bm25_topk",
        "dedup_substring_spans",
        "embed_semantic_dedup",
        "bloom_join_reduce",
        "zorder_cluster_key",
        "kmv_join_estimate",
        "kmv_distinct_users",
        "hist_quantiles",
        "ts_ewma",
        "dedup_incremental",
        "q_funnel",
        "graph_pagerank",
        # ALL 16 r9 additions — regress against the r9 extras baseline
        # in git history (VERDICT r9 item 6: per-family
        # budgets must be mechanically visible, not archaeology)
        "select_lm_score",
        "select_dsir_weights",
        "select_dsir_top",
        "assoc_chi_square",
        "assoc_mutual_info",
        "assoc_welch_ttest",
        "assoc_ks_test",
        "audit_benford",
        "ts_acf",
        "ts_cusum_changepoint",
        "graph_label_prop",
        "regress_trend_by_type",
        "seq_match_funnel",
        "text_bigram_pmi",
        "corpus_pareto",
        "stream_benford",
        "stream_seq_match",
        # r10 additions
        "embed_hard_negatives_ivf",
        "stream_neardup_screen",
        "corpus_select_pipeline",
        "stream_lm_score",
        "stream_dsir_weights",
        "retrieval_rrf_hybrid",
        "select_dsir_token_budget",
        "select_mixture_token_budget",
        "embed_diverse_prototypes",
        "stream_quality_gate",
        "model_roundtrip_lm_score",
        "stream_ingest_pipeline",
        "sample_triplets",
        "dedup_source_overlap",
        "corpus_select_funnel",
    ]
    for name in NEW_FAMILY:
        try:
            t0 = time.perf_counter()
            n = qs[name](spark, sf_dir).count()
            extras[f"new_{name}"] = round(time.perf_counter() - t0, 3)
            print(f"# extra new {name}: {extras[f'new_{name}']:.3f}s ({n} rows)",
                  file=sys.stderr)
        except Exception as e:  # noqa: BLE001
            extras[f"new_{name}_error"] = str(e)[:200]

    # STDOUT gets exactly ONE COMPACT line (metric/value/queries) — the
    # round-6 artifact was unparseable because the extras + fingerprint
    # blocks grew the line past the driver's tail capture. Everything
    # supplementary goes to a side file + stderr instead.
    compact = {
        "metric": "headline_queries_total_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": float(sf),
        "passes": PASSES,
        "pass_totals": pass_totals,
    }
    full = dict(
        compact,
        extras=extras,
        extra_checks=extra_checks,
        # parquet layout fingerprint: the driver regenerates the
        # test data between rounds, and layout drift (row-group
        # geometry, encodings) has shifted scan-bound timings by
        # 1.5x before — record it so a drift is visible in the
        # artifact instead of inferred from timing archaeology
        data_fingerprint=data_fingerprint(sf_dir),
        # ambient machine state: boot-window noise has produced
        # 1.2-1.3x per-query swings between otherwise identical
        # runs — the artifact carries the context a reader needs
        # to judge whether a delta is code or environment
        ambient=ambient_context(),
    )
    side = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_extras_last.json"
    )
    try:
        with open(side, "w") as f:
            json.dump(full, f, indent=1)
    except OSError as e:
        print(f"# side-file write failed: {e}", file=sys.stderr)
    print(f"# full payload: {json.dumps(full)}", file=sys.stderr)
    print(json.dumps(compact))


def ambient_context() -> dict:
    """Uptime, load average and page-cache size at bench time."""
    out = {}
    try:
        with open("/proc/uptime") as f:
            out["uptime_s"] = int(float(f.read().split()[0]))
        out["loadavg_1m"] = round(os.getloadavg()[0], 2)
        with open("/proc/meminfo") as f:
            mem = dict(
                (ln.split(":")[0], ln.split()[1]) for ln in f if ":" in ln
            )
        out["page_cache_mb"] = int(mem.get("Cached", 0)) // 1024
        out["mem_available_mb"] = int(mem.get("MemAvailable", 0)) // 1024
    except Exception as e:  # noqa: BLE001 — context is best-effort
        out["error"] = str(e)[:200]
    return out


def data_fingerprint(sf_dir: str) -> dict:
    """Per-table parquet geometry: file size, rows, row groups."""
    import glob

    out = {}
    try:
        import pyarrow.parquet as pq

        for p in sorted(glob.glob(f"{sf_dir}/*.parquet")):
            name = os.path.basename(p).removesuffix(".parquet")
            md = pq.ParquetFile(p).metadata
            out[name] = {
                "bytes": os.path.getsize(p),
                "rows": md.num_rows,
                "row_groups": md.num_row_groups,
                "mtime": int(os.path.getmtime(p)),
            }
    except Exception as e:  # noqa: BLE001 — fingerprint is best-effort
        out["error"] = str(e)[:200]
    return out


def hirate_reduce_cells_bench(
    spark, n: int = 2_000_000
) -> tuple[dict[str, float], dict[str, bool]]:
    """Time `synchronize` with and without reduce_cells on a high-rate
    fixture: two 2M-row sensors (3000/2500 Hz) onto a 33 ms grid —
    ~100 sensor rows per grid cell, the downsampling shape a 100 TB
    deployment hits. The fixture is generated distributed (O1/O2
    counter-PRNG generators) and materialized to scratch parquet once so
    generation cost stays out of both timings."""
    import shutil
    import tempfile

    from multi_sensor_data_pipeline_for_robotics__spark.operators.sync import (
        synchronize,
    )
    from multi_sensor_data_pipeline_for_robotics__spark.sources import datagen

    scratch = tempfile.mkdtemp(prefix="spark_graft_hirate_")
    try:
        datagen.generate_camera(spark, n=n, freq_hz=3000.0).write.mode(
            "overwrite"
        ).parquet(f"{scratch}/cam")
        datagen.generate_motion(spark, n=n, freq_hz=2500.0).write.mode(
            "overwrite"
        ).parquet(f"{scratch}/mot")
        cam = spark.read.parquet(f"{scratch}/cam")
        mot = spark.read.parquet(f"{scratch}/mot")

        # min-of-2 per variant, order alternated across passes — mirrors
        # the headline PASSES=2 methodology and removes the cold-cache
        # bias of always timing one variant first
        out: dict[str, float] = {}
        rows: dict[str, int] = {}
        variants = [("o15_hirate_reduce_cells", True), ("o15_hirate_raw", False)]
        for p in range(2):
            for name, rc in variants if p == 0 else reversed(variants):
                t0 = time.perf_counter()
                nrows = synchronize(
                    cam, mot, method="nearest", reduce_cells=rc
                ).df.count()
                dt_ = round(time.perf_counter() - t0, 3)
                out[name] = min(out.get(name, float("inf")), dt_)
                rows[name] = nrows
                print(f"# extra p{p} {name}: {dt_:.3f}s ({nrows} rows)", file=sys.stderr)
        # free correctness check: cell reduction must not change the
        # synchronized row count — reported SEPARATELY from the timing
        # dict so consumers aggregating extras never mix a flag into
        # the seconds
        checks = {
            "reduce_cells_rows_match": rows["o15_hirate_reduce_cells"]
            == rows["o15_hirate_raw"]
        }
        return out, checks
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def skewed_keyed_asof_bench(
    spark, n_left: int = 2_000_000, n_right: int = 1_000_000
) -> tuple[dict[str, float], dict[str, bool]]:
    """Hot-key keyed as-of: 90% of both sides on ONE key (power-law
    worst case). The direct plan serializes the hot key into a single
    partition's window sort; time_buckets=256 spreads it across
    (key, bucket) sorts with a bounded per-key carry. Reported under
    extras as evidence the skew path works — row counts must match."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from multi_sensor_data_pipeline_for_robotics__spark.operators.sync import (
        asof_join_keyed,
    )

    scratch = tempfile.mkdtemp(prefix="spark_graft_skew_")
    try:
        span_us = 3_600_000_000  # 1h of activity
        base_us = 1_704_067_200_000_000  # 2024-01-01 UTC

        def gen(n, seed):
            h = F.abs(F.hash((F.col("id") + seed).cast("string")))
            return spark.range(n).select(
                F.col("id"),
                F.when(h % 10 < 9, F.lit(0))
                .otherwise((h % 997).cast("long"))
                .alias("k"),
                F.timestamp_micros(
                    F.lit(base_us)
                    + F.abs(F.hash((F.col("id") * 31 + seed).cast("string")))
                    % span_us
                ).alias("ts"),
                (h % 100000).cast("double").alias("v"),
            )

        gen(n_left, 1).write.mode("overwrite").parquet(f"{scratch}/l")
        gen(n_right, 2).write.mode("overwrite").parquet(f"{scratch}/r")
        l = spark.read.parquet(f"{scratch}/l").drop("v")
        r = spark.read.parquet(f"{scratch}/r").select("ts", "k", "v")

        out: dict[str, float] = {}
        rows: dict[str, int] = {}
        variants = [
            ("keyed_asof_skew_bucketed", 256),
            ("keyed_asof_skew_direct", None),
        ]
        for p in range(2):
            for name, nb in variants if p == 0 else reversed(variants):
                t0 = time.perf_counter()
                # aggregate over the matched columns — a bare count()
                # would let Catalyst prune the as-of window itself out
                # of the plan (nothing downstream would reference it)
                row = (
                    asof_join_keyed(
                        l, r, on="ts", by="k", value_cols=["v"], time_buckets=nb
                    )
                    .agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum("v_r").alias("s"),
                    )
                    .first()
                )
                nrows = row["n"]
                dt_ = round(time.perf_counter() - t0, 3)
                out[name] = min(out.get(name, float("inf")), dt_)
                rows[name] = nrows
                print(f"# extra p{p} {name}: {dt_:.3f}s ({nrows} rows)", file=sys.stderr)
        checks = {
            "keyed_asof_skew_rows_match": rows["keyed_asof_skew_bucketed"]
            == rows["keyed_asof_skew_direct"]
        }
        return out, checks
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
