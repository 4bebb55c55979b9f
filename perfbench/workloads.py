"""The benchmark's workloads: query_mix and sensor_stream.

Each workload gets its inputs (``prepare``, untimed), runs closed-loop
iterations with one client (``iterate``), and checks its outputs against
an independent computation once per run (``check``, untimed). An *op* is
one timed call into the program whose result the benchmark forces: a
query (query_mix) or a stream epoch (sensor_stream). Each op is counted
as attempted, and as failed when it raises or its output differs from
the checked one.
"""

from __future__ import annotations

import math
import os
import shutil
import time
import traceback
from collections import Counter

import duckdb

import gen

REL_TOL = 1e-6  # relative tolerance when comparing float outputs


def _rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Ops:
    """Records every op of a run: latency, outcome and the output it
    produced, so a later check can mark wrong outputs as failed."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.samples: list[tuple[str, float]] = []
        self.outputs: dict[str, list] = {}
        self.errors: list[str] = []

    def run(self, layer: str, name: str, build, execute=None):
        """Time ``build()`` then ``execute(built)``; the op's latency is
        the sum and its output is what ``execute`` returns. Returns the
        built object, or None if the op raised."""
        tr = self.tracer
        t0 = time.perf_counter()
        try:
            with tr.span(layer, name, "build"):
                built = build()
            tr.plan(built)
            with tr.span(layer, name, "exec"):
                out = execute(built) if execute else built
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            self.samples.append((name, time.perf_counter() - t0))
            self.errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            self.outputs.setdefault(name, []).append(_FAILED)
            traceback.print_exc()
            return None
        self.samples.append((name, time.perf_counter() - t0))
        self.outputs.setdefault(name, []).append(out)
        return built

    def add(self, name: str, seconds: float, output) -> None:
        """Record an op timed by the program itself (a stream epoch)."""
        self.samples.append((name, seconds))
        self.outputs.setdefault(name, []).append(output)

    def count_failed(self, expected: dict, wrong: dict) -> dict[str, int]:
        """Failed ops per name: ops that raised, ops whose output differs
        from ``expected[name]``, and every op of a name in ``wrong`` (its
        checked output was found wrong)."""
        failed = {}
        for name, outs in self.outputs.items():
            n = sum(1 for o in outs if o is _FAILED or name in wrong
                    or (name in expected and not same(o, expected[name])))
            if n:
                failed[name] = n
        return failed

    def reference(self) -> dict:
        """The first successful output of each op, which every other
        iteration must reproduce."""
        ref = {}
        for name, outs in self.outputs.items():
            ok = [o for o in outs if o is not _FAILED]
            if ok:
                ref[name] = ok[0]
        return ref


def same(a, b) -> bool:
    """Equality with a relative tolerance on floats, recursing into
    tuples and lists."""
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))
    if isinstance(a, (tuple, list)) and isinstance(b, (tuple, list)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


class _Failed:
    def __repr__(self) -> str:
        return "<failed>"


_FAILED = _Failed()


class Workload:
    name = ""
    min_ops = 1  # the run extends past --seconds until this many ops
    warm_iterations = 1  # discarded before timing, part of the set-up

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.indir = os.path.join(work, "in", self.name)
        self.outdir = os.path.join(work, "out", self.name)
        self.info: dict = {}
        self.layer_counts: dict[str, float] = {}

    def prepare(self) -> list[str]:
        """Make the inputs ready; returns the input files."""
        raise NotImplementedError

    def reset(self, spark) -> None:
        """Untimed clean-up before each iteration."""

    def iterate(self, spark, ops: Ops) -> None:
        raise NotImplementedError

    def check(self, spark, ops: Ops) -> tuple[dict, dict]:
        """Returns (expected output per op name, problem per op name
        whose checked output is wrong)."""
        raise NotImplementedError


# --------------------------------------------------------------------------
class QueryMix(Workload):
    """One pass runs the 18 bench.py headline queries, each forced with
    a collect, on the committed sf0.001 test tables (``perfbench/data``),
    the tables the headline queries and their oracles were written
    against. A pass is bound by Python build and planning. The inputs
    are fixed, so the seed is unused."""

    name = "query_mix"
    # two passes: large JIT compilations land in one pass or the next
    # depending on timing, so one pass's CPU varies more than two passes'
    min_ops = 36
    DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")

    def __init__(self, work: str, seed: int):
        super().__init__(work, seed)
        self.indir = self.DATA
        self.collected: dict[str, _Collected] = {}

    def prepare(self):
        import pyarrow.parquet as pq

        paths = sorted(os.path.join(self.indir, f) for f in os.listdir(self.indir)
                       if f.endswith(".parquet"))
        self.info = {"tables": "committed sf0.001", "seed": "unused",
                     "rows": {os.path.basename(p)[:-len(".parquet")]:
                              pq.read_metadata(p).num_rows for p in paths}}
        return paths

    def _force(self, name: str, df) -> int:
        """Collect the query's rows, keep the latest for the check, and
        record the row count as the op's output."""
        got = _Collected(df)
        self.collected[name] = got
        return len(got.rows)

    def iterate(self, spark, ops):
        import __spark_entry__ as entry
        from bench import HEADLINE

        qs = entry.queries()
        for name in HEADLINE:
            ops.run("query", name, lambda: qs[name](spark, self.indir),
                    lambda df, n=name: self._force(n, df))

    def check(self, spark, ops):
        """Each oracled query's last timed output against its DuckDB
        ``oracle_sql()`` twin, through check_oracles.compare."""
        import __spark_entry__ as entry
        from bench import HEADLINE
        from check_oracles import compare
        from multi_sensor_data_pipeline_for_robotics__spark.sources.tables import TABLES

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.indir}/{t}.parquet'")
        expected, wrong = ops.reference(), {}
        for name in HEADLINE:
            if name not in oracles:
                continue  # un-oracled: every pass must reproduce the first count
            res = con.execute(oracles[name])
            rows, cols = res.fetchall(), [d[0] for d in res.description]
            expected[name] = len(rows)
            if name not in self.collected:
                wrong[name] = "no pass produced an output"
                continue
            problems = compare(name, self.collected[name], rows, cols)
            if problems:
                wrong[name] = "; ".join(problems)[:500]
        con.close()
        return expected, wrong


class _Collected:
    """A query's collected result, shaped like the DataFrame
    check_oracles.compare reads (``columns`` and ``collect()``)."""

    def __init__(self, df):
        self.columns = df.columns
        self.rows = df.collect()

    def collect(self):
        return self.rows


# --------------------------------------------------------------------------
class SensorStream(Workload):
    """One iteration drains the seeded event slices with readStream, one
    file per trigger, through sync_wide_to_parquet into a fresh sink."""

    name = "sensor_stream"
    min_ops = 12  # three drains of four epochs
    # the first drain after a single warm one is still ~15% slower than
    # the third: JIT compilation of the streaming path is not done yet
    warm_iterations = 2
    N_SLICES, ROWS = 4, 5_000

    def prepare(self):
        _rmtree(self.indir)
        slices = gen.stream_slices(self.seed, self.N_SLICES, self.ROWS)
        paths = []
        for i, tbl in enumerate(slices):
            p = os.path.join(self.indir, "src", f"slice_{i:02d}.parquet")
            gen.write(tbl, p)
            paths.append(p)
        self.info = {"slices": self.N_SLICES, "rows_per_slice": self.ROWS}
        self.drains = 0
        self.sink_rows: list[int] = []
        return paths

    def _sink(self, k: int) -> tuple[str, str]:
        return (os.path.join(self.outdir, f"sink_{k}"),
                os.path.join(self.outdir, f"ckpt_{k}"))

    def _count_sink(self, spark) -> None:
        sink = self._sink(self.drains - 1)[0]
        if not os.path.isdir(sink):  # the drain failed before writing
            self.sink_rows.append(0)
            return
        self.sink_rows.append(spark.read.parquet(sink).count())
        self.layer_counts["sources.write_bytes"] = dir_bytes(sink)

    def reset(self, spark):
        if self.drains:
            self._count_sink(spark)
            for path in self._sink(self.drains - 1):
                _rmtree(path)

    def iterate(self, spark, ops):
        from pyspark.sql import types as T

        from multi_sensor_data_pipeline_for_robotics__spark.streaming.sync_stream import (
            sync_wide_to_parquet)

        schema = T.StructType([
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ])
        sink, ckpt = self._sink(self.drains)
        self.drains += 1

        def start():
            events = (spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
                      .parquet(os.path.join(self.indir, "src")))
            return sync_wide_to_parquet(events, sink, ckpt)

        tr = ops.tracer
        t0 = time.perf_counter()
        try:
            with tr.span("stream", "start", "build"):
                q = start()
            with tr.span("stream", "drain", "exec"):
                done = q.awaitTermination(DRAIN_TIMEOUT_S)
            if not done:
                q.stop()
                raise TimeoutError(f"drain still running after {DRAIN_TIMEOUT_S} s")
            progress = [_progress_dict(p) for p in q.recentProgress]
            progress = [p for p in progress if p.get("numInputRows")]
            if len(progress) != self.N_SLICES:
                raise RuntimeError(f"{len(progress)} epochs for {self.N_SLICES} slices")
        except Exception as e:  # noqa: BLE001 — a failed drain is counted, not fatal
            ops.add("epoch", time.perf_counter() - t0, _FAILED)
            ops.errors.append(f"drain: {type(e).__name__}: {str(e)[:300]}")
            return
        for p in progress:
            ops.add("epoch", p["durationMs"]["triggerExecution"] / 1000.0, p["numInputRows"])
        tr.stream_progress(progress)

    def check(self, spark, ops):
        from pyspark.sql import functions as F

        from multi_sensor_data_pipeline_for_robotics__spark.operators.sync import synchronize

        cols, batch = None, Counter()
        for i in range(self.N_SLICES):
            df = spark.read.parquet(os.path.join(self.indir, "src", f"slice_{i:02d}.parquet"))
            cam = (df.filter(F.col("event_type") == "click")
                   .groupBy(F.col("ts").alias("timestamp")).agg(F.max("value").alias("x")))
            mot = (df.filter(F.col("event_type") == "view")
                   .groupBy(F.col("ts").alias("timestamp")).agg(F.max("value").alias("y")))
            log = df.filter(F.col("event_type").isin("error", "signup")).select(
                F.col("ts").alias("timestamp"), "event_type")
            res = synchronize(cam, mot, log, method="pad", step_ms=60_000,
                              tolerance_ms=120_000, event_types=["error", "signup"])
            cols = cols or res.df.columns
            batch.update(_row_key(r) for r in res.df.select(*cols).collect())
        self._count_sink(spark)
        sink_df = spark.read.parquet(self._sink(self.drains - 1)[0]).select(*cols)
        sink = Counter(_row_key(r) for r in sink_df.collect())
        n = sum(batch.values())
        diff = sum(((batch - sink) + (sink - batch)).values())
        wrong = {}
        if diff or any(r != n for r in self.sink_rows):
            wrong["epoch"] = (f"stream sink differs from batch synchronize per slice: "
                              f"{diff} rows, sink rows {sorted(set(self.sink_rows))} vs {n}")
        # numInputRows counts every scan of the micro-batch, so each
        # epoch must only repeat the first epoch's count
        return ops.reference(), wrong


DRAIN_TIMEOUT_S = 60


def _row_key(row) -> tuple:
    """A collected row as a hashable tuple in which NaN equals NaN."""
    return tuple("NaN" if isinstance(v, float) and math.isnan(v) else v for v in row)


def _progress_dict(p) -> dict:
    """recentProgress entries are dicts in older PySpark and progress
    objects with a ``json`` property in newer ones."""
    if isinstance(p, dict):
        return p
    import json

    return json.loads(p.json)


WORKLOADS = {w.name: w for w in (QueryMix, SensorStream)}
