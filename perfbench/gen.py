"""Seeded input generator for sensor_stream, and the input fingerprint.

The generator is a pure function of its seed and sizes (numpy
``default_rng``), builds pyarrow tables in the benchmark process and writes
them as parquet. It lives here, not in the package's ``sources.datagen``,
so a change to the program cannot change a workload's inputs. query_mix
reads the committed tables under ``perfbench/data`` instead.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
TS = pa.timestamp("us", tz="UTC")
SLICE_SPAN_US = 3_600_000_000  # each slice covers its own hour

STREAM_TYPES = ["click", "view", "error", "signup"]
STREAM_TYPE_P = [0.4, 0.4, 0.1, 0.1]


def stream_slices(seed: int, n_slices: int, rows: int) -> list[pa.Table]:
    """``n_slices`` events-shaped slices, each covering its own hour, so
    each micro-batch is a self-contained synchronize window."""
    out = []
    for i in range(n_slices):
        r = np.random.default_rng([seed, 100 + i])
        ts = np.sort(T0_US + i * SLICE_SPAN_US + r.integers(0, SLICE_SPAN_US, rows))
        out.append(pa.table({
            "event_id": np.arange(i * rows, (i + 1) * rows, dtype=np.int64),
            "ts": pa.array(ts, TS),
            "event_type": r.choice(STREAM_TYPES, rows, p=STREAM_TYPE_P),
            "value": np.round(r.uniform(0.01, 490.0, rows), 2),
        }))
    return out


def write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def fingerprint(paths: list[str]) -> str:
    """sha256 over the bytes of the input files, in order."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]
