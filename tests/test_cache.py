"""File-stat size estimators: one ``inputFiles()`` walk feeds the byte,
row and scan-partition estimates."""

from __future__ import annotations

import glob
import os

from multi_sensor_data_pipeline_for_robotics__spark import cache
from multi_sensor_data_pipeline_for_robotics__spark.operators import sync as S
from multi_sensor_data_pipeline_for_robotics__spark.sources.tables import (
    _estimated_scan_partitions,
)


def test_file_size_estimates_multi_file_range_and_local(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "multi")
    spark.range(3000).repartition(3).write.parquet(path)
    sizes = [os.path.getsize(f) for f in glob.glob(os.path.join(path, "*.parquet"))]
    assert len(sizes) == 3
    files = spark.read.parquet(path)

    assert sorted(cache.local_file_sizes(files)) == sorted(sizes)
    assert cache.estimated_source_bytes(files) == sum(sizes)
    # the per-file overhead is subtracted per file, floored at 0
    assert cache.estimated_source_rows(files) == 0  # tiny files < 8 KiB
    overhead = min(sizes) // 2
    assert cache.estimated_source_rows(
        files, bytes_per_row=4, per_file_overhead=overhead
    ) == sum(s - overhead for s in sizes) // 4
    assert _estimated_scan_partitions(files) == 1  # 128 MB split

    # no file scan: bytes and rows estimate 0, scan partitions unknown
    for no_files in (
        spark.range(10),
        spark.createDataFrame([(1, "a")], "id long, s string"),
    ):
        assert cache.local_file_sizes(no_files) == []
        assert cache.estimated_source_bytes(no_files) == 0
        assert cache.estimated_source_rows(no_files) == 0
        assert _estimated_scan_partitions(no_files) is None

    # synchronize's per-sensor auto-reduce gate lists the files once
    calls = []
    real = type(files).inputFiles

    def counting(self):
        calls.append(self)
        return real(self)

    monkeypatch.setattr(type(files), "inputFiles", counting)
    S._auto_reduce(files, 100, assume_network=True)
    assert len(calls) == 1
