"""Tests for the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import stats  # noqa: E402
from workloads import Ops, _FAILED, same  # noqa: E402
from spans import NullTracer, Span, self_time  # noqa: E402


# -- the generator is deterministic per seed --------------------------------
def test_stream_slices_deterministic_per_seed():
    a, b, c = (gen.stream_slices(s, 3, 400) for s in (7, 7, 8))
    assert all(x.equals(y) for x, y in zip(a, b))
    assert not any(x.equals(y) for x, y in zip(a, c))


def test_stream_slices_cover_their_own_hour():
    for i, t in enumerate(gen.stream_slices(3, 3, 400)):
        ts = t.column("ts").cast("int64").to_numpy()
        lo = gen.T0_US + i * gen.SLICE_SPAN_US
        assert lo <= ts.min() and ts.max() < lo + gen.SLICE_SPAN_US
        assert (ts[1:] >= ts[:-1]).all()


def test_written_inputs_fingerprint_repeats(tmp_path):
    paths = []
    for run in ("a", "b"):
        p = str(tmp_path / run / "slice.parquet")
        gen.write(gen.stream_slices(3, 1, 1_000)[0], p)
        paths.append(p)
    assert gen.fingerprint(paths[:1]) == gen.fingerprint(paths[1:])


# -- the tail rule ----------------------------------------------------------
@pytest.mark.parametrize("n,p", [(19, None), (20, 50), (36, 70), (40, 75),
                                 (100, 90), (200, 95), (1000, 99)])
def test_tail_percentile_is_highest_with_ten_beyond(n, p):
    assert stats.tail_percentile(n) == p
    if p is not None:
        assert n - stats.rank(n, p) >= stats.BEYOND
        higher = [q for q in stats.LADDER if q > p]
        assert all(n - stats.rank(n, q) < stats.BEYOND for q in higher)


def test_percentile_nearest_rank():
    xs = list(range(1, 41))  # 1..40
    assert stats.percentile(xs, 75) == 30  # ten samples (31..40) beyond
    assert stats.percentile(xs, 50) == 20
    assert stats.median([3, 1, 2, 4]) == 2.5


def test_steal_share_is_steal_over_all_ticks():
    before = [10, 0, 5, 100, 0, 0, 0, 20]
    after = [40, 0, 15, 150, 0, 0, 0, 30]  # 100 ticks, 10 of them stolen
    assert stats.steal_share(before, after) == pytest.approx(0.1)


def test_tree_cpu_counts_a_child_process():
    import subprocess

    before = stats.tree_cpu_s()
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.5: pass"], check=True)
    assert stats.tree_cpu_s() - before >= 0.4


# -- failures feed fail_ratio ----------------------------------------------
def _ops_with(outputs):
    ops = Ops(NullTracer())
    for name, out in outputs:
        ops.run("query", name, lambda o=out: o)
    return ops


def test_wrong_expected_output_counts_as_failed():
    ops = _ops_with([("q1", 10), ("q1", 10), ("q2", 5)])
    assert ops.count_failed({"q1": 10, "q2": 5}, {}) == {}
    assert ops.count_failed({"q1": 11, "q2": 5}, {}) == {"q1": 2}  # deliberately wrong
    assert ops.count_failed({"q1": 10, "q2": 5}, {"q2": "oracle mismatch"}) == {"q2": 1}


def test_raising_op_counts_as_failed():
    ops = Ops(NullTracer())
    ops.run("query", "ok", lambda: 1)

    def boom():
        raise RuntimeError("boom")

    assert ops.run("query", "bad", boom) is None
    assert ops.outputs["bad"] == [_FAILED]
    assert ops.count_failed({}, {}) == {"bad": 1}
    assert len(ops.samples) == 2


def test_same_tolerates_float_rounding_only():
    assert same((1.0, "a", [2.0]), (1.0 + 1e-12, "a", [2.0]))
    assert not same((1.0,), (1.1,))
    assert not same((1, 2), (1, 2, 3))


# -- span self time ---------------------------------------------------------
def test_self_time_subtracts_covered_child_intervals():
    root = Span("sync", "synchronize", "call", 0, None, 0.0, 10.0)
    for lo, hi in [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0)]:
        root.children.append(Span("sync", "c", "call", 0, root, lo, hi))
    assert self_time(root) == pytest.approx(10.0 - 3.0 - 1.0)
