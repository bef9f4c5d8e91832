"""Tests for the benchmark's own helpers (no Spark session needed).

Run from the repository root:  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
# the repository root, for tools.oracle_check
sys.path.insert(0, os.path.dirname(HERE))

import datagen  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


# ------------------------------------------------------------ tail chooser


def test_tail_picks_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 101)]  # 100 samples
    # p90 leaves exactly 10 beyond it; p95 would leave 5
    assert stats.tail(xs) == (90.0, 90.0)


def test_tail_falls_back_to_lower_percentiles():
    assert stats.tail([float(i) for i in range(1, 41)]) == (75.0, 30.0)
    assert stats.tail([float(i) for i in range(1, 21)]) == (50.0, 10.0)


def test_tail_needs_twenty_samples():
    assert stats.tail([1.0] * 19) == (None, None)
    assert stats.tail([]) == (None, None)


def test_tail_ignores_input_order():
    xs = [5.0, 1.0, 9.0, 3.0] * 25
    assert stats.tail(xs) == stats.tail(sorted(xs))


# ---------------------------------------------------------- self time


def _span(start, end, parent=None):
    return {"start": start, "end": end, "parent": parent}


def test_self_time_subtracts_children():
    spans = [_span(0, 10), _span(1, 3, 0), _span(4, 8, 0), _span(5, 6, 2)]
    assert stats.self_times(spans) == [4.0, 2.0, 3.0, 1.0]


def test_self_time_counts_overlapping_children_once():
    spans = [_span(0, 10), _span(1, 5, 0), _span(3, 7, 0)]
    assert stats.self_times(spans)[0] == pytest.approx(4.0)


def test_self_time_clips_children_to_parent():
    spans = [_span(2, 6), _span(0, 3, 0), _span(5, 9, 0)]
    assert stats.self_times(spans)[0] == pytest.approx(2.0)


def test_self_times_sum_to_root_duration():
    spans = [_span(0, 10), _span(1, 4, 0), _span(2, 3, 1), _span(6, 9, 0)]
    assert sum(stats.self_times(spans)) == pytest.approx(10.0)


# ------------------------------------------------------ failure accounting


class _FakeSC:
    def __init__(self):
        self.props = {}

    def getLocalProperty(self, k):  # noqa: N802 — Spark's name
        return self.props.get(k)

    def setLocalProperty(self, k, v):  # noqa: N802
        self.props[k] = v


class _FakeSpark:
    sparkContext = _FakeSC()


class _ScriptedPipeline:
    """run_once returns the scripted results in order, then empty polls."""

    def __init__(self, results):
        self.results = list(results)

    def run_once(self, drain=False):
        if self.results:
            r = self.results.pop(0)
            if isinstance(r, Exception):
                raise r
            return {"events": r}
        return {"events": 0}


def _ctx(tmp_path, seconds=0.0):
    ctx = workloads.Ctx("jdbc_500", 1, seconds, False, str(tmp_path), str(tmp_path), None)
    ctx.spark = _FakeSpark()
    ctx.cpu_sample = lambda: (0.0, 0.0)  # no JVM to ask
    return ctx


def test_minus_one_poll_is_a_failed_op_not_zero_rows(tmp_path):
    ctx = _ctx(tmp_path)
    pipe = _ScriptedPipeline([500, -1, 500, 200])
    workloads.drive_ticks(ctx, pipe, "events", [(lambda: None, 1200)])
    kinds = [op.kind for op in ctx.ops]
    assert kinds[:4] == ["busy", "failed", "busy", "busy"]
    assert kinds[4:] == ["idle"] * workloads.MIN_IDLE_TICKS
    assert sum(op.rows for op in ctx.ops) == 1200
    attempted, failed = metrics.failure_counts(ctx)
    assert (attempted, failed) == (4 + workloads.MIN_IDLE_TICKS, 1)


def test_raising_tick_is_a_failed_op(tmp_path):
    ctx = _ctx(tmp_path)
    pipe = _ScriptedPipeline([RuntimeError("boom"), 500])
    workloads.drive_ticks(ctx, pipe, "events", [(lambda: None, 500)])
    assert [op.kind for op in ctx.ops[:2]] == ["failed", "busy"]
    assert metrics.failure_counts(ctx)[1] == 1


def test_empty_poll_with_rows_due_fails_the_run(tmp_path):
    ctx = _ctx(tmp_path)
    workloads.drive_ticks(ctx, _ScriptedPipeline([500, 0]), "events", [(lambda: None, 1000)])
    assert ctx.checks["rows_as_expected"] is False
    assert metrics.failure_counts(ctx)[1] == 2  # the empty poll + the check


def test_tick_outcome():
    assert workloads.tick_outcome(-1, 500) == "failed"
    assert workloads.tick_outcome(0, 500) == "failed"
    assert workloads.tick_outcome(600, 500) == "failed"
    assert workloads.tick_outcome(500, 500) == "busy"
    assert workloads.tick_outcome(0, 0) == "idle"


def test_oracle_mismatch_fails_the_op(tmp_path):
    oracle = workloads.OracleCheck({"q": "SELECT 1 AS x, 2.5::DOUBLE AS y"})
    sf_dir = str(tmp_path / "data")
    os.makedirs(sf_dir)
    good = workloads.Op("query", "q", 0.1, False, "g0")
    bad = workloads.Op("query", "q", 0.1, False, "g1")
    no_twin = workloads.Op("query", "other", 0.1, False, "g2")
    results = [
        (good, (["y", "x"], [(2.5, 1)]), sf_dir),  # column order is irrelevant
        (bad, (["x", "y"], [(1, 2.0)]), sf_dir),
        (no_twin, (["z"], [(7,)]), sf_dir),
    ]
    assert workloads.check_results(results, oracle) == ["q"]
    assert (good.ok, bad.ok, no_twin.ok) == (True, False, True)


def test_result_hash_is_order_insensitive_and_type_aware():
    h = workloads.result_hash
    assert h(["a"], [(1,), (2,)]) == h(["a"], [(2,), (1,)])
    assert h(["a"], [(0,)]) != h(["a"], [(0.0,)])


# ------------------------------------------------- seed → slice determinism


def test_same_seed_same_slices_other_seed_other_slices():
    a = datagen.slices(3, 100_000, 150_000)
    assert a == datagen.slices(3, 100_000, 150_000)
    assert a != datagen.slices(4, 100_000, 150_000)


def test_slices_stay_in_range_and_replay_the_same_tick_count():
    for seed in range(50):
        s = datagen.slices(seed, 100_000, 150_000)
        assert 0 <= s["jdbc_start"] <= 100_000 - datagen.JDBC_ROWS
        # the replay after the rewind is always three 25k-row ticks
        assert -(-(150_000 - 1 - s["rewind_key"]) // 25_000) == 3


def test_same_seed_same_derby_rows():
    """jdbc_500 loads events rows [jdbc_start, jdbc_start + JDBC_ROWS) of
    a table generated from a fixed seed: equal seeds give equal rows."""
    import pyarrow.compute as pc

    n, n_orders = datagen.sizes(1.0)["events"], datagen.sizes(1.0)["orders"]

    def derby_rows(seed):
        lo = datagen.slices(seed, n, n_orders)["jdbc_start"]
        t = datagen.build_tables(1.0)["events"]
        ids = t["event_id"]
        mask = pc.and_(pc.greater_equal(ids, lo), pc.less(ids, lo + datagen.JDBC_ROWS))
        return t.filter(mask)

    first = derby_rows(5)
    assert first.num_rows == datagen.JDBC_ROWS
    assert first.equals(derby_rows(5))
    assert not first.equals(derby_rows(6))


def test_csv_holds_the_slice(tmp_path):
    data = datagen.ensure_dataset(str(tmp_path), 0.2)
    path = str(tmp_path / "slice.csv")
    datagen.write_csv(data, path, "events", "event_id", 100, 600)
    with open(path) as f:
        ids = [int(line.split(",", 1)[0]) for line in f]
    assert ids == list(range(101, 601))


# ------------------------------------------------------------ CPU accounting


def test_tree_cpu_counts_a_child_that_has_exited():
    """CPU of a worker the process started, and reaped, still counts."""
    import subprocess

    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"
    before = workloads.tree_cpu_ticks(os.getpid())
    subprocess.run([sys.executable, "-c", burn], check=True)
    after = workloads.tree_cpu_ticks(os.getpid())
    assert (after - before) / workloads.CLOCK_TICKS >= 0.4
