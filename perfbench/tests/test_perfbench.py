"""The benchmark's own tests: seeded inputs, percentile and latency
arithmetic, span self time and event-log folding. No Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import math
import os

import numpy as np
import pytest

import batch
import gen
import host
import spans
from stats import consumed_files, file_latencies_ms, geomean, percentile, progress_end_ms

SPEC = gen.EventSpec(n_files=3, events_per_file=500)


def _same_files(a: list[str], b: list[str]) -> bool:
    return all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, b))


def test_event_files_are_byte_identical_per_seed(tmp_path):
    a = gen.write_event_files(str(tmp_path / "a"), SPEC, seed=5)
    b = gen.write_event_files(str(tmp_path / "b"), SPEC, seed=5)
    c = gen.write_event_files(str(tmp_path / "c"), SPEC, seed=6)
    assert _same_files(a.paths, b.paths)
    assert a.late_ids == b.late_ids
    assert not any(filecmp.cmp(x, y, shallow=False) for x, y in zip(a.paths, c.paths))


def test_tables_are_byte_identical_per_seed(tmp_path):
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.write_tables(str(tmp_path / name), 0.001, seed)
    files = sorted(os.listdir(tmp_path / "a"))
    assert len(files) == 10
    same = [filecmp.cmp(tmp_path / "a" / f, tmp_path / "b" / f, shallow=False) for f in files]
    assert all(same)
    differ = [not filecmp.cmp(tmp_path / "a" / f, tmp_path / "c" / f, shallow=False)
              for f in files if f not in ("region.parquet", "nation.parquet")]
    assert all(differ)


def test_event_knobs_hold():
    table, late = gen.events_table(SPEC, seed=3, file_no=2)
    ts = table.column("ts").to_numpy().astype("datetime64[us]").astype(np.int64)
    start = gen.T0_US + 2 * 60 * gen.MINUTE_US
    # Late rows sit 4-5 hours behind the file start; the rest at most
    # jitter_min before it, and the anchor row is the newest.
    assert late.any()
    assert (ts[late] <= start - 4 * 60 * gen.MINUTE_US).all()
    assert (ts[~late] >= start - SPEC.jitter_min * gen.MINUTE_US).all()
    assert ts[-1] == ts.max() == start + 60 * gen.MINUTE_US - 1_000_000
    assert table.column("value")[len(table) - 1].is_valid
    first, late0 = gen.events_table(SPEC, seed=3, file_no=0)
    assert not late0.any()


def test_draw_is_stratified_over_the_whole_pool():
    pool = batch.load_pool()
    a = batch.draw(pool)
    assert a == batch.draw(pool)
    assert len(set(a)) == len(a) == batch.STRATA
    # One pick per stratum of the cost-sorted pool, in stratum order, the
    # dearest stratum included.
    ranked = [n for _, n in sorted((i["cost_s"], n) for n, i in pool.items()
                                   if i["check_s"] <= batch.MAX_CHECK_S)]
    assert len(ranked) >= len(pool) - 2
    positions = [ranked.index(n) for n in a]
    assert positions == sorted(positions)
    for k, pos in enumerate(positions):
        assert k * len(ranked) // batch.STRATA <= pos < (k + 1) * len(ranked) // batch.STRATA


def test_run_order_is_seeded_over_a_fixed_draw():
    pool = batch.load_pool()
    a, b, c = batch.queries(1, pool), batch.queries(1, pool), batch.queries(2, pool)
    assert a == b
    assert a != c
    assert sorted(a) == sorted(c) == sorted(batch.draw(pool))


def test_percentile_matches_numpy():
    rng = np.random.default_rng(0)
    for size in (1, 2, 7, 30):
        xs = rng.exponential(3.0, size).tolist()
        for q in (0, 10, 50, 90, 100):
            assert percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))
    with pytest.raises(ValueError):
        percentile([], 50)


def test_geomean():
    assert geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def _progress(ts: str, trigger_ms: float, start, end, rows: int) -> dict:
    return {
        "timestamp": ts,
        "durationMs": {"triggerExecution": trigger_ms},
        "numInputRows": rows,
        "sources": [{
            "startOffset": None if start is None else {"logOffset": start},
            "endOffset": None if end is None else {"logOffset": end},
        }],
    }


def test_latency_from_synthetic_progress():
    # Files 0 and 1 due at t=0 and t=1000 ms (epoch ms); the first trigger
    # starts at 500 ms and takes 700 ms, the second reads file 1, a no-data
    # trigger reads nothing.
    base = "1970-01-01T00:00:00.500Z"
    p0 = _progress(base, 700, None, 0, 10)
    p1 = _progress("1970-01-01T00:00:01.400Z", 300, 0, 1, 10)
    idle = _progress("1970-01-01T00:00:02.000Z", 5, 1, 1, 0)
    assert progress_end_ms(p0) == pytest.approx(1200.0)
    assert list(consumed_files(p0)) == [0]
    assert list(consumed_files(p1)) == [1]
    assert list(consumed_files(idle)) == []
    lat = file_latencies_ms([p0, p1, idle], [0.0, 1000.0])
    assert lat == {0: pytest.approx(1200.0), 1: pytest.approx(700.0)}
    # A trigger that reads two files serves both; a file beyond the
    # schedule is ignored.
    both = _progress(base, 100, None, 2, 20)
    assert file_latencies_ms([both], [0.0, 100.0]) == {
        0: pytest.approx(600.0), 1: pytest.approx(500.0)
    }


def test_self_time_subtracts_children():
    t = spans.Tracer()
    parent = t.add("plans.build", "plans", 0.0, 10.0, "q")
    t.add("operators.x", "operators", 1.0, 4.0, "q", parent.id)
    t.add("operators.y", "operators", 3.0, 6.0, "q", parent.id)  # overlaps x
    rows = spans.self_times(t.spans)
    assert rows["plans"]["self_s"] == pytest.approx(5.0)
    assert rows["operators"]["total_s"] == pytest.approx(6.0)


def test_tracer_patch_records_and_restores():
    class Box:
        @staticmethod
        def f(x):
            return x + 1

    t = spans.Tracer()
    original = Box.f
    t.patch(Box, "f", "operators")
    with t.trace("q1"):
        assert Box.f(1) == 2
    t.uninstall()
    assert Box.f is original
    (s,) = t.spans
    assert (s.name, s.layer, s.trace) == ("operators.f", "operators", "q1")


def test_event_log_folds_per_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "run:q"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Info": {"Failed": False},
         "Task Metrics": {"Executor Run Time": 200, "Executor CPU Time": 150_000_000,
                          "JVM GC Time": 10, "Memory Bytes Spilled": 5,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
                          "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Info": {"Failed": True},
         "Task Metrics": {"Executor Run Time": 100}},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups, jobs = spans.parse_event_log(str(tmp_path))
    assert jobs == {"run:q": 1, "": 1}
    run = groups["run:q"]
    assert (run["tasks"], run["cpu_s"], run["executor_run_s"]) == (1, 0.15, 0.2)
    assert (run["shuffle_write_bytes"], run["shuffle_read_bytes"], run["spill_bytes"]) == (64, 3, 5)
    assert groups[""]["failed_tasks"] == 1
    ops = spans.operator_metrics(groups, lambda g: g.startswith("run:"), 1.0)
    assert ops["operators.cpu_share"] == pytest.approx(0.75)


def test_steal_share():
    before = [0] * 10
    after = [60, 0, 20, 10, 0, 0, 0, 10, 0, 0]
    assert host.steal_pct(before, after) == pytest.approx(10.0)
    assert math.isfinite(host.tree_cpu_s())
