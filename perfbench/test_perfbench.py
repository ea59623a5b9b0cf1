"""Fast tests of the benchmark's own code (no Spark):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import copy
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen_openmrs as gen  # noqa: E402
import run  # noqa: E402
from stats import tail  # noqa: E402
from tracing import (  # noqa: E402
    Recorder,
    Span,
    covered,
    read_event_log,
    self_time,
    spark_totals,
)


def _history(seed: int, n_persons: int = 60, cycles: int = 2):
    base = gen.generate(n_persons, seed)
    t = copy.deepcopy(base)
    for cycle in range(cycles):
        gen.apply_delta(t, seed, cycle)
    return base, t


def test_same_seed_gives_identical_sources_and_deltas():
    a_base, a_final = _history(7)
    b_base, b_final = _history(7)
    assert a_base == b_base
    assert a_final == b_final
    pa_ = gen.to_arrow(a_final)
    pb_ = gen.to_arrow(b_final)
    assert all(pa_[t].equals(pb_[t]) for t in gen.TABLES)


def test_different_seed_gives_different_sources_and_deltas():
    a_base, _ = _history(7)
    b_base, _ = _history(8)
    assert a_base != b_base
    # same base, different delta seed: only the deltas differ
    t1, t2 = copy.deepcopy(a_base), copy.deepcopy(a_base)
    gen.apply_delta(t1, 7, 0)
    gen.apply_delta(t2, 8, 0)
    assert t1 != t2


def test_delta_shape_and_timestamps():
    base, final = _history(3, cycles=1)
    n = {t: len(next(iter(c.values()))) for t, c in base.items()}
    m = {t: len(next(iter(c.values()))) for t, c in final.items()}
    assert m["person"] == n["person"]
    assert m["encounter"] == n["encounter"] + 3
    # 20 appended + 3 new encounters x 3 obs (+ optional multimap pair)
    assert 29 <= m["obs"] - n["obs"] <= 35
    assert m["orders"] == n["orders"] + 3
    voided = {  # rows live in the base and voided by the delta
        t: sum(
            a == 0 and b == 1
            for a, b in zip(base[t]["voided"], final[t]["voided"])
        )
        for t in ("obs", "orders")
    }
    assert voided == {"obs": 3, "orders": 2}
    edited = sum(
        a != b for a, b in zip(base["encounter"]["date_changed"],
                               final["encounter"]["date_changed"])
    )
    assert edited == 3
    # every delta row is stamped after every base timestamp
    newest = max(
        v for c in ("date_created", "date_voided")
        for v in base["obs"][c] if v is not None
    )
    assert newest < gen.DELTA_BASE
    assert sum(v == 1 for v in final["person"]["voided"]) == sum(
        v == 1 for v in base["person"]["voided"]
    )


def test_write_sources_splits_files(tmp_path):
    t = gen.generate(40, 1)
    paths = gen.write_sources(t, str(tmp_path), "x", n_files=4)
    import pyarrow.parquet as pq

    for name, d in paths.items():
        files = sorted(os.listdir(d))
        assert len(files) == 4
        rows = sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
                   for f in files)
        assert rows == len(next(iter(t[name].values())))


def _tree():
    rec = Recorder()
    run = Span(0, "engine.run", None, 0.0, 10.0)
    kids = [
        Span(1, "plans.flat_obs", 0, 1.0, 3.0),
        Span(2, "sources.footer_stats", 0, 4.0, 4.5),
        Span(3, "engine.read_target", 0, 6.0, 9.0),
    ]
    grandchild = Span(4, "sources.versioned", 3, 6.5, 8.0)
    rec.spans = [run, *kids, grandchild]
    return rec, run


def test_self_time_on_synthetic_span_tree():
    rec, run = _tree()
    children = rec.children(run)
    assert [c.sid for c in children] == [1, 2, 3]
    st = self_time(run, children)
    assert st == pytest.approx(10.0 - (2.0 + 0.5 + 3.0))
    assert st + sum(c.wall for c in children) == pytest.approx(run.wall)
    read = rec.spans[3]
    assert self_time(read, rec.children(read)) == pytest.approx(1.5)
    assert {s.sid for s in rec.subtree(run)} == {0, 1, 2, 3, 4}


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 4), (6, 7)], 0, 10) == pytest.approx(4.0)
    assert covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3.0)
    assert covered([], 0, 10) == 0.0


def test_recorder_spans_nest_and_wrap_honours_enabled():
    class Thing:
        def work(self, x):
            return x + 1

    rec = Recorder()
    rec.wrap(Thing, "work", "engine.work")
    with rec.span("op.test"):
        assert Thing().work(1) == 2
    rec.enabled = False
    assert Thing().work(2) == 3
    assert [(s.name, s.parent) for s in rec.spans] == [
        ("op.test", None), ("engine.work", 0),
    ]
    assert all(s.end >= s.start for s in rec.spans)


def test_tail_percentile_rule():
    xs = [float(i) for i in range(1, 22)]  # 21 samples
    pct, value, n = tail(xs)
    assert (n, value) == (21, 11.0)
    assert sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100 * 11 / 21)
    assert tail([5.0] * 11)[1] == 5.0
    pct, value, n = tail(list(reversed(range(100))))
    assert (pct, value) == (90.0, 89)
    with pytest.raises(ValueError):
        tail([1.0] * 10)


def test_event_log_totals(tmp_path):
    task = {
        "Executor Run Time": 1500, "Executor CPU Time": 1_000_000_000,
        "JVM GC Time": 100,
        "Input Metrics": {"Bytes Read": 2_000_000},
        "Output Metrics": {"Bytes Written": 1_000_000},
        "Shuffle Read Metrics": {
            "Remote Bytes Read": 0, "Local Bytes Read": 500_000,
        },
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 250_000},
    }
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": task},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": task},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        # job 1 lists stage 1 again (skipped) and runs stage 2
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 4000, "Stage IDs": [1, 2]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": task},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4500},
    ]
    d = tmp_path / "eventlog" / "eventlog_v2_x"
    d.mkdir(parents=True)
    (d / "events_1_x").write_text("\n".join(json.dumps(e) for e in events))
    jobs = read_event_log(str(tmp_path / "eventlog"))
    assert jobs[0]["tasks"] == 2 and jobs[1]["tasks"] == 1
    tot = spark_totals([0, 1], jobs)
    assert tot["jobs"] == 2 and tot["stages"] == 3 and tot["tasks"] == 3
    assert tot["job_s"] == pytest.approx(2.5)
    assert tot["executor_run_s"] == pytest.approx(4.5)
    assert tot["executor_cpu_s"] == pytest.approx(3.0)
    assert tot["input_mb"] == pytest.approx(6.0)
    assert tot["shuffle_read_mb"] == pytest.approx(1.5)
    assert spark_totals([1], jobs)["jobs"] == 1


@pytest.mark.parametrize("traced", [False, True])
def test_failing_operations_end_the_loop_and_count_as_failed(traced):
    bench = run.Bench("sync", 1, 0.0, traced, work="unused")
    bench.rec = Recorder() if traced else None

    def broken():
        raise RuntimeError("sync broke")

    times, flags = bench.noop_syncs(broken)
    n = 2 * run.TRACED_NOOPS if traced else run.MIN_NOOPS
    assert len(times) == len(flags) == n
    assert all(t >= 0 for t in times)
    n += run.WARMUP_NOOPS
    assert bench.attempted == bench.failed == n
    assert bench.op("rebuild", broken) >= 0
    assert bench.failed == n + 1
