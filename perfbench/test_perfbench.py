"""Self-tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import tracing  # noqa: E402

SMALL = gen.Scale(users=20, events=300, orders=60, customers=20, parts=20)
TINY_LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "tiny_eventlog.json")


def _ods(seed):
    return gen.derive_ods(gen.source_tables(seed, SMALL), seed)


def test_generator_same_seed_same_output():
    a, b = _ods(7), _ods(7)
    assert a.log == b.log and a.cdc == b.cdc and a.dims == b.dims and a.counts == b.counts


def test_generator_different_seed_different_output():
    a, b = _ods(7), _ods(8)
    assert a.log != b.log and a.cdc != b.cdc


def test_generator_writes_same_files(tmp_path):
    for d in ("a", "b"):
        gen.write_ods(_ods(3), str(tmp_path / d), backlog_files=2)
    for sub in ("log", "cdc", "backlog_log", "backlog_cdc"):
        for name in os.listdir(tmp_path / "a" / sub):
            assert (tmp_path / "a" / sub / name).read_bytes() == (tmp_path / "b" / sub / name).read_bytes()


def test_generator_mid_ts_unique():
    """The apps tie-break on (mid, ts); the generator must not collide."""
    seen = set()
    for _, line in _ods(5).log:
        try:
            e = json.loads(line)
        except json.JSONDecodeError:
            continue
        key = (e["common"]["mid"], e["ts"])
        assert key not in seen
        seen.add(key)


def test_percentile_refuses_without_ten_beyond():
    with pytest.raises(ValueError):
        tracing.percentile(list(range(91)), 0.9)  # 9 samples beyond p90
    assert tracing.percentile(list(range(101)), 0.9) == 90
    with pytest.raises(ValueError):
        tracing.percentile(list(range(19)), 0.5)
    assert tracing.percentile(list(range(21)), 0.5) == 10


def test_self_time_is_duration_minus_children():
    tr = tracing.Tracer()
    root = tr.record("root", "bench", 0.0, 10.0, None)
    tr.record("a", "dwd", 1.0, 4.0, root)
    tr.record("b", "dwm", 3.0, 6.0, root)   # overlaps a: covered 1..6
    tr.record("c", "dws", 8.0, 12.0, root)  # runs past the root: clipped at 10
    assert tr.self_time(root) == pytest.approx(10.0 - 5.0 - 2.0)
    leaf = tr.spans[1]
    assert tr.self_time(leaf) == pytest.approx(3.0)


def test_attribution_adds_up_and_matches_self_time_when_sequential():
    tr = tracing.Tracer()
    root = tr.record("root", "bench", 0.0, 10.0, None)
    tr.record("a", "dwd", 1.0, 4.0, root)
    tr.record("b", "dwm", 5.0, 9.0, root)
    shares = tr.attribute(root)
    assert shares == pytest.approx({"bench": 3.0, "dwd": 3.0, "dwm": 4.0})
    tr.record("c", "ads", 2.0, 3.0, root)  # now concurrent with a
    shares = tr.attribute(root)
    assert sum(shares.values()) == pytest.approx(10.0)
    assert shares["ads"] == pytest.approx(0.5) and shares["dwd"] == pytest.approx(2.5)


def test_union_length():
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.union_length([(0, 2), (1, 3)], lo=1.5, hi=2.5) == 1


def test_rollup_of_captured_tiny_job():
    """The log comes from one job group running a 4-partition groupBy
    (captured by perfbench/testdata/capture_tiny_eventlog.py). Cross-check the roll-up,
    which keys stages by their submission properties, against a second
    route through the jobs' stage lists."""
    groups = tracing.rollup_event_log(TINY_LOG)
    assert set(groups) == {"tiny-group"}
    g = groups["tiny-group"]
    stage_job, group_of_job, tasks, shuffle, cpu = {}, {}, 0, 0, 0.0
    with open(TINY_LOG) as f:
        events = [json.loads(line) for line in f]
    for ev in events:
        if ev["Event"] == "SparkListenerJobStart":
            group_of_job[ev["Job ID"]] = ev["Properties"].get("spark.jobGroup.id")
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, ev["Job ID"])
    for ev in events:
        if ev["Event"] == "SparkListenerTaskEnd" and group_of_job[stage_job[ev["Stage ID"]]] == "tiny-group":
            tasks += 1
            shuffle += ev["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            cpu += ev["Task Metrics"]["Executor CPU Time"] / 1e6
    assert g.tasks == tasks > 4
    assert g.shuffle_write_bytes == shuffle > 0
    assert g.executor_cpu_ms == pytest.approx(cpu)
    assert len(g.jobs) >= 1 and all(b >= a for a, b in g.jobs)
