"""Tests of the benchmark's own arithmetic on canned inputs. Run from the
repository root: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from host import tree_rss_pages  # noqa: E402
from measure import (  # noqa: E402
    Span,
    Tracer,
    attribute_tasks,
    children_share,
    failed_share,
    median,
    parse_event_log,
    self_times,
    spread,
)


def test_median_odd_even():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    assert median([7]) == 7.0
    with pytest.raises(ValueError):
        median([])


def test_spread_matches_statistics_quantiles():
    v = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 10.0, 12.0]
    q1, _, q3 = statistics.quantiles(v, n=4)
    assert spread(v) == pytest.approx((q3 - q1) / statistics.median(v))


def test_failed_share():
    assert failed_share(40, 0) == 0.0
    assert failed_share(40, 2) == 0.05
    with pytest.raises(ValueError):
        failed_share(0, 0)
    with pytest.raises(ValueError):
        failed_share(3, 4)


def _spans(*rows):
    return [Span(n, a, b, p, "r") for n, a, b, p in rows]


def test_self_time_subtracts_children():
    spans = _spans(
        ("iter", 0.0, 10.0, None),
        ("a", 1.0, 4.0, 0),
        ("b", 4.0, 9.0, 0),
        ("b.inner", 5.0, 6.0, 2),
    )
    assert self_times(spans) == pytest.approx([2.0, 3.0, 4.0, 1.0])
    assert children_share(spans, "iter") == pytest.approx(0.8)


def test_self_time_counts_overlapping_children_once():
    spans = _spans(("p", 0.0, 10.0, None), ("x", 1.0, 5.0, 0), ("y", 3.0, 6.0, 0), ("z", 9.0, 12.0, 0))
    # children cover [1, 6] and [9, 10] inside the parent
    assert self_times(spans)[0] == pytest.approx(4.0)


def test_tracer_nesting_and_disable(tmp_path):
    tr = Tracer("run-1")
    with tr.span("outer"):
        with tr.span("inner"):
            pass
        tr.enabled = False
        with tr.span("hidden"):
            pass
        tr.enabled = True
    assert [s.name for s in tr.spans] == ["outer", "inner"]
    assert tr.spans[1].parent == 0 and tr.spans[0].parent is None
    assert tr.spans[0].start <= tr.spans[1].start <= tr.spans[1].end <= tr.spans[0].end
    tr.dump(str(tmp_path / "spans.jsonl"))
    rows = [json.loads(x) for x in open(tmp_path / "spans.jsonl")]
    assert rows[1]["name"] == "inner" and rows[1]["run_id"] == "run-1"


EVENT_LOG = [
    '{"Event":"SparkListenerApplicationStart","App Name":"x"}',
    json.dumps(
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 1,
            "Task Info": {"Launch Time": 1500},
            "Task Metrics": {
                "Executor CPU Time": 2_000_000_000,
                "JVM GC Time": 30,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            },
        }
    ),
    json.dumps(
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 2,
            "Task Info": {"Launch Time": 5500},
            "Task Metrics": {"Executor CPU Time": 500_000_000, "JVM GC Time": 0},
        }
    ),
    json.dumps(
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 3,
            "Task Info": {"Launch Time": 99_000},
            "Task Metrics": {"Executor CPU Time": 1},
        }
    ),
]


def test_parse_event_log_reads_task_metrics():
    tasks = parse_event_log(EVENT_LOG)
    assert len(tasks) == 3
    assert tasks[0] == {
        "launch": 1.5, "task_cpu_s": 2.0, "gc_s": 0.03, "shuffle_write_bytes": 100
    }
    assert tasks[1]["shuffle_write_bytes"] == 0


def test_tasks_go_to_the_innermost_span():
    spans = _spans(("iter", 1.0, 10.0, None), ("kernel", 5.0, 7.0, 0))
    got = attribute_tasks(spans, parse_event_log(EVENT_LOG))
    assert got["iter"]["tasks"] == 1 and got["iter"]["task_cpu_s"] == pytest.approx(2.0)
    assert got["kernel"]["tasks"] == 1 and got["kernel"]["task_cpu_s"] == pytest.approx(0.5)
    # the task launched after every span ended is attributed to none
    assert sum(v["tasks"] for v in got.values()) == 2


def test_tree_rss_counts_a_child_sharing_its_parents_memory_once():
    # pid -> (parent pid, statm: size, resident, shared, text, lib, data, dt)
    table = {
        10: (1, (900, 500, 0, 0, 0, 400, 0)),  # the benchmark's process
        11: (10, (5000, 3000, 0, 0, 0, 4000, 0)),  # the JVM
        12: (11, (5000, 3001, 0, 0, 0, 4000, 0)),  # its vfork child before exec
        13: (11, (300, 100, 0, 0, 0, 200, 0)),  # a Python worker daemon
        14: (13, (320, 90, 0, 0, 0, 230, 0)),  # a worker that has diverged
        99: (1, (700, 700, 0, 0, 0, 600, 0)),  # not in the tree
    }
    assert tree_rss_pages(10, table) == 500 + 3000 + 100 + 90
