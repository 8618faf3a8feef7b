"""Tests of the benchmark harness's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402
from spans import Span, engine_spans_and_metrics, self_time_by_name, self_times  # noqa: E402

# -- percentiles ---------------------------------------------------------------


def test_percentile_value_and_samples_beyond():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 90) == (90, 10)
    assert stats.percentile(xs, 50) == (50, 50)
    assert stats.percentile(xs, 100) == (100, 0)


def test_percentile_is_order_free_and_nearest_rank():
    assert stats.percentile([5, 1, 4, 2, 3], 50) == (3, 2)
    assert stats.percentile([10.0, 20.0], 90) == (20.0, 0)
    assert stats.percentile([7], 50) == (7, 0)


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.percentile([], 50)


# -- the wildcard oracle ---------------------------------------------------------

# A tiny corpus in the style of FIXTURES.md section 2.
CORPUS = [
    "Task MyDog123 started by user42 from APet4123/test.txt",  # 0
    "statictext and more static text",  # 1
    "used 123 of 4.2 GB in 1.9 seconds",  # 2
    "value=abc123 mode=fast",  # 3
    "hash deadBEEF21 commit 231ACDFE21",  # 4
    "grid 3x3 cells in a quick scan",  # 5
    "error at 2016-05-08 07:34:05.254\nis multiline\ncaused by 123",  # 6
    "ratio 3*3 literal star",  # 7
    "cache hit 42 times",  # 8
]

# FIXTURES.md section 4 golden queries -> expected row ids (worked by hand)
GOLDEN = [
    ("Task * started", False, [0]),
    (" 3?3 ", False, [5, 7]),
    ("*q*", False, [5]),
    ("c*4", False, [8]),
    ("123", False, [0, 2, 3, 6]),
    ("4.2", False, [2]),
    ("231ACDFE21", False, [4]),
    ("task * STARTED", True, [0]),
    ("deadbeef", True, [4]),
    ("deadbeef", False, []),
    ("3\\*3", False, [7]),
    ("at*is multiline*caused", False, [6]),
    ("mode=f?st", False, [3]),
]


def python_regex(java_regex: str) -> re.Pattern:
    """The oracle's pattern compiled for Python, which reads it like Java
    except for the \\x{..} escape."""
    return re.compile(re.sub(r"\\x\{([0-9a-f]+)\}", lambda m: "\\U%08x" % int(m.group(1), 16), java_regex))


def _hits(query, ignore_case):
    rx = python_regex(stats.wildcard_to_java_regex(query, ignore_case))
    return [i for i, text in enumerate(CORPUS) if rx.search(text)]


@pytest.mark.parametrize("query,ignore_case,expected", GOLDEN)
def test_wildcard_oracle_golden_queries(query, ignore_case, expected):
    assert _hits(query, ignore_case) == expected


def test_wildcard_oracle_escapes_regex_metacharacters():
    for query in ["a.b", "(x)", "[1]", "a+b", "^$", "a|b", "{2}"]:
        rx = python_regex(stats.wildcard_to_java_regex(query))
        assert rx.search("zz" + query + "zz")
        assert not rx.search(query.replace(query[1], "#", 1) if len(query) > 1 else "#")


def test_wildcard_oracle_non_ascii_literal():
    rx = python_regex(stats.wildcard_to_java_regex("naïve*café"))
    assert rx.search("a naïve little café") and not rx.search("a naive little cafe")


def test_wildcard_oracle_drops_trailing_lone_escape():
    assert stats.wildcard_to_java_regex("abc\\") == stats.wildcard_to_java_regex("abc")


# -- span self time ----------------------------------------------------------------


def _span(sid, parent, name, start, end):
    return Span(sid, parent, name, float(start), float(end))


def test_self_time_subtracts_union_of_overlapping_children():
    spans = [
        _span("a", None, "op", 0, 10),
        _span("b", "a", "job", 1, 3),
        _span("c", "a", "job", 2, 5),  # overlaps b
        _span("d", "a", "job", 8, 12),  # runs past its parent
        _span("e", "c", "stage", 2, 4),
    ]
    st = self_times(spans)
    assert st["a"] == pytest.approx(10 - (4 + 2))
    assert st["b"] == pytest.approx(2)
    assert st["c"] == pytest.approx(1)
    assert st["d"] == pytest.approx(4)
    assert st["e"] == pytest.approx(2)


def test_self_times_of_a_nested_tree_sum_to_the_root():
    spans = [
        _span("r", None, "op", 0, 20),
        _span("x", "r", "plan", 0, 5),
        _span("y", "r", "exec", 6, 20),
        _span("z", "y", "job", 7, 19),
    ]
    assert sum(self_times(spans).values()) == pytest.approx(20)
    by_name = self_time_by_name(spans)
    assert by_name == pytest.approx({"op": 1, "plan": 5, "exec": 2, "job": 12})


def test_event_log_jobs_become_child_spans_and_metrics_group_by_op():
    spans = [_span("s0", None, "ingest_full", 100, 110), _span("s1", "s0", "inner", 101, 109)]
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 101000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "s1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 50000,
         "Stage IDs": [1], "Properties": {"spark.jobGroup.id": "elsewhere"}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 101500, "Completion Time": 104000}},
    ]
    for run_ms in (100, 100, 300):
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": 0,
            "Task Metrics": {"Executor CPU Time": 5e7, "Executor Run Time": run_ms,
                             "JVM GC Time": 10, "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}},
            "Task Info": {"Accumulables": [{"Name": "data sent to Python workers", "Update": 1000}]},
        })
    events.append({"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 105000})
    extra, metrics, stage_tasks = engine_spans_and_metrics(events, spans)
    assert [(s.id, s.parent, s.name) for s in extra] == [("j0", "s1", "spark.job"), ("j0st0", "j0", "spark.stage")]
    m = metrics["ingest_full"]
    assert m["tasks"] == 3 and m["jobs"] == 1
    assert m["task_cpu_s"] == pytest.approx(0.15)
    assert m["task_run_s"] == pytest.approx(0.5)
    assert m["shuffle_write_bytes"] == 21
    assert m["python_sent_bytes"] == 3000
    assert stage_tasks == {0: [pytest.approx(0.1), pytest.approx(0.1), pytest.approx(0.3)]}
    assert self_times(spans + extra)["s1"] == pytest.approx(8 - 4)
