"""The event-log folder, the tail-percentile rule and span self times."""

import math
import os

import pytest

from spans import EventLog, Tracer, plan_counts, tail_percentile

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog.jsonl")


@pytest.fixture(scope="module")
def log():
    return EventLog.read(FIXTURE)


def test_fold_sums_task_metrics_of_the_group(log):
    f = log.fold(["span-0"])
    assert f["jobs"] == 2
    assert f["tasks"] == 3  # stage 1 is listed by both jobs but ran no task
    assert f["executor_run_s"] == pytest.approx(0.42)
    assert f["executor_cpu_s"] == pytest.approx(0.21)
    assert f["gc_s"] == pytest.approx(0.03)
    assert f["spill_bytes"] == 12
    assert f["shuffle_write_bytes"] == 4000
    assert f["shuffle_read_bytes"] == 1000
    assert f["input_bytes"] == 12288


def test_fold_takes_the_latest_plan_of_an_execution(log):
    # the adaptive update replaced the initial plan: one shuffle Exchange,
    # one BroadcastExchange, one file scan (the in-memory scan is not a file)
    f = log.fold(["span-0"])
    assert (f["exchanges"], f["scans"]) == (2, 1)


def test_fold_task_skew_is_worst_stage_max_over_median(log):
    # stage 0 task durations 100 and 400 ms: median 250, max 400
    assert log.fold(["span-0"])["task_skew"] == pytest.approx(1.6)


def test_fold_keeps_groups_apart(log):
    run = log.fold(["2f1c0ffe-run-id"])
    assert (run["jobs"], run["tasks"], run["input_bytes"]) == (1, 1, 100)
    assert run["executor_run_s"] == pytest.approx(0.05)
    none = log.fold(["span-9"])
    assert none["jobs"] == none["tasks"] == none["exchanges"] == 0
    both = log.fold(["span-0", "2f1c0ffe-run-id"])
    assert both["tasks"] == 4
    ungrouped = log.fold([""])
    assert (ungrouped["jobs"], ungrouped["tasks"]) == (1, 1)


def test_plan_counts_names():
    plan = {
        "nodeName": "Exchange",
        "children": [{"nodeName": "Scan parquet ", "children": []}, {"nodeName": "Scan csv "}],
    }
    assert plan_counts(plan) == {"exchanges": 1, "scans": 2}
    assert plan_counts({}) == {"exchanges": 0, "scans": 0}


def test_tail_needs_more_than_ten_samples():
    assert tail_percentile([1.0] * 10) is None
    assert tail_percentile([]) is None
    pct, value, n = tail_percentile(list(range(11)))
    assert (pct, value, n) == (9, 0, 11)


def test_tail_of_a_hundred_is_p90():
    values = [float(v) for v in range(100, 0, -1)]
    assert tail_percentile(values) == (90, 90.0, 100)


def test_tail_is_the_highest_percentile_with_ten_beyond():
    for n in range(11, 400):
        values = list(range(n))
        pct, value, _ = tail_percentile(values)
        rank = math.ceil(pct * n / 100)
        assert value == values[rank - 1]
        assert n - rank >= 10  # at least ten samples beyond the reported value
        if pct < 99:  # one percentile higher would leave fewer than ten beyond
            assert n - math.ceil((pct + 1) * n / 100) < 10, n


def test_self_time_subtracts_children():
    t = Tracer()
    with t.span("pass"):
        with t.span("a.x"):
            pass
        with t.span("b.y"):
            with t.span("c.z"):
                pass
    s = {x["name"]: x for x in t.spans}
    self_times = t.self_times()
    dur = {k: v["end"] - v["start"] for k, v in s.items()}
    assert self_times[s["pass"]["id"]] == pytest.approx(dur["pass"] - dur["a.x"] - dur["b.y"])
    assert self_times[s["b.y"]["id"]] == pytest.approx(dur["b.y"] - dur["c.z"])
    assert s["c.z"]["parent"] == s["b.y"]["id"]
    assert t.groups == {f"span-{i}": i for i in range(4)}
