"""Event-log parsing and span attribution, against a committed
uncompressed event log: a pandas-UDF projection feeding a grouped
aggregate, written by pyspark 4.1.2 (job 0 runs the UDF stage on two
tasks; job 1 skips that stage and runs the final aggregate)."""

import json
import os

import pytest

from perfbench.run import END_TO_END, PER_LAYER
from perfbench.trace import (
    PY_METRICS,
    Span,
    attribute,
    read_event_log,
    self_seconds,
)

HERE = os.path.dirname(os.path.abspath(__file__))
LOG = os.path.join(HERE, "data", "pyudf_eventlog.json")


def test_python_worker_metric_names_are_pinned():
    names = set()
    with open(LOG) as f:
        for line in f:
            ev = json.loads(line)
            if ev["Event"] == "SparkListenerTaskEnd":
                names |= {
                    a["Name"] for a in ev["Task Info"]["Accumulables"]
                    if "Python" in a["Name"]
                }
    assert names == set(PY_METRICS)


def test_jobs_tasks_and_metrics():
    jobs = read_event_log(LOG)
    assert [j.id for j in jobs] == [0, 1]
    udf, agg = jobs
    assert (udf.tasks, udf.stages_run) == (2, {0})
    # stage 1 is the reused shuffle map stage: listed, never run
    assert (agg.stages, agg.stages_run, agg.tasks) == ([1, 2], {2}, 1)
    m = udf.metrics
    assert m["operators.py_bytes_out"] == 8416
    assert m["operators.py_bytes_back"] == 8288
    assert m["operators.py_start_s"] == pytest.approx(3.210)
    assert m["operators.py_init_s"] == pytest.approx(2.104)
    assert m["operators.py_run_s"] == pytest.approx(5.330)
    assert m["spark.task_s"] == pytest.approx(6.248)
    assert m["spark.shuffle_bytes"] == 262
    assert "operators.py_run_s" not in agg.metrics
    assert agg.metrics["spark.task_s"] == pytest.approx(0.112)
    assert udf.submitted == pytest.approx(1792212555.172)


def test_attribute_by_submission_time():
    jobs = read_event_log(LOG)
    t0, t1 = jobs[0].submitted, jobs[1].submitted
    spans = [
        Span(0, "op", t0 - 1, t1 + 1, None, 0),
        Span(1, "plans.build", t0 - 0.5, t0 + 0.5, 0, 0),
        Span(2, "spark.run", t1 - 0.0005, t1 + 0.5, 0, 0),
        Span(3, "op", t1 + 5, t1 + 6, None, 1),
    ]
    by_span = attribute(spans, jobs)
    # innermost open span wins; a submission time is truncated to the
    # millisecond, so a span opened within that millisecond still owns it
    assert {k: [j.id for j in v] for k, v in by_span.items()} == {1: [0], 2: [1]}
    # a job outside every span is dropped
    assert attribute(spans[3:], jobs) == {}


def test_sibling_that_ended_earlier_does_not_take_the_job():
    jobs = read_event_log(LOG)[:1]
    t = jobs[0].submitted
    spans = [
        Span(0, "op", t - 1, t + 1, None, 0),
        Span(1, "operators.upsert", t - 0.5, t - 0.0002, 0, 0),
        Span(2, "quality.gate", t + 0.0002, t + 0.5, 0, 0),
    ]
    assert [j.id for j in attribute(spans, jobs)[2]] == [0]


def test_self_seconds_subtracts_covered_union():
    spans = [
        Span(0, "op", 0.0, 10.0, None, 0),
        Span(1, "a", 1.0, 3.0, 0, 0),
        Span(2, "b", 2.0, 5.0, 0, 0),
        Span(3, "c", 7.0, 8.0, 0, 0),
        Span(4, "grandchild", 7.2, 7.4, 3, 0),
    ]
    assert self_seconds(spans[0], spans) == pytest.approx(5.0)


def test_metric_names_match_benchmark_json():
    with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
