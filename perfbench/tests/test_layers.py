"""Event-log parsing into per-layer Spark counters, and span arithmetic.

tests/data holds a recorded local[4] Spark 4.1 event log (reduced to the
fields layers.py reads) and the spans open while it was recorded:

- `cdx`: groupBy(id % 7).count() over range(20000, 4 partitions); with
  AQE that is a map-stage job (4 tasks) and a result job (1 task).
- `bootstrap` > `checkpoint.commit`: a 2-partition parquet write.
- `dedup.verify`: sum(id) over range(100, 3 partitions).
- one collect before and one after the spans.
"""

from __future__ import annotations

import json
import os

import pytest

from harness import Span, Tracer
from layers import PER_LAYER, layer_counters, read_events

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@pytest.fixture(scope="module")
def recorded():
    events = read_events(os.path.join(DATA, "eventlog.jsonl"))
    with open(os.path.join(DATA, "spans.jsonl")) as f:
        spans = [json.loads(line) for line in f]
    return layer_counters(events, spans)


def test_recorded_log_jobs_stages_tasks(recorded):
    assert recorded["spark.cdx.jobs"] == 2
    assert recorded["spark.cdx.stages"] == 2
    assert recorded["spark.cdx.tasks"] == 5
    assert recorded["spark.dedup.jobs"] == 2
    assert recorded["spark.dedup.tasks"] == 4


def test_recorded_log_shuffle_is_conserved(recorded):
    # local mode: every byte a map stage writes is read back
    for layer in ("cdx", "dedup"):
        w = recorded[f"spark.{layer}.shuffle_write_bytes"]
        assert w > 0
        assert recorded[f"spark.{layer}.shuffle_read_bytes"] == w


def test_recorded_log_commit_inside_bootstrap_counts_as_bootstrap(recorded):
    assert recorded["spark.bootstrap.jobs"] == 1
    assert recorded["spark.bootstrap.tasks"] == 2
    assert recorded["spark.checkpoint.jobs"] == 0


def test_recorded_log_jobs_outside_spans_are_dropped(recorded):
    total = sum(recorded[f"spark.{layer}.jobs"] for layer in ("cdx", "bootstrap", "dedup"))
    assert total == 5  # 7 jobs in the log, 2 ran outside any span


def test_recorded_log_reports_every_counter(recorded):
    assert set(recorded) == {k for k in PER_LAYER if k.startswith("spark.")}
    assert recorded["spark.cdx.executor_cpu_s"] > 0


def _span(name, start, end, parent=None):
    return {"name": name, "start": start, "end": end, "parent": parent}


def _task(stage, ms, cpu_ns=0, written=0, spilled=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": 0, "Finish Time": ms},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": 10,
            "Disk Bytes Spilled": spilled,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0},
        },
    }


def _stage(stage, t_ms):
    return {"Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": stage, "Submission Time": t_ms}}


def test_innermost_span_wins_and_counters_are_per_occurrence():
    # two iterations, each with a commit child; stage 1 in the first
    # iteration's own time, stage 2 in its commit, stage 3 in iteration 2
    spans = [
        _span("scheduler.run_iteration", 0.0, 10.0),
        _span("checkpoint.commit", 6.0, 9.0, parent=0),
        _span("scheduler.run_iteration", 10.0, 20.0),
    ]
    events = [
        _stage(1, 1000), _task(1, 100, cpu_ns=2e9), _task(1, 300, spilled=7),
        _stage(2, 7000), _task(2, 50, written=40),
        _stage(3, 12000), _task(3, 100, cpu_ns=1e9),
    ]
    out = layer_counters(events, spans)
    assert out["spark.scheduler.stages"] == 1.0  # 2 stages / 2 iterations
    assert out["spark.scheduler.tasks"] == 1.5
    assert out["spark.scheduler.executor_cpu_s"] == 1.5
    assert out["spark.scheduler.spill_bytes"] == 3.5
    assert out["spark.scheduler.task_skew"] == 1.5  # 300 / median(100, 300)
    assert out["spark.checkpoint.stages"] == 1.0
    assert out["spark.checkpoint.shuffle_write_bytes"] == 40
    assert out["spark.checkpoint.gc_s"] == pytest.approx(0.01)


def test_tracer_self_time_subtracts_children():
    tr = Tracer(True)
    tr.spans = [
        Span("scheduler.run_iteration", 0.0, 10.0, None, 1),
        Span("checkpoint.commit", 6.0, 9.0, 0, 1),
        Span("scheduler.run_iteration", 10.0, 14.0, None, 2),
    ]
    assert tr.self_time("scheduler.run_iteration") == {1: 7.0, 2: 4.0}
    assert tr.durations("checkpoint.commit") == {1: 3.0}


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("cdx") as s:
        assert s is None
    assert tr.spans == []
