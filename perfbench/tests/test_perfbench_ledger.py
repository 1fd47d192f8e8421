"""The event-log parser on a small recorded log, and the metric catalogue
against BENCHMARK.json."""

from __future__ import annotations

import json
import os

import pytest

from perfbench import metrics
from perfbench.ledger import EventLog, Tracer

HERE = os.path.dirname(__file__)
REPO = os.path.dirname(os.path.dirname(HERE))

# The recorded log: one session at local[2] that ran
#   "layer.decode": spark.range(2000, numPartitions=2) -> mapInArrow
#                   (identity) -> groupBy(id % 7).count() -> noop sink
#   "layer.plain":  spark.range(1000, numPartitions=2).groupBy(id % 3).count()
#                   -> noop sink
# trimmed to the job-start and stage-completed events.
LOG = os.path.join(HERE, "data", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def log() -> EventLog:
    return EventLog.from_dir(os.path.dirname(LOG))


def test_stages_are_attributed_to_their_job_description(log):
    assert set(log.stages) == {"layer.decode", "layer.plain"}
    decode, plain = log.metrics("layer.decode"), log.metrics("layer.plain")
    assert decode["python_stages"] == 1
    assert plain["python_stages"] == 0
    assert decode["stages"] == 2 and plain["stages"] == 2
    assert decode["tasks"] == 3 and plain["tasks"] == 3


def test_sql_and_task_metrics_are_summed_with_units(log):
    decode = log.metrics("layer.decode")
    assert decode["python_sent_bytes"] > 0
    assert decode["python_returned_bytes"] > 0
    assert decode["python_start_s"] + decode["python_init_s"] > 0
    assert decode["shuffle_write_bytes"] > 0
    assert 0 < decode["shuffle_write_s"] < 60  # nanoseconds scaled to s
    assert 0 < decode["executor_run_s"] < 600  # milliseconds scaled to s
    assert decode["shuffle_records_read"] == 14  # 7 groups x 2 map tasks
    assert log.metrics("layer.plain")["python_sent_bytes"] == 0
    assert log.total("python_sent_bytes") == decode["python_sent_bytes"]


def test_unknown_span_reads_zero(log):
    m = log.metrics("no.such.span")
    assert m["stages"] == 0 and m["executor_run_s"] == 0


class _FakeSpark:
    class sparkContext:  # noqa: N801 - mirrors the SparkSession attribute
        @staticmethod
        def setJobDescription(desc):
            pass


def test_tracer_self_time_subtracts_the_parent_prefix():
    tr = Tracer(_FakeSpark())
    tr.spans = {
        "scan": {"wall_s": 1.0, "parent": None},
        "decode": {"wall_s": 3.5, "parent": "scan"},
        "noise": {"wall_s": 0.5, "parent": "scan"},
    }
    assert tr.self_s("scan") == 1.0
    assert tr.self_s("decode") == 2.5
    assert tr.self_s("noise") == 0.0  # floored, never negative
    assert tr.self_s("absent") == 0.0
    assert tr.span("x", lambda: 42) == 42 and "x" in tr.spans


def test_benchmark_json_matches_the_catalogue():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec == metrics.benchmark_json(spec["run_seconds"])
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(len(w["why"]) <= 200 for w in spec["workloads"])
