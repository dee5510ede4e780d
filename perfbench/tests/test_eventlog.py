"""The event-log parser on a small canned log."""

from __future__ import annotations

import json

import pytest

from perfbench import eventlog


def _line(event: dict) -> str:
    # Spark writes compact JSON with "Event" as the first key
    return json.dumps(event, separators=(",", ":")) + "\n"


def _job_start(jid, stages, op=None, desc=None, t=1000):
    props = {"spark.app.id": "local-1"}
    if desc is not None:
        props["spark.job.description"] = desc
    if op is not None:
        props["perfbench.op"] = op
    return _line({"Event": "SparkListenerJobStart", "Job ID": jid,
                  "Submission Time": t, "Stage IDs": stages,
                  "Properties": props})


def _job_end(jid, t):
    return _line({"Event": "SparkListenerJobEnd", "Job ID": jid,
                  "Completion Time": t, "Job Result": {"Result": "JobSucceeded"}})


def _task_end(stage, cpu_ns=0, gc_ms=0, read=(0, 0), written=0, spill=(0, 0),
              py_ms=None, py_bytes=None):
    acc = [{"ID": 1, "Name": "number of output rows", "Update": "7"}]
    if py_ms is not None:
        acc.append({"ID": 2, "Name": "time to run Python workers",
                    "Update": str(py_ms)})
    if py_bytes is not None:
        acc.append({"ID": 3, "Name": "data sent to Python workers",
                    "Update": str(py_bytes)})
    return _line({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": acc},
        "Task Metrics": {
            "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spill[0], "Disk Bytes Spilled": spill[1],
            "Shuffle Read Metrics": {"Remote Bytes Read": read[0],
                                     "Local Bytes Read": read[1]},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
        },
    })


@pytest.fixture
def canned() -> list[str]:
    return [
        _line({"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"}),
        # warmup job: no labels
        _job_start(0, [0], t=100),
        _task_end(0, cpu_ns=5_000_000_000),
        _job_end(0, 400),
        # two jobs of one stage label
        _job_start(1, [1, 2], op="warm1", desc="stage:signatures", t=1000),
        _task_end(1, cpu_ns=1_000_000_000, gc_ms=250, read=(10, 20), written=30,
                  py_ms=1500, py_bytes=4096),
        _task_end(2, cpu_ns=500_000_000, spill=(7, 3), py_ms=500, py_bytes=1024),
        _job_end(1, 1600),
        # stage 2 is listed again (skipped) by the next job: its tasks ran
        # under job 1 and must not be counted twice or moved
        _job_start(2, [2, 3], op="warm1", desc="stage:signatures", t=1700),
        _task_end(3, cpu_ns=250_000_000),
        _job_end(2, 1800),
        # a SQL plan event is skipped without being decoded
        '{"Event":"org.apache.spark.sql.execution.ui.'
        'SparkListenerSQLExecutionStart","physicalPlanDescription": <huge>\n',
        # the same stage name in another op stays separate
        _job_start(3, [4], op="cold", desc="stage:signatures", t=2000),
        _task_end(4, cpu_ns=2_000_000_000),
        _job_end(3, 2100),
        _job_start(4, [5], op="warm1", desc="stage:components", t=3000),
        _task_end(5, cpu_ns=100_000_000),
        _job_end(4, 3050),
    ]


def test_sums_per_description_and_op(canned):
    sums = eventlog.parse(canned)
    sig = sums[("warm1", "stage:signatures")]
    assert sig["jobs"] == 2
    assert sig["job_ms"] == [600, 100]
    assert sig["cpu_s"] == pytest.approx(1.75)
    assert sig["gc_s"] == pytest.approx(0.25)
    assert sig["shuffle_bytes"] == 60
    assert sig["spill_bytes"] == 10
    assert sig["python_s"] == pytest.approx(2.0)
    assert sig["python_bytes"] == 5120
    assert sums[("cold", "stage:signatures")]["cpu_s"] == pytest.approx(2.0)
    assert sums[("", "")]["jobs"] == 1
    assert sums[("", "")]["cpu_s"] == pytest.approx(5.0)


def test_for_op_strips_the_stage_prefix(canned):
    per_stage = eventlog.for_op(eventlog.parse(canned), "warm1")
    assert set(per_stage) == {"signatures", "components"}
    assert per_stage["components"]["jobs"] == 1
    assert per_stage["components"]["python_s"] == 0.0


def test_parse_file_reads_a_written_log(canned, tmp_path):
    path = tmp_path / "local-1"
    path.write_text("".join(canned))
    assert eventlog.parse_file(str(path)) == eventlog.parse(canned)
