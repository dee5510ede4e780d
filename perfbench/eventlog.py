"""Spark event-log parser: executor work summed per (op, job description).

Reads the uncompressed, non-rolling JSON-lines log a traced run writes
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``).
Only ``JobStart``, ``JobEnd`` and ``TaskEnd`` lines are decoded; the
much larger SQL plan events are skipped by their prefix.

Python worker time is read from the named SQL accumulables on
``TaskEnd``: executor CPU time covers the JVM task threads only, so time
spent inside Python workers shows up there and nowhere else.
"""

from __future__ import annotations

import json
from collections import defaultdict
from typing import Iterable

from perfbench.spans import DESCRIPTION, OP_PROPERTY

PY_TIME = "time to run Python workers"  # ms ("timing" SQL metric)
PY_BYTES = "data sent to Python workers"  # bytes ("size" SQL metric)

_PREFIXES = tuple(
    '{"Event":"SparkListener%s"' % e for e in ("JobStart", "JobEnd", "TaskEnd")
)


def empty_sums() -> dict:
    return {
        "jobs": 0,
        "job_ms": [],
        "cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_bytes": 0,
        "spill_bytes": 0,
        "python_s": 0.0,
        "python_bytes": 0,
    }


def parse(lines: Iterable[str]) -> dict[tuple[str, str], dict]:
    """Sums keyed by ``(op, description)``; jobs without the labels land
    under ``("", "")``.

    Per key: ``jobs`` (JobStart count), ``job_ms`` (each job's
    submission-to-completion wall), ``cpu_s`` (executorCpuTime),
    ``gc_s`` (jvmGCTime), ``shuffle_bytes`` (read local+remote plus
    written), ``spill_bytes`` (memory+disk), ``python_s`` and
    ``python_bytes`` (the Python-worker accumulables)."""
    out: dict[tuple[str, str], dict] = defaultdict(empty_sums)
    job_key: dict[int, tuple[str, str]] = {}
    job_start: dict[int, int] = {}
    stage_key: dict[int, tuple[str, str]] = {}
    for line in lines:
        if not line.startswith(_PREFIXES):
            continue
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            desc = props.get(DESCRIPTION) or ""
            key = (props.get(OP_PROPERTY) or "", desc) if desc else ("", "")
            jid = e["Job ID"]
            job_key[jid] = key
            job_start[jid] = e["Submission Time"]
            out[key]["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                # a stage listed again by a later job is skipped there:
                # its tasks ran under the job that first listed it
                stage_key.setdefault(sid, key)
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_start:
                out[job_key[jid]]["job_ms"].append(
                    e["Completion Time"] - job_start[jid]
                )
        else:
            key = stage_key.get(e["Stage ID"], ("", ""))
            acc = out[key]
            m = e.get("Task Metrics") or {}
            acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            rd = m.get("Shuffle Read Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            acc["shuffle_bytes"] += (
                rd.get("Remote Bytes Read", 0)
                + rd.get("Local Bytes Read", 0)
                + wr.get("Shuffle Bytes Written", 0)
            )
            acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                name = a.get("Name")
                if name == PY_TIME:
                    acc["python_s"] += int(a.get("Update", 0)) / 1e3
                elif name == PY_BYTES:
                    acc["python_bytes"] += int(a.get("Update", 0))
    return dict(out)


def parse_file(path: str) -> dict[tuple[str, str], dict]:
    with open(path, encoding="utf-8") as fh:
        return parse(fh)


def for_op(sums: dict[tuple[str, str], dict], op: str) -> dict[str, dict]:
    """The sums of one op, keyed by stage name (``stage:`` stripped)."""
    return {
        desc.split(":", 1)[1]: v
        for (o, desc), v in sums.items()
        if o == op and desc.startswith("stage:")
    }
