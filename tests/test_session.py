"""Session factory: building a session runs no Spark job."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

from duplicate_image_detector_spark import session

ROOT = Path(__file__).resolve().parents[1]

_PROBE = """
from duplicate_image_detector_spark.session import get_spark
spark = get_spark(master="local[1]")
print("JOBS", len(spark.sparkContext.statusTracker().getJobIdsForGroup()))
spark.stop()
"""


def test_get_spark_submits_no_job():
    # a fresh process: the test suite's own session has run jobs already
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
    )
    out = subprocess.run(
        [sys.executable, "-c", _PROBE], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    jobs = [ln for ln in out.stdout.splitlines() if ln.startswith("JOBS ")]
    assert jobs == ["JOBS 0"], out.stdout[-2000:]


def test_default_heap_falls_back_when_meminfo_unreadable(monkeypatch):
    def unreadable(*args, **kwargs):
        raise OSError("no /proc here")

    monkeypatch.setattr(session, "open", unreadable, raising=False)
    assert session._default_heap() == "8g"
