"""One measured run in a fresh process: session set-up, the cold op, then
warm repeats of the same op in the same driver.

Started by ``run.py`` as ``python3 perfbench/worker.py <spec.json>`` with
the checkout on ``PYTHONPATH``.  Writes its raw timings, spans and
cluster digests to ``spec["out"]``; ``run.py`` turns them into metrics.
Timestamps are ``time.monotonic()``, which is one clock for every
process on the host, so ``run.py`` can measure from the moment it
started this process.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time
import traceback


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids.extend(int(k) for k in fh.read().split())
    except OSError:
        pass  # the process exited while we looked
    return kids


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def peak_rss_mb() -> float:
    """Largest peak resident set (VmHWM) in this process tree: the driver
    JVM, which in local mode also runs every executor thread."""
    todo, best = [os.getpid()], 0.0
    while todo:
        pid = todo.pop()
        best = max(best, _hwm_mb(pid))
        todo.extend(_children(pid))
    return best


def run_op(spark, pages, tracer, op: str) -> dict:
    """``run_pipeline(enable_substring=True)`` through to its collected
    clusters.  With a tracer: the op span, plus a ``clusters`` span around
    the collect that materializes the lazily persisted clusters stage."""
    from duplicate_image_detector_spark.config import PipelineConfig
    from duplicate_image_detector_spark.plans.pipeline import run_pipeline

    from perfbench.checks import partition_digest

    span = tracer.span if tracer else (lambda *a, **k: contextlib.nullcontext())
    if tracer:
        tracer.op = op
    t0 = time.monotonic()
    with span("op") as root:
        if tracer:
            tracer.root = root
        res = run_pipeline(spark, pages, PipelineConfig(), enable_substring=True)
        with span("clusters"):
            rows = res.clusters.select("url", "cluster_id").collect()
    t1 = time.monotonic()
    stage_rows = dict(res.ckpt.stage_rows)
    if tracer:
        # rows of stages the manager did not count (operator-persisted or
        # lazily persisted), read from their now-filled caches after the
        # op's timed region, under their own job label
        sc = spark.sparkContext
        sc.setJobDescription("trace:rows")
        for stage, df in tracer.outputs.get(op, {}).items():
            stage_rows.setdefault(stage, df.count())
        sc.setJobDescription(None)
    res.ckpt.unpersist_all()
    clusters = [(r["url"], r["cluster_id"]) for r in rows]
    return {
        "op": op,
        "ok": True,
        "wall_s": t1 - t0,
        "end": t1,
        "stage_rows": stage_rows,
        # the eager shingle_sets stage is counted; the broadcast path's is not
        "verify_path": "eager" if "shingle_sets" in res.ckpt.stage_rows else "broadcast",
        "digest": partition_digest(clusters),
        "clusters": clusters if op == "cold" else None,
    }


def main(spec_path: str) -> int:
    with open(spec_path) as fh:
        spec = json.load(fh)
    from duplicate_image_detector_spark.session import get_spark

    from perfbench.spans import Tracer

    tracer = Tracer() if spec["trace"] else None
    extra = None
    if tracer:
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + spec["events_dir"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    out: dict = {"ops": []}
    t0 = time.monotonic()
    spark = get_spark(master=f"local[{spec['cores']}]", extra_conf=extra)
    out["setup_s"] = time.monotonic() - t0
    undo = None
    if tracer:
        tracer.sc = spark.sparkContext
        undo = tracer.install()
    try:
        pages = spark.read.parquet(spec["pages"])
        deadline = spec["deadline"]
        warm_start = last = None
        n = 0
        while True:
            op = "cold" if n == 0 else f"warm{n}"
            t = time.monotonic()
            try:
                out["ops"].append(run_op(spark, pages, tracer, op))
            except Exception:  # the run goes on; run.py counts the failure
                out["ops"].append(
                    {"op": op, "ok": False, "error": traceback.format_exc()}
                )
            last = time.monotonic() - t
            n += 1
            if warm_start is None:
                warm_start = time.monotonic()
                continue
            # warm repeats as long as one more (as long as the last) still
            # ends within --seconds of the cold op: at least one, and no
            # repeat that would overrun the window, so a slow host does
            # not stretch the run
            now = time.monotonic()
            if now + last - warm_start > spec["seconds"] or now + last > deadline:
                break
        out["peak_rss_mb"] = peak_rss_mb()
    finally:
        if undo:
            undo()
        spark.stop()
    if tracer:
        out["spans"] = tracer.to_json()
    with open(spec["out"], "w") as fh:
        json.dump(out, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
