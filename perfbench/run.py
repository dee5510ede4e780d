"""Cold-to-result benchmark of the dedup engine.

    python3 perfbench/run.py --workload batch_webtext --seed 1 --seconds 14 --trace 0

Run from the root of a checkout.  One run: build the workload's inputs
from the seed (outside every timed region), time the Spark-free control
kernel, start one fresh worker process that sets up the session and
runs the op cold and then warm, time the control kernel again, check
the output against the planted truth, and print one JSON object as the
last line of standard output.  ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` turns the Spark event log and the stage spans on
and reports the per-layer metrics instead.  Exits non-zero when an
output check fails, and without a result when the program is absent.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

PACKAGE = "duplicate_image_detector_spark"

#: pipeline stages in plan order (the CheckpointManager.run names)
STAGES = (
    "docs", "signatures", "candidates", "shingle_sets", "verified",
    "exact", "substring", "edges", "components", "clusters",
)

#: a run must end within 180 s; the worker stops starting ops after
#: START_BUDGET and is killed at KILL_BUDGET (both from its start)
START_BUDGET = 120.0
KILL_BUDGET = 165.0


def tail_percentile(samples: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile with at least ``beyond`` samples above it,
    and its value (nearest rank).  At 200 samples that is p95."""
    if len(samples) <= beyond:
        raise ValueError(f"need more than {beyond} samples, got {len(samples)}")
    xs = sorted(samples)
    k = len(xs) - beyond  # rank of the value with exactly `beyond` above
    return 100.0 * k / len(xs), xs[k - 1]


def _session(sid: int) -> dict[int, str]:
    """``{pid: state}`` of every process of session ``sid``, zombies too."""
    members = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state, fields[3] the session
        if int(fields[3]) == sid:
            members[int(pid)] = fields[0]
    return members


def _become_subreaper() -> None:
    """Make this process the child subreaper of its descendants, so that
    the worker's JVM and Python daemons, orphaned when the worker exits,
    become its children and ``_reap_session`` can wait for them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap_session(sid: int, timeout: float = 20.0) -> None:
    """SIGKILL every process of the worker's session and wait until each
    has ended and been reaped.  The session, not the process group:
    Spark's JVM shares the worker's group, but PySpark's worker daemon
    moves to a group of its own (``os.setpgid(0, 0)``) and keeps the
    session.  Members that are not this process's children are reaped by
    their own parent or by init; the loop waits for that too."""
    end = time.monotonic() + timeout
    while True:
        members = _session(sid)
        if not members:
            return
        if time.monotonic() > end:
            raise RuntimeError(
                f"processes {sorted(members)} of session {sid} survived SIGKILL"
            )
        for pid, state in members.items():
            if state != "Z":
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.05)


def run_worker(spec: dict, log_path: str) -> tuple[float, int]:
    """Start the worker, wait for it; returns (start time, exit code)."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
    )
    env["SPARK_LOCAL_DIRS"] = spec["local_dirs"]
    # fixed settings: the package's default warmup and heap, whatever the
    # caller's environment says
    for name in ("SPARK_GRAFT_WARMUP", "SPARK_DRIVER_MEMORY"):
        env.pop(name, None)
    spec_path = os.path.join(spec["work"], "spec.json")
    with open(log_path, "w") as log:
        t_start = time.monotonic()
        spec["deadline"] = t_start + START_BUDGET
        with open(spec_path, "w") as fh:
            json.dump(spec, fh)
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path],
            cwd=spec["work"], env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=KILL_BUDGET)
        except subprocess.TimeoutExpired:
            code = -9
        finally:
            _reap_session(proc.pid)
            proc.wait()
    return t_start, code


def _per_layer(raw: dict, events_path: str) -> tuple[dict, dict]:
    from perfbench import eventlog
    from perfbench.spans import stage_times

    ops = [o for o in raw["ops"] if o["ok"]]
    op = next((o for o in ops if o["op"] != "cold"), ops[0])
    times = stage_times(raw["spans"], op["op"])
    sums = eventlog.parse_file(events_path)
    spark_sums = eventlog.for_op(sums, op["op"])
    m = {"session.get_spark_s": raw["setup_s"]}
    for s in STAGES:
        t = times["stages"].get(s, {"wall_s": 0.0, "self_s": 0.0})
        e = spark_sums.get(s) or eventlog.empty_sums()
        p = f"pipeline.{s}."
        m[p + "wall_s"] = t["wall_s"]
        m[p + "self_s"] = t["self_s"]
        m[p + "rows"] = op["stage_rows"].get(s, 0)
        m[p + "jobs"] = e["jobs"]
        m[p + "cpu_s"] = e["cpu_s"]
        m[p + "python_s"] = e["python_s"]
        m[p + "gc_s"] = e["gc_s"]
        m[p + "shuffle_bytes"] = e["shuffle_bytes"]
    cands = op["stage_rows"].get("candidates", 0)
    m["pipeline.verified_per_candidate"] = (
        op["stage_rows"].get("verified", 0) / cands if cands else 0.0
    )
    m["pipeline.unattributed_s"] = times["unattributed_s"]
    job_ms = [ms for v in spark_sums.values() for ms in v["job_ms"]]
    m["pipeline.job_p50_ms"] = statistics.median(job_ms)
    pct, m["pipeline.job_tail_ms"] = tail_percentile(job_ms)
    m["trace.warm_result_s"] = op["wall_s"]
    m["jvm.peak_rss_mb"] = raw["peak_rss_mb"]
    detail = {
        "traced_op": op["op"],
        "op_wall_s": times["op_wall_s"],
        "unattributed_share": {
            o["op"]: stage_times(raw["spans"], o["op"])["unattributed_s"]
            / o["wall_s"]
            for o in ops
        },
        "job_tail_percentile": pct,
        "spill_bytes": {s: v["spill_bytes"] for s, v in spark_sums.items()},
        "python_bytes": {s: v["python_bytes"] for s, v in spark_sums.items()},
        "unlabeled_jobs": sums.get(("", ""), eventlog.empty_sums())["jobs"],
    }
    return m, detail


def declared_units(kind: str) -> dict[str, str]:
    """``{metric: unit}`` of one metric list in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found under {ROOT}: run from a checkout",
              file=sys.stderr)
        return 2

    from perfbench import checks, control, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    # a SIGTERM unwinds through the finally blocks that reap the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _become_subreaper()
    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench-work")
    os.makedirs(base, exist_ok=True)
    # the control pool's workers start while the inputs are built, and
    # idle while the worker runs; leaving the block stops them and removes
    # the work dir
    with tempfile.TemporaryDirectory(
        prefix=f"{args.workload}-{args.seed}-", dir=base,
        ignore_cleanup_errors=True,
    ) as work, control.pool(cores) as cpool:
        inputs = workloads.build(args.workload, args.seed)
        pages_path = os.path.join(work, "pages.parquet")
        workloads.write_pages(inputs, pages_path)
        spec = {
            "work": work,
            "pages": pages_path,
            "cores": cores,
            "seconds": args.seconds,
            "trace": bool(args.trace),
            "events_dir": os.path.join(work, "events"),
            "local_dirs": os.path.join(work, "spark-local"),
            "out": os.path.join(work, "result.json"),
        }
        os.makedirs(spec["events_dir"])
        os.makedirs(spec["local_dirs"])
        control_before = control.wall(cpool, cores)
        t_start, code = run_worker(spec, os.path.join(work, "worker.log"))
        control_after = control.wall(cpool, cores)
        if code != 0 or not os.path.exists(spec["out"]):
            with open(os.path.join(work, "worker.log")) as fh:
                sys.stderr.write(fh.read()[-4000:])
            print(f"worker exited with {code}", file=sys.stderr)
            return 1
        with open(spec["out"]) as fh:
            raw = json.load(fh)

        ops = raw["ops"]
        ok = [o for o in ops if o["ok"]]
        warm = [o["wall_s"] for o in ok if o["op"] != "cold"]
        cold = next((o for o in ok if o["op"] == "cold"), None)
        for o in ops:
            if not o["ok"]:
                sys.stderr.write(o["error"])
        problems = []
        if cold is None or not warm:
            problems.append("the cold op or every warm op failed")
        if len({o["digest"] for o in ok}) > 1:
            problems.append("ops of one run grouped docs differently")
        quality = {}
        if cold is not None:
            cluster_of = dict(cold["clusters"])
            quality = {
                "pair_recall": checks.pair_recall(inputs.truth, cluster_of),
                "false_merges": checks.false_merges(inputs.truth, cluster_of),
            }
            if quality["pair_recall"] < checks.RECALL_FLOOR:
                problems.append(f"pair_recall {quality['pair_recall']:.4f} "
                                f"< {checks.RECALL_FLOOR}")
            if quality["false_merges"]:
                problems.append(f"{quality['false_merges']} false merges")
        correct = not problems

        size = inputs.size
        meta = {
            "workload": args.workload,
            "seed": args.seed,
            "input": size,
            "settings": {
                "master": f"local[{cores}]",
                "spark_local_dirs": os.path.relpath(spec["local_dirs"], ROOT),
                "fresh_process": True,
                "warmup": "default",
                "seconds": args.seconds,
            },
            "control_wall_s": {"before": control_before, "after": control_after},
            "op_walls_s": {o["op"]: o.get("wall_s") for o in ops},
            # the JVM's peak RSS swings by up to ~30% between runs of the
            # same code, wider than any end-to-end bound: a record here and
            # a per-layer metric, not a gate
            "peak_rss_mb": raw["peak_rss_mb"],
            "verify_path": cold["verify_path"] if cold else None,
            "digest": cold["digest"] if cold else None,
            "checks": quality,
            "problems": problems,
        }
        if args.trace:
            events = [os.path.join(spec["events_dir"], f)
                      for f in os.listdir(spec["events_dir"])]
            metrics, meta["trace"] = (
                _per_layer(raw, events[0]) if correct else ({}, {})
            )
        else:
            warm_s = statistics.median(warm) if warm else 0.0
            metrics = {
                "setup_s": raw["setup_s"],
                "first_result_s": (cold["end"] - t_start) if cold else 0.0,
                "warm_result_s": warm_s,
                "docs_per_s": size["docs"] / warm_s if warm_s else 0.0,
                "pair_recall": quality.get("pair_recall", 0.0),
            }
        units = declared_units("per_layer" if args.trace else "end_to_end")
        if correct and set(metrics) != set(units):
            raise RuntimeError(
                f"metrics differ from BENCHMARK.json: "
                f"{sorted(set(metrics) ^ set(units))}"
            )
        print(json.dumps({"meta": meta}))
        print(json.dumps({
            "correct": correct,
            "attempted": len(ops),
            "failed": len(ops) - len(ok),
            "metrics": {
                k: {"value": v, "unit": units[k]} for k, v in metrics.items()
            },
        }))
        return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
