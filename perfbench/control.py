"""Spark-free control kernel, timed before and after each run.

The same CPU-dense loop as ``bench.py``'s ``_raw_hardware_ceiling`` (md5
plus int64 modular multiply, the signature stage's profile), run as one
process per core over a fixed total of work.  Its wall is stored as run
metadata, never as a metric: when it moves between runs, the machine
moved, not the program.

The processes are plain subprocesses (``python3 perfbench/control.py``)
that read an iteration count per line on stdin and answer one line each;
closing stdin ends them.  No multiprocessing helper process (such as its
resource tracker) is started, so leaving ``pool()`` leaves nothing running.
"""

from __future__ import annotations

import contextlib
import subprocess
import sys
import time

#: total loop iterations split across the processes (bench.py uses
#: 48,000; 1,000 keeps each timing near a quarter second at 4 cores)
TOTAL = 1_000


def kernel(n: int) -> int:
    import hashlib

    import numpy as np

    rng = np.random.default_rng(0)
    h = rng.integers(0, 1 << 60, 500, dtype=np.int64)
    a = rng.integers(1, 1 << 30, (128, 1), dtype=np.int64)
    b = rng.integers(0, 1 << 30, (128, 1), dtype=np.int64)
    s = 0
    for i in range(n):
        hashlib.md5(b"x" * 40 + i.to_bytes(4, "big")).digest()
        s += int(((a * (h & 0xFFFFFFFF)[None, :] + b) % 2147483647).min())
    return s


@contextlib.contextmanager
def pool(procs: int):
    """``procs`` kernel processes; they start (and import numpy) while the
    caller goes on with other work, and are ended and waited for on exit."""
    ps: list[subprocess.Popen] = []
    try:
        for _ in range(procs):
            ps.append(subprocess.Popen(
                [sys.executable, __file__], stdin=subprocess.PIPE,
                stdout=subprocess.PIPE, text=True, bufsize=1,
            ))
        yield ps
    finally:
        for p in ps:
            with contextlib.suppress(OSError):
                p.stdin.close()
        for p in ps:
            try:
                p.wait(timeout=10)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()


def _map(ps: list[subprocess.Popen], n: int) -> None:
    for p in ps:
        p.stdin.write(f"{n}\n")
    for p in ps:
        if not p.stdout.readline():
            raise RuntimeError("control kernel process ended early")


def wall(ps: list[subprocess.Popen], procs: int) -> float:
    """Seconds for the ``procs`` pool processes to share ``TOTAL`` iterations."""
    _map(ps, 1)  # untimed: waits until the processes are up
    t0 = time.monotonic()
    _map(ps, TOTAL // procs)
    return time.monotonic() - t0


def _serve() -> None:
    import numpy  # noqa: F401  at start, outside the timed loop

    for line in sys.stdin:
        print(kernel(int(line)), flush=True)


if __name__ == "__main__":
    _serve()
