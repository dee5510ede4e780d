"""A run leaves no process behind: the worker's session is reaped whole,
and the control kernel's processes end with their pool."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import time

from perfbench import control
from perfbench.run import _reap_session, _session

#: a session leader that forks a child into a process group of its own
#: (as PySpark's worker daemon does) and prints the child's pid
_LEADER = textwrap.dedent("""
    import os, sys, time
    pid = os.fork()
    if pid == 0:
        os.setpgid(0, 0)
        time.sleep(60)
        os._exit(0)
    os.setpgid(pid, pid)  # as the child does; whichever runs first wins
    print(pid, flush=True)
    time.sleep(60)
""")


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def test_reap_session_kills_members_in_other_process_groups():
    leader = subprocess.Popen(
        [sys.executable, "-c", _LEADER], stdout=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    try:
        child = int(leader.stdout.readline())
        assert os.getpgid(child) != os.getpgid(leader.pid)
        assert set(_session(leader.pid)) == {leader.pid, child}
        _reap_session(leader.pid)
        assert _session(leader.pid) == {}
        assert not _alive(child)
    finally:
        leader.kill()
        leader.wait()
        leader.stdout.close()


def test_control_pool_ends_its_processes():
    with control.pool(2) as ps:
        assert control.wall(ps, 2) > 0
        pids = [p.pid for p in ps]
    assert all(p.returncode == 0 for p in ps)
    deadline = time.monotonic() + 5
    while any(_alive(pid) for pid in pids) and time.monotonic() < deadline:
        time.sleep(0.05)
    assert not any(_alive(pid) for pid in pids)
