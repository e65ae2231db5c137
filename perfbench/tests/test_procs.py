"""CPU time of a process tree: live children count, and so do children
that have exited and been reaped."""

import os
import subprocess
import sys
import time

from perfbench.procs import tree_cpu_s

BURN = ("import time\n"
        "t = time.process_time()\n"
        "while time.process_time() - t < 0.3:\n"
        "    pass\n"
        "print('done', flush=True)\n"
        "time.sleep(30)\n")


def _others_cpu_s() -> float:
    """The tree's CPU time without this process's own."""
    own = os.times()
    return tree_cpu_s(os.getpid()) - (own.user + own.system)


def test_tree_cpu_counts_live_and_reaped_children():
    before = _others_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", BURN], stdout=subprocess.PIPE)
    try:
        assert child.stdout.readline().strip() == b"done"
        deadline = time.time() + 5
        while _others_cpu_s() - before < 0.25 and time.time() < deadline:
            time.sleep(0.05)
        assert _others_cpu_s() - before >= 0.25  # the live child's ticks
    finally:
        child.kill()
        child.wait()
    assert _others_cpu_s() - before >= 0.25  # now in this process's cutime
