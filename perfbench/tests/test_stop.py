"""A run stops every process it started before it exits."""

import signal
import subprocess
import sys
import time

import run


def test_a_child_that_outlives_the_grace_is_terminated_and_awaited():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    assert child.pid in run.descendants()
    t0 = time.monotonic()
    run.stop_processes(grace_s=0.2)
    assert time.monotonic() - t0 < 10
    assert child.wait(timeout=1) == -signal.SIGTERM
    assert child.pid not in run.descendants()


def test_a_grandchild_is_found_and_stopped():
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import subprocess, sys, time; "
         "subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(60)']); "
         "time.sleep(60)"])
    deadline = time.monotonic() + 10
    while len(run.descendants()) < 2 and time.monotonic() < deadline:
        time.sleep(0.05)
    (grandchild,) = [p for p in run.descendants() if p != child.pid]
    run.stop_processes(grace_s=0.2)
    child.wait(timeout=1)
    assert run.proc_stat(grandchild) is None or run.proc_stat(grandchild)[0] in "ZX"
