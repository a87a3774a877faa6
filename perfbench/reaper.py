"""Run the benchmark in a child process and leave no process behind.

Spark starts processes the benchmark does not own: the JVM, the Python
worker daemon (which moves itself into a process group of its own) and the
workers it forks; building a corpus starts a multiprocessing pool and its
resource tracker. Any of them can outlive the process that started it, for
a moment or for good. ``supervise`` marks this process a child subreaper,
so every orphaned descendant is re-parented here rather than to init, runs
the command, and when it has ended stops every process still under this
one and reaps each, on every path out: normal exit, an exception, or
SIGTERM / SIGINT / SIGHUP sent to this process.
"""

from __future__ import annotations

import ctypes
import os
import signal
import subprocess
import sys
import time

from procmon import alive, tree

PR_SET_CHILD_SUBREAPER = 36
T0_ENV = "PERFBENCH_T0"  # set in the child: start time of the outer process
GRACE_S = 10.0  # SIGTERM to SIGKILL
REAP_S = 30.0  # give up waiting for a SIGKILLed process after this


def process_age() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def set_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    """Collect every child that has exited, without blocking."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _signal_all(sig: int) -> list[int]:
    """Send ``sig`` to every live process under this one; returns them."""
    pids = [p for p in tree(os.getpid())[1:] if alive(p)]
    for pid in pids:
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass
    return pids


def stop_descendants() -> None:
    """SIGTERM every process under this one, SIGKILL what is left after
    ``GRACE_S``, and reap until none is left."""
    deadline = time.monotonic() + GRACE_S
    sig = signal.SIGTERM
    while True:
        _reap()
        if not _signal_all(sig):
            break
        if sig == signal.SIGTERM and time.monotonic() > deadline:
            sig, deadline = signal.SIGKILL, time.monotonic() + REAP_S
        elif sig == signal.SIGKILL and time.monotonic() > deadline:
            raise RuntimeError("processes under the benchmark did not exit")
        time.sleep(0.05)
    _reap()


def supervise(cmd: list[str], env: dict) -> int:
    """Run ``cmd`` (stdout and stderr inherited), then stop and reap every
    process left under this one. Returns the command's exit code, or 1 if it
    was cut short by a signal."""
    set_subreaper()
    child: subprocess.Popen | None = None

    def on_signal(signum, _frame):
        raise KeyboardInterrupt(signum)

    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, on_signal)
    code = 1
    try:
        child = subprocess.Popen(cmd, env=env)
        code = child.wait()
    except KeyboardInterrupt:
        pass
    finally:
        for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(s, signal.SIG_IGN)
        stop_descendants()
        if child is not None and child.returncode is None:
            child.returncode = -1  # reaped by stop_descendants
    return code if code >= 0 else 1


def run_supervised(script: str) -> None:
    """Called first thing in a script's ``__main__``: in the outer process,
    run ``script`` again with the same arguments as a supervised child and
    exit with its code; in that child, return."""
    if os.environ.get(T0_ENV):
        return
    env = dict(os.environ, **{T0_ENV: repr(time.time() - process_age())})
    sys.exit(supervise([sys.executable, os.path.abspath(script)] + sys.argv[1:], env))
