"""Child processes of a benchmark run.

``Child`` runs a helper (harness, Spark driver) in its own session and
speaks JSON lines with it; ``child_env`` keeps every child's files under
the run's work directory; ``RssSampler`` follows the peak resident set of
a child's session.

A Spark driver's descendants do not all stay in its process group: the
pyspark worker daemon moves itself and its workers into a group of their
own, and a JVM whose Python parent is killed is re-parented. They all
stay in the child's session, though, so ``Child.stop`` kills the session
and, with ``adopt_orphans`` called first, waits for every process of it,
zombies included, before it returns.
"""

from __future__ import annotations

import ctypes
import json
import os
import select
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

STEP_TIMEOUT_S = 90.0
PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make descendants whose parent exits children of this process
    (Linux), so that they can be waited for instead of left to init."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _stat(pid: str) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name: state, ppid,
    pgrp, session, ..."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def session_pids(sid: int) -> list[int]:
    """Every process of session ``sid``, zombies included."""
    out = []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            fields = _stat(pid)
            if fields and int(fields[3]) == sid:
                out.append(int(pid))
    return out


def _reap() -> None:
    """Collect every child (adopted orphans too) that has exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


class Child:
    """A subprocess in its own process group, spoken to by JSON lines."""

    def __init__(self, argv: list[str], env: dict[str, str], log_path: str) -> None:
        self.log = open(log_path, "wb")
        self.proc = subprocess.Popen(
            argv,
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=self.log,
            env=env,
            cwd=ROOT,
            start_new_session=True,
        )
        self.sid = self.proc.pid

    def send(self, obj) -> None:
        self.proc.stdin.write((json.dumps(obj) + "\n").encode())
        self.proc.stdin.flush()

    def recv(self, timeout: float = STEP_TIMEOUT_S) -> dict:
        deadline = time.monotonic() + timeout
        while True:
            remaining = deadline - time.monotonic()
            if remaining <= 0:
                raise TimeoutError(f"{self.proc.args[1]} gave no answer in {timeout:.0f}s")
            ready, _, _ = select.select([self.proc.stdout], [], [], remaining)
            if ready:
                line = self.proc.stdout.readline()
                if not line:
                    code = self.proc.wait()
                    self.log.flush()
                    with open(self.log.name, "rb") as fh:
                        tail = fh.read()[-3000:].decode("utf-8", "replace")
                    raise RuntimeError(f"{self.proc.args[1]} exited with {code}:\n{tail}")
                if line.startswith(b"{"):
                    return json.loads(line)

    def stop(self, timeout: float = 30.0) -> None:
        """Close stdin, give the child ``timeout`` to exit, then kill every
        process of its session (the JVM and Python workers included) and
        wait until none is left."""
        try:
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            pass
        deadline = time.monotonic() + 60
        while True:
            pids = session_pids(self.sid)
            if not pids and self.proc.poll() is not None:
                break
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except (ProcessLookupError, PermissionError):
                    pass
            self.proc.poll()
            _reap()
            if time.monotonic() > deadline:
                raise RuntimeError(f"processes {pids} of {self.proc.args[1]} did not end")
            time.sleep(0.02)
        self.log.close()


def child_env(workdir: str) -> dict[str, str]:
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(workdir, "spark-local"),
        SPARK_DRIVER_MEMORY=env.get("SPARK_DRIVER_MEMORY", "3g"),
        PYTHONHASHSEED="0",
    )
    env.pop("SPARK_GRAFT_CONF", None)
    return env


class RssSampler(threading.Thread):
    """Peak resident set of a session (JVM + Python workers)."""

    def __init__(self, sid: int) -> None:
        super().__init__(daemon=True)
        self.sid = sid
        self.peak = 0
        self.done = threading.Event()

    def run(self) -> None:
        page = os.sysconf("SC_PAGE_SIZE")
        while not self.done.wait(0.25):
            total = 0
            for pid in session_pids(self.sid):
                try:
                    with open(f"/proc/{pid}/statm") as fh:
                        total += int(fh.read().split()[1]) * page
                except (OSError, IndexError, ValueError):
                    continue
            self.peak = max(self.peak, total)
