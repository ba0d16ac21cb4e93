"""Process helpers shared by the benchmark client and its Spark node:
CPU time of a process tree read from ``/proc``, and a child process
driven over line-delimited JSON that is always stopped with its whole
process group (the Python node and the JVM it launches)."""

from __future__ import annotations

import json
import os
import signal
import subprocess
import time

_TICK = os.sysconf("SC_CLK_TCK")
MSG = "PB "  # prefix of protocol lines on the node's stdout


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of ``root`` and every live descendant,
    including the CPU of children they have already reaped."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        st = _stat(pid)
        if st is None:
            continue
        total += sum(int(v) for v in st[11:15])  # utime stime cutime cstime
        todo.extend(children.get(pid, []))
    return total / _TICK


def group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None and int(st[2]) == pgid and st[0] != "Z":
                return True
    return False


class Node:
    """A benchmark node process in its own session. ``call`` writes one
    JSON command and returns the reply; ``recv`` returns the next protocol
    reply. ``stop`` asks it to quit, then kills the group and waits until
    every process in it has ended."""

    def __init__(self, argv: list[str], cwd: str, env: dict, log_path: str) -> None:
        self.t_launch = time.perf_counter()
        self._log = open(log_path, "ab")
        self.proc = subprocess.Popen(
            argv, cwd=cwd, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self._log, start_new_session=True, text=True, bufsize=1,
        )

    def recv(self) -> dict:
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError(f"node exited (code {self.proc.poll()})")
            if line.startswith(MSG):
                reply = json.loads(line[len(MSG):])
                if "error" in reply:
                    raise RuntimeError(f"node error: {reply['error']}")
                return reply

    def call(self, cmd: str, **kw) -> dict:
        self.proc.stdin.write(json.dumps({"cmd": cmd, **kw}) + "\n")
        self.proc.stdin.flush()
        return self.recv()

    def stop(self) -> None:
        pgid = self.proc.pid
        try:
            if self.proc.poll() is None:
                self.proc.stdin.write(json.dumps({"cmd": "quit"}) + "\n")
                self.proc.stdin.close()
                self.proc.wait(timeout=20)
        except (OSError, ValueError, subprocess.TimeoutExpired):
            pass
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        deadline = time.time() + 15
        while group_alive(pgid) and time.time() < deadline:
            time.sleep(0.05)
        self.proc.stdout.close()
        self._log.close()
