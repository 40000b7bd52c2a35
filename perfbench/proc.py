"""Launch and stop the engine's server process and meter its process
tree (Python driver, JVM, Python workers) from ``/proc``."""

from __future__ import annotations

import os
import signal
import socket
import subprocess
import sys
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")
READY_TIMEOUT_S = 120


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after it start at state (index 0 here)
    return raw[raw.rfind(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root: int, min_age_s: float = 1.0) -> int:
    """Summed RSS of the tree, skipping processes younger than
    ``min_age_s``. The JVM runs shell commands (Hadoop's local file
    system calls chmod when it has no native library) through children
    that share its address space until they exec; counting one of those
    counts the JVM twice, which read as 1.7-4.7 GB peaks for the same
    durable workload."""
    with open("/proc/uptime") as f:
        now_ticks = float(f.read().split()[0]) * _HZ
    total = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st and now_ticks - int(st[19]) >= min_age_s * _HZ:  # starttime
            total += int(st[21]) * _PAGE  # rss pages
    return total


def tree_cpu_s(root: int) -> float:
    """utime+stime of every live process in the tree plus the reaped
    children each has accounted (cutime+cstime)."""
    ticks = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st:
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _HZ


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Server:
    """One server process in its own session (process group), so that
    stopping it reaches the JVM and the Python workers too."""

    def __init__(self, argv: list[str], env: dict, log_path: str, cwd: str):
        self.port = free_port()
        env = dict(env, EMDRIVE_TCP_LISTEN_PORT=str(self.port))
        self.t_launch = time.perf_counter()
        self._log = open(log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, *argv],
            cwd=cwd,
            env=env,
            stdout=subprocess.PIPE,
            stderr=self._log,
            text=True,
            start_new_session=True,
        )
        self.peak_rss = 0
        self._stop_sampling = threading.Event()
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()

    def _sample(self) -> None:
        while not self._stop_sampling.wait(0.2):
            self.peak_rss = max(self.peak_rss, tree_rss_bytes(self.proc.pid))

    def wait_ready(self) -> float:
        """Block until the ready line; returns seconds since launch."""
        timer = threading.Timer(READY_TIMEOUT_S, self.proc.kill)
        timer.start()
        try:
            line = self.proc.stdout.readline()
        finally:
            timer.cancel()
        if "listening on" not in line:
            raise RuntimeError(f"server did not start (rc={self.proc.poll()}); see {self._log.name}")
        return time.perf_counter() - self.t_launch

    def stop(self) -> bool:
        """SIGTERM (the server drains and stops Spark), then SIGKILL the
        whole group. True when the server exited cleanly by itself."""
        self._stop_sampling.set()
        self._sampler.join(timeout=5)
        clean = False
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(timeout=60)
                clean = self.proc.returncode == 0
            except subprocess.TimeoutExpired:
                pass
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        deadline = time.monotonic() + 20
        while _group_alive(self.proc.pid) and time.monotonic() < deadline:
            time.sleep(0.1)
        self.proc.stdout.close()
        self._log.close()
        return clean


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st and int(st[2]) == pgid and st[0] != "Z":
                return True
    return False
