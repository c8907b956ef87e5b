"""Child process groups: start, peak RSS from /proc, stop, kill."""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def group_pids(pgid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after the parenthesised command: state ppid pgrp ...
        fields = stat[stat.rfind(")") + 2:].split()
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def group_rss_mb(pgid: int) -> float:
    total = 0
    for pid in group_pids(pgid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * _PAGE / (1024 * 1024)


class Group:
    """A child started in its own session, so that it and everything
    it spawns (the JVM, Python workers) share one process group."""

    def __init__(self, argv: list[str], cwd: str, env: dict, log_path: str):
        self._log = open(log_path, "ab")
        self.started = time.time()
        self.proc = subprocess.Popen(
            argv, cwd=cwd, env=env, stdout=self._log,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            start_new_session=True)
        self.pgid = self.proc.pid
        self.peak_rss_mb = 0.0
        #: (monotonic time, tree RSS in MB) every 0.25 s
        self.rss_samples: list[tuple[float, float]] = []
        self._stop = threading.Event()
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()

    def _sample(self) -> None:
        while not self._stop.is_set():
            rss = group_rss_mb(self.pgid)
            self.rss_samples.append((time.monotonic(), rss))
            self.peak_rss_mb = max(self.peak_rss_mb, rss)
            self._stop.wait(0.25)

    def rss_median_mb(self, start: float, end: float) -> float:
        """Median tree RSS over the samples taken in [start, end]."""
        inside = [r for t, r in self.rss_samples if start <= t <= end]
        return statistics.median(inside) if inside else self.peak_rss_mb

    def _wait_gone(self, timeout: float) -> bool:
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if not group_pids(self.pgid):
                return True
            time.sleep(0.05)
        return False

    def _finish(self) -> None:
        self._stop.set()
        self._sampler.join(5)
        try:
            self.proc.wait(5)
        except subprocess.TimeoutExpired:
            pass
        self._log.close()

    def kill(self) -> None:
        """SIGKILL the whole group and wait until every member is gone."""
        try:
            os.killpg(self.pgid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        self._wait_gone(30)
        self._finish()

    def stop(self, timeout: float = 60.0) -> int | None:
        """SIGTERM the leader, wait for it, then kill what is left."""
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(timeout)
            except subprocess.TimeoutExpired:
                pass
        code = self.proc.poll()
        if not self._wait_gone(10):
            self.kill()
        else:
            self._finish()
        return code
