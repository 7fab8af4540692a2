"""Host and process probes: CPU calibration, process age, Python memory
high-water marks and on-disk sizes. Everything reads ``/proc`` or the
file system; nothing here depends on the engine."""

from __future__ import annotations

import os
import statistics
import threading
import time


CALIB_ROUNDS = 5
SAMPLE_PERIOD_S = 0.25


def calib_s() -> float:
    """Median time of a fixed pure-Python integer loop. It does not touch
    the repository, so a change in it is host drift, not a regression."""
    times = []
    for _ in range(CALIB_ROUNDS):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc * 31 + i) % 1_000_003
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def process_age_s() -> float:
    """Seconds since this process started (``/proc/self/stat`` field 22
    against ``/proc/uptime``), 10 ms resolution."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of one process in MiB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0.0


def _children(pid: int) -> list[int]:
    kids = []
    for task in os.listdir(f"/proc/{pid}/task") if os.path.isdir(f"/proc/{pid}/task") else []:
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                kids += [int(c) for c in f.read().split()]
        except FileNotFoundError:
            continue
    return kids


def python_workers(root_pid: int) -> list[int]:
    """The Spark Python daemon and worker processes below ``root_pid``."""
    found, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        for kid in _children(pid):
            todo.append(kid)
            try:
                with open(f"/proc/{kid}/cmdline", "rb") as f:
                    cmd = f.read()
            except FileNotFoundError:
                continue
            if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
                found.append(kid)
    return found


class WorkerPeak:
    """Samples the Python workers' VmHWM every ``SAMPLE_PERIOD_S`` on a
    background thread; ``peak_mb`` is the maximum seen. Workers can exit
    between samples, so the last sample before exit is what counts."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="worker-peak", daemon=True)

    def _sample(self) -> None:
        for pid in python_workers(self.root_pid):
            self.peak_mb = max(self.peak_mb, vm_hwm_mb(pid))

    def read(self) -> float:
        """The peak so far, including a sample taken now."""
        self._sample()
        return self.peak_mb

    def _run(self) -> None:
        while not self._stop.wait(SAMPLE_PERIOD_S):
            self._sample()

    def __enter__(self) -> WorkerPeak:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(base, name))
            except FileNotFoundError:
                continue
    return total
