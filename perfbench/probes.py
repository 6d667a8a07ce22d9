"""Probes taken from outside the program: a span recorder around calls
into its public functions, and a peak-RSS sampler over the process
tree the benchmark starts (the driver JVM and the Python workers)."""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from contextlib import contextmanager

class Tracer:
    """In-memory spans (name, start, end, parent, run id); ``write``
    dumps them when the run ends. Starts and ends are epoch seconds,
    so they line up with the event log's millisecond timestamps."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["dur_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur_s"]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _stat_fields(pid) -> list[str] | None:
    """The fields of ``/proc/<pid>/stat`` after the command name, or
    None when the process ended between listing ``/proc`` and reading
    its stat, which then reads empty or fails."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
        # the command name may hold spaces: the fields follow its ')'
        return stat[stat.rindex(")") + 2:].split()
    except (OSError, ValueError):
        return None


def descendants(root: int) -> set[int]:
    """Pids of every live process below ``root``."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(name)
        if fields is not None:
            kids.setdefault(int(fields[1]), []).append(int(name))
    out, todo = set(), [root]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.add(k)
            todo.append(k)
    return out


def peak_rss_bytes(pid: int) -> int:
    """The kernel's high-water mark of ``pid``'s resident set (VmHWM)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024
    return 0


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds used by every live process below ``root``, including
    what their exited, reaped children used."""
    total = 0
    for pid in descendants(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime
            total += sum(int(x) for x in fields[11:15])
    return total / CLK_TCK


def run_cpu_s() -> float:
    """CPU seconds of the run so far: every process below this one (the
    driver JVM and the Python workers) plus this process's calling
    thread, the Python driver that builds plans and runs driver-side
    actions. The benchmark's own sampler thread is left out."""
    return tree_cpu_s(os.getpid()) + time.thread_time()


def steal_s() -> float:
    """Seconds of CPU the hypervisor gave to other guests, all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def wait_for_children(timeout_s: float = 60.0) -> None:
    """Block until this process has no live descendants, or raise."""
    deadline = time.monotonic() + timeout_s
    while descendants(os.getpid()):
        if time.monotonic() > deadline:
            raise TimeoutError(f"children still running: "
                               f"{sorted(descendants(os.getpid()))}")
        time.sleep(0.1)


PYTHON_EXE = os.path.realpath(sys.executable)


def _exe(pid) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


class RssSampler:
    """Samples the driver JVM (``jvm_pid``) and the Python workers below
    this process (not the benchmark's own interpreter) and keeps the
    largest sum of their resident-set high-water marks. Each term is a
    live process's own peak, so the sum does not hinge on when samples
    fall; a Python worker that exited is not counted next to the one
    that replaced it. Any other process is left out: a child the JVM
    starts can share the JVM's memory until its exec, and then reports
    the JVM's peak as its own (one run in ten read twice the JVM's
    peak while other children were counted). On exit it takes a last sample itself, so a sampler
    thread that never got to sample still yields the JVM's peak; a sum
    of 0 (no process found) raises."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.2):
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self):
        total = 0
        for pid in descendants(os.getpid()):
            if pid != self.jvm_pid and _exe(pid) != PYTHON_EXE:
                continue
            try:
                total += peak_rss_bytes(pid)
            except OSError:
                pass  # the process ended between listing and reading
        self.peak_bytes = max(self.peak_bytes, total)

    def _loop(self):
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        if not self.peak_bytes and exc[0] is None:
            raise RuntimeError("RSS sampler found no process to measure")
