"""Host context and process hygiene: the memcpy probe, free-space check,
summed RSS of the driver, the JVM and the Python workers, and stopping
every process the run started."""

from __future__ import annotations

import os
import shutil
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def probe_gbps(procs: int, size_mb: float = 4.0) -> float:
    """Aggregate parallel-memcpy GB/s with bench.py's probe kernel, run in
    ``procs`` worker processes before Spark starts.

    Forked, not spawned: the spawn start method leaves a resource-tracker
    process running (it ignores SIGTERM) until this process exits, and
    the probe runs before this process has started any thread."""
    import multiprocessing as mp

    from bench import _memcpy_bw

    ctx = mp.get_context("fork")
    with ctx.Pool(procs) as pool:
        pool.map(abs, range(procs))  # workers up before the clock starts
        t = time.perf_counter()
        res = pool.map(_memcpy_bw, [size_mb] * procs)
        gbps = sum(res) / (time.perf_counter() - t)
        pool.close()
        pool.join()
    return gbps


def check_free_space(path: str, need_bytes: int) -> None:
    free = shutil.disk_usage(path).free
    if free < need_bytes:
        raise SystemExit(
            f"perfbench: {free / 1e9:.1f} GB free under {path}, the run needs "
            f"{need_bytes / 1e9:.1f} GB; free space and run again")


def _stat(pid) -> list[bytes] | None:
    """Fields of /proc/<pid>/stat after the parenthesised command name
    (state, ppid, ...), or None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.rindex(b")") + 2:].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        fields = _stat(name) if name.isdigit() else None
        if fields is not None:
            kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm", "rb") as f:
            return f.read().strip() == b"java"
    except OSError:
        return False


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds() -> float:
    """CPU time (user + system) used so far by this process and every
    process under it: the JVM and the Python workers."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        fields = _stat(pid)
        if fields is not None:
            total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / _TICK


def cpu_states() -> list[int]:
    """Machine-wide jiffies: user, nice, system, idle, iowait, irq, softirq,
    steal (the first line of /proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def state_shares(before: list[int], after: list[int]) -> dict:
    """Share of machine CPU time spent in iowait and stolen by the
    hypervisor between two ``cpu_states`` readings."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"iowait_share": d[4] / total, "steal_share": d[7] / total}


class RssSampler:
    """Background thread sampling RSS of this process and its descendants
    (the JVM and the Python workers under it) every ``period`` seconds."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_total = self.peak_jvm = self.peak_python = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        jvm = python = 0
        for p in descendants(me):
            if _is_jvm(p):
                jvm += _rss_bytes(p)
            else:
                python += _rss_bytes(p)
        total = jvm + python + _rss_bytes(me)
        self.peak_total = max(self.peak_total, total)
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_python = max(self.peak_python, python)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session, the JVM and every process under them (the Python
    workers), and wait until each has exited."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None and proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            SparkContext._gateway = None
            SparkContext._jvm = None
        _wait_gone(started, timeout)


def _alive(pid: int) -> bool:
    fields = _stat(pid)
    return fields is not None and fields[0] != b"Z"


def _wait_gone(pids: list[int], timeout: float) -> None:
    """Wait for ``pids`` to exit; SIGTERM after ``timeout``, then SIGKILL.
    Pids are gathered before the JVM stops, so workers it leaves behind
    (re-parented away from this process) are still found."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for p in pids:
                if _alive(p):
                    try:
                        os.kill(p, sig)
                    except ProcessLookupError:
                        pass
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            pids = [p for p in pids if _alive(p)]
            if not pids:
                return
            time.sleep(0.05)
    raise RuntimeError(f"processes still running: {pids}")
