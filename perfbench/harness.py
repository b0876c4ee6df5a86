"""Shared pieces of the benchmark loop: the per-operation timeout runner,
operation records, percentiles and process memory readings."""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass, field


def run_with_timeout(spark, fn, timeout_s: float) -> tuple[bool, object, str | None]:
    """Run ``fn()`` on a worker thread; cancel all Spark jobs on timeout.

    Same pattern as the repository's ``bench.py`` runner, extended to hand
    back ``fn``'s return value: ``(ok, result, error)``."""
    out: list = []
    err: list[str] = []
    done = threading.Event()

    def work():
        try:
            out.append(fn())
        except Exception as exc:  # noqa: BLE001 - recorded, not raised
            err.append(f"{type(exc).__name__}: {exc}"[:500])
        finally:
            done.set()

    t = threading.Thread(target=work, daemon=True)
    t.start()
    if not done.wait(timeout_s):
        spark.sparkContext.cancelAllJobs()
        done.wait(30)
        return False, None, f"timeout > {timeout_s:.0f}s (jobs cancelled)"
    return (not err), (out[0] if out else None), (err[0] if err else None)


@dataclass
class OpLog:
    """Every operation the run attempted: latencies of the timed ones, and
    failures (exceptions, timeouts, wrong results) of all of them."""

    latencies: list[float] = field(default_factory=list)
    names: list[str] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    if not xs:
        return float("nan")
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(xs: list[float]) -> float:
    return percentile(xs, 50.0)


def peak_rss_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every descendant
    (the Spark JVM and its Python workers), including reaped children.
    The kernel charges the hypervisor's steal to no process, so this is
    the work done, not the time waited for a CPU."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stats[int(pid)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo += kids.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started (from /proc), so set-up time
    includes interpreter start and imports."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return max(uptime - start_ticks / os.sysconf("SC_CLK_TCK"), 0.0)
    except (OSError, ValueError, IndexError):
        return 0.0


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files
