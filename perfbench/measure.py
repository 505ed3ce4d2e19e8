"""Pure measurement helpers: sample summaries, metric-name rules and
process-tree accounting read from /proc. Nothing here imports Spark, so the
helpers are testable on their own (test_helpers.py)."""

from __future__ import annotations

import os
import re
import statistics
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")

_NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
_UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

# percentiles offered beyond the median, highest first
_TAIL_LADDER = (99.9, 99.0, 90.0)
_MIN_BEYOND = 10


def valid_metric_name(name: str) -> bool:
    """A metric or workload name: starts with a letter or digit, then at
    most 63 more of ``[A-Za-z0-9_.-]``."""
    return _NAME_RE.fullmatch(name) is not None


def valid_unit(unit: str) -> bool:
    return _UNIT_RE.fullmatch(unit) is not None


def tail_percentile(n: int) -> float | None:
    """The highest percentile with at least ten samples beyond it, or None
    when ``n`` samples support nothing past the median."""
    for p in _TAIL_LADDER:
        # in tenths of a percent, so 99.9 counts exactly
        if n * (1000 - round(p * 10)) >= _MIN_BEYOND * 1000:
            return p
    return None


def percentile(samples: list[float], p: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' method of
    statistics.quantiles)."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def summarize(samples: list[float]) -> dict:
    """Median, the tail percentile the sample count supports, and the count."""
    if not samples:
        raise ValueError("no samples")
    out = {"n": len(samples), "p50": statistics.median(samples)}
    p = tail_percentile(len(samples))
    if p is not None:
        out[f"p{p:g}"] = percentile(samples, p)
    return out


# ---------------------------------------------------------------------------
# /proc accounting
# ---------------------------------------------------------------------------


def _read_stat(path: str) -> tuple[int, int, int] | None:
    """(pid, ppid, cpu ticks incl. reaped children) from /proc/<pid>/stat."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm (field 2) may hold spaces and parens: split after the last ')'
    rest = raw[raw.rindex(")") + 2 :].split()
    ppid = int(rest[1])
    # fields 14-17: utime stime cutime cstime (rest[0] is field 3)
    ticks = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
    return int(raw[: raw.index(" ")]), ppid, ticks


def _proc_table(proc: str) -> dict[int, tuple[int, int]]:
    table = {}
    for entry in os.listdir(proc):
        if entry.isdigit():
            row = _read_stat(os.path.join(proc, entry, "stat"))
            if row is not None:
                table[row[0]] = (row[1], row[2])
    return table


def tree_pids(root: int, proc: str = "/proc") -> list[int]:
    """``root`` and every live descendant."""
    table = _proc_table(proc)
    return _descendants(root, table)


def _descendants(root: int, table: dict[int, tuple[int, int]]) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in table:
            out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds(root: int, proc: str = "/proc") -> float:
    """CPU-seconds (user + system) used so far by ``root`` and its live
    descendants, including every child they have already reaped (cutime /
    cstime), so a Python worker that exited between two readings still
    counts once its parent waited for it."""
    table = _proc_table(proc)
    return sum(table[p][1] for p in _descendants(root, table)) / CLK_TCK


def tree_rss_bytes(root: int, proc: str = "/proc") -> int:
    total = 0
    for pid in tree_pids(root, proc):
        try:
            with open(os.path.join(proc, str(pid), "statm")) as f:
                total += int(f.read().split()[1]) * PAGE_BYTES
        except OSError:
            pass
    return total


def process_age_s(proc: str = "/proc") -> float:
    """Seconds since this process started (field 22 of its stat line)."""
    with open(os.path.join(proc, "self", "stat")) as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open(os.path.join(proc, "uptime")) as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / CLK_TCK


def alive(pid: int, proc: str = "/proc") -> bool:
    """True while ``pid`` exists and has not exited (a zombie has)."""
    try:
        with open(os.path.join(proc, str(pid), "stat")) as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def cpu_counters(proc: str = "/proc") -> tuple[int, int]:
    """(steal ticks, total ticks) from the aggregate line of /proc/stat."""
    with open(os.path.join(proc, "stat")) as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def loadavg1(proc: str = "/proc") -> float:
    with open(os.path.join(proc, "loadavg")) as f:
        return float(f.read().split()[0])


class HostSampler:
    """Background sampler of the process tree's resident memory and of the
    host's steal share and 1-minute load, so co-tenant or throttle windows
    show next to the numbers they may have bent."""

    def __init__(self, root: int, interval_s: float = 0.5):
        self.root = root
        self.interval_s = interval_s
        self.peak_rss = 0
        self.loads: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._steal0 = cpu_counters()

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def _sample(self) -> None:
        self.peak_rss = max(self.peak_rss, tree_rss_bytes(self.root))
        self.loads.append(loadavg1())

    def start(self) -> "HostSampler":
        self._thread.start()
        return self

    def stop(self) -> dict:
        self._stop.set()
        self._thread.join(timeout=10)
        steal, total = cpu_counters()
        d_total = max(total - self._steal0[1], 1)
        return {
            "steal_share": (steal - self._steal0[0]) / d_total,
            "loadavg1_max": max(self.loads, default=loadavg1()),
            "loadavg1_end": loadavg1(),
            "samples": len(self.loads),
        }

    def reset_peak(self) -> None:
        self.peak_rss = tree_rss_bytes(self.root)


class Stopwatch:
    """Wall and process-tree CPU across one region."""

    def __init__(self, root: int):
        self.root = root

    def __enter__(self) -> "Stopwatch":
        self.cpu0 = tree_cpu_seconds(self.root)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self.t0
        self.cpu = tree_cpu_seconds(self.root) - self.cpu0
