"""Measurement helpers: percentile rule, op accounting, process-tree CPU
and memory, host speed.  Pure Python (the host-speed probe process uses
numpy); no Spark import."""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import sys
import threading
import time

# a tail percentile is reported only when at least this many samples
# lie beyond it
MIN_TAIL = 10


def supports_percentile(n: int, pct: float) -> bool:
    """True when ``n`` samples leave at least MIN_TAIL beyond ``pct``."""
    return n * (100.0 - pct) / 100.0 >= MIN_TAIL


class OpLog:
    """Attempted / failed accounting for timed ops.

    ``record`` adds one attempted op with its wall time; ``fail`` marks
    an op failed after the fact (a check outside the timer found its
    output wrong).  A failed op keeps its latency sample: the failure
    is counted, never hidden by dropping the sample."""

    def __init__(self) -> None:
        self.ops: list[dict] = []

    def record(self, pass_no: int, op: str, seconds: float, ok: bool = True,
               error: str | None = None, cpu_s: float = 0.0) -> dict:
        entry = {"pass": pass_no, "op": op, "s": seconds, "cpu_s": cpu_s, "ok": ok,
                 "error": error}
        self.ops.append(entry)
        return entry

    def fail(self, entry: dict, error: str) -> None:
        entry["ok"] = False
        entry["error"] = entry["error"] or error

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(1 for e in self.ops if not e["ok"])

    def errors(self) -> list[str]:
        return [f"pass {e['pass']} {e['op']}: {e['error']}" for e in self.ops if not e["ok"]]

    def seconds(self, op: str | None = None) -> list[float]:
        return [e["s"] for e in self.ops if op is None or e["op"] == op]


def median(values) -> float:
    return float(statistics.median(values))


def geomean(values) -> float:
    """Geometric mean: each value weighs the same relative to its size."""
    return float(statistics.geometric_mean(values))


# -- process tree ---------------------------------------------------------


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after the last ')'
        fields = stat[stat.rfind(b")") + 2:].split()
        out[int(name)] = int(fields[1])
    return out


def descendants(pid: int) -> list[int]:
    """All live descendants of ``pid`` (children first-level first)."""
    children: dict[int, list[int]] = {}
    for p, pp in _ppid_map().items():
        children.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


_HZ = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(stat_path: str, children: bool) -> int:
    """utime + stime from a /proc stat file, plus cutime + cstime (the
    children it has reaped) with ``children``; 0 when it is gone."""
    try:
        with open(stat_path, "rb") as f:
            stat = f.read()
    except OSError:
        return 0
    fields = stat[stat.rfind(b")") + 2:].split()
    return sum(int(x) for x in fields[11:15 if children else 13])


def _jit_tids(pid: int) -> list[int]:
    """The JIT compiler threads of a JVM ("C1/C2 CompilerThreadN")."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for t in tids:
        try:
            with open(f"/proc/{pid}/task/{t}/comm") as f:
                if f.read().startswith(("C1 Compiler", "C2 Compiler")):
                    out.append(int(t))
        except OSError:
            pass
    return out


def tree_cpu_s(exclude_tids: tuple[int, ...] = (),
               exclude_pids: tuple[int, ...] = ()) -> tuple[float, float]:
    """CPU seconds (user + system) used so far by this process and all
    its descendants (the Python driver, the JVM and the Python workers),
    as (work, jit).  ``jit`` is the JVM's JIT compiler threads, which
    compile warm-up code in whichever pass the compile queue reaches;
    ``work`` is all the rest, without this process's threads
    ``exclude_tids`` and the descendants ``exclude_pids``.
    A descendant that ended counts through its parent once reaped, so
    the difference of two readings is the CPU spent between them.  The
    JVM keeps its compiler threads for its whole life
    (-XX:-UseDynamicNumberOfCompilerThreads), so no compiler thread's
    ticks move into the process total between two readings."""
    me = os.getpid()
    ticks = _cpu_ticks(f"/proc/{me}/stat", True)
    ticks -= sum(_cpu_ticks(f"/proc/{me}/task/{t}/stat", False) for t in exclude_tids)
    jit = 0
    for p in descendants(me):
        if p in exclude_pids:
            continue
        ticks += _cpu_ticks(f"/proc/{p}/stat", True)
        try:
            with open(f"/proc/{p}/comm") as f:
                java = f.read().strip() == "java"
        except OSError:
            java = False
        if java:
            jit += sum(_cpu_ticks(f"/proc/{p}/task/{t}/stat", False) for t in _jit_tids(p))
    return (ticks - jit) / _HZ, jit / _HZ


def pss_bytes(pid: int) -> int:
    """Proportional set size: shared pages are split among the processes
    sharing them, so a sum over forked processes (the Python worker
    daemon's children, a JVM fork before its exec) counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


SAMPLE_S = 0.2  # memory sampling interval


class MemSampler:
    """Samples the summed PSS of this process and its descendants (the
    JVM and its Python workers) every SAMPLE_S while ``active``; keeps
    the peak."""

    def __init__(self, exclude_pids: tuple[int, ...] = ()) -> None:
        self.peak = 0
        self.active = False
        self.tid = 0  # native id of the sampling thread
        self.exclude_pids = set(exclude_pids)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        self.tid = threading.get_native_id()
        pid = os.getpid()
        while not self._stop.wait(SAMPLE_S):
            if self.active:
                pids = [p for p in [pid, *descendants(pid)] if p not in self.exclude_pids]
                self.peak = max(self.peak, sum(pss_bytes(p) for p in pids))


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rfind(b")") + 2:].split()[0] != b"Z"


def stop_tree(pids: list[int], timeout: float = 20.0) -> list[int]:
    """SIGTERM then SIGKILL ``pids``; wait until each has ended (a
    zombie counts as ended).  Returns the pids still alive."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in pids:
            if _alive(p):
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + timeout / 2
        while time.monotonic() < deadline and any(_alive(p) for p in pids):
            for p in pids:  # reap our own children so they leave no zombie
                try:
                    os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    pass
            time.sleep(0.05)
        if not any(_alive(p) for p in pids):
            return []
    return [p for p in pids if _alive(p)]


# -- host speed -----------------------------------------------------------

# The probe process: every PROBE_PERIOD_S it runs a fixed numpy kernel (a
# sort of 64k doubles, L2-resident, and 200k random reads from a 64 MB
# array, which miss the caches), times it in its own thread CPU time and
# prints "<monotonic s> <ms>".
_PROBE_CODE = """
import time
import numpy as np
rng = np.random.default_rng(7)
x = rng.random(65536)
big = rng.random(8_000_000)
idx = rng.integers(0, big.size, 200_000)
while True:
    c = time.thread_time()
    for _ in range(2):
        np.cumsum(np.sort(x))
    big.take(idx).sum()
    print(time.monotonic(), (time.thread_time() - c) * 1e3, flush=True)
    time.sleep(%r)
"""
PROBE_PERIOD_S = 0.1
# what the probe kernel costs on a calm host of the reference kind (a
# shared 4-core Xeon VM): the unit of "reference CPU seconds"
REF_PROBE_MS = 5.5


class HostSpeed:
    """Measures how fast the host runs a fixed kernel while the
    benchmark runs.  On a shared host, other tenants on the same
    physical cores make every instruction cost more CPU time, in phases
    that last minutes; the probe's cost rises with them.  The probe
    process and the thread reading it are not part of the program: leave
    ``proc.pid`` and ``tid`` out of CPU and memory figures."""

    def __init__(self) -> None:
        self.samples: list[tuple[float, float]] = []
        self.proc = subprocess.Popen([sys.executable, "-c", _PROBE_CODE % PROBE_PERIOD_S],
                                     stdout=subprocess.PIPE, text=True)
        self.tid = 0
        self._thread = threading.Thread(target=self._read, daemon=True)
        self._thread.start()

    def _read(self) -> None:
        self.tid = threading.get_native_id()
        for line in self.proc.stdout:
            t, ms = line.split()
            self.samples.append((float(t), float(ms)))

    def ms_between(self, t0: float, t1: float) -> float:
        """Median probe cost (ms) of the samples taken between t0 and t1
        (monotonic clock)."""
        v = [ms for t, ms in self.samples if t0 <= t <= t1]
        if not v:
            raise RuntimeError(f"host probe took no sample in {t1 - t0:.2f} s")
        return median(v)

    def stop(self) -> None:
        self.proc.kill()
        self.proc.wait()
        self._thread.join(timeout=5)
