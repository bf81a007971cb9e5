"""Read-only probes: the warehouse directory tree and process memory.

``disk_probe`` only lists and stats files; it never opens data files, so
it can run after every op without touching the program's caches.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time

_CLAIM = re.compile(r"^v(\d+)\.claim$")
_FACT_DIR = re.compile(r"^(batch=|compact-|rebatch-)")
DIM_TABLES = ("dimdate", "dimplatform", "dimsite", "dimtitle")


def disk_probe(root: str, fact_table: str = "factvideostart") -> dict:
    """Files, bytes, the longest file name, claims that no committed
    ``CURRENT`` covers, per-table file counts, the most files in any
    dim's current version, and the fact's data directories."""
    out = {
        "files": 0,
        "bytes": 0,
        "file_name_len_max": 0,
        "claims_held": 0,
        "dim_files_current": 0,
        "fact_live_dirs": 0,
        "tables": {},
    }
    if not os.path.isdir(root):
        return out
    for table in sorted(os.listdir(root)):
        tdir = os.path.join(root, table)
        if not os.path.isdir(tdir):
            continue
        n = 0
        for dirpath, _dirs, files in os.walk(tdir):
            for f in files:
                n += 1
                out["bytes"] += os.path.getsize(os.path.join(dirpath, f))
                out["file_name_len_max"] = max(out["file_name_len_max"], len(f))
        out["files"] += n
        out["tables"][table] = n
        current = _current(tdir)
        for entry in os.listdir(tdir):
            m = _CLAIM.match(entry)
            if m and (current is None or int(m.group(1)) > current):
                out["claims_held"] += 1
        if table in DIM_TABLES and current is not None:
            vdir = os.path.join(tdir, f"v{current}")
            if os.path.isdir(vdir):
                n_cur = sum(1 for f in os.listdir(vdir) if f.endswith(".parquet"))
                out["dim_files_current"] = max(out["dim_files_current"], n_cur)
        if table == fact_table:
            out["fact_live_dirs"] = sum(
                1 for d in os.listdir(tdir) if _FACT_DIR.match(d)
            )
    return out


def _current(tdir: str) -> int | None:
    try:
        with open(os.path.join(tdir, "CURRENT")) as fh:
            return int(fh.read().strip())
    except (FileNotFoundError, ValueError):
        return None


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids.extend(int(p) for p in fh.read().split())
    except OSError:
        pass
    return kids


def jvm_pid() -> int | None:
    """The JVM among this process's descendants (the py4j gateway)."""
    todo = _children(os.getpid())
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    return pid
        except OSError:
            continue
        todo.extend(_children(pid))
    return None


# JVM threads whose CPU is the JIT's: the compilers (names as
# /proc/<pid>/task/<tid>/comm shows them, cut to 15 characters). In a JVM
# under two minutes old they burn as much CPU as the program, in bursts
# whose timing moves from run to run, so op CPU is reported without them.
# GC and VM threads stay in: their work follows the program's allocation.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")

# A CPU sample: (user + system seconds of this process and the JVM, threads
# that already ended included; {tid: seconds} of the JVM's JIT threads).
ZERO_CPU: tuple[float, dict[int, float]] = (0.0, {})


def cpu_sample(jvm: int | None, skip_tid: int | None = None) -> tuple[float, dict[int, float]]:
    """CPU of this process and its JVM; ``skip_tid``, a thread of this
    process that measures rather than works (the host-speed sampler), is
    left out."""
    total = _stat_cpu_s(f"/proc/{os.getpid()}/stat")
    if skip_tid is not None:
        total -= _stat_cpu_s(f"/proc/{os.getpid()}/task/{skip_tid}/stat")
    jit: dict[int, float] = {}
    if jvm is not None:
        total += _stat_cpu_s(f"/proc/{jvm}/stat")
        try:
            tids = os.listdir(f"/proc/{jvm}/task")
        except OSError:
            tids = []
        for tid in tids:
            try:
                with open(f"/proc/{jvm}/task/{tid}/comm") as fh:
                    name = fh.read().strip()
            except OSError:
                continue
            if name.startswith(JIT_THREADS):
                jit[int(tid)] = _stat_cpu_s(f"/proc/{jvm}/task/{tid}/stat")
    return total, jit


def cpu_between(a, b) -> tuple[float, float]:
    """(all, JIT) CPU seconds from sample ``a`` to sample ``b``; all minus
    JIT is the program's own. A JIT thread gone by ``b`` (the JVM retires
    idle compiler threads) counts as idle since ``a``."""
    jit = sum(v - a[1].get(tid, 0.0) for tid, v in b[1].items())
    return b[0] - a[0], jit


def _stat_cpu_s(path: str) -> float:
    try:
        with open(path) as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    # fields[11], fields[12]: utime, stime (stat fields 14 and 15)
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(jvm: int | None) -> float:
    """Peak resident set (VmHWM) of this Python process plus the JVM."""
    kb = _status_kb(os.getpid(), "VmHWM")
    if jvm is not None:
        kb += _status_kb(jvm, "VmHWM")
    return kb / 1024.0


# --- host speed ------------------------------------------------------------

# A fixed pure-Python loop. Its CPU time tracks how fast this host runs the
# benchmark's processes right now: on a shared VM it swings by up to 1.7x
# within a minute (SMT siblings, cache and memory pressure from other
# tenants), and every CPU and wall figure of the program swings with it.
SPEED_LOOP_N = 20_000
# A fixed scale, host factor 1.0: about the loop's fastest CPU time on the
# 4-vCPU x86-64 VM the benchmark was tuned on, where factors read 0.9-1.6.
SPEED_REF_S = 0.0025
SPEED_INTERVAL_S = 0.1
# Samples a factor is the median of, at least.
SPEED_MIN_SAMPLES = 5


def speed_loop(n: int = SPEED_LOOP_N) -> float:
    """CPU seconds this thread takes for ``n`` rounds of integer hashing."""
    t = time.thread_time()
    x = 0
    for i in range(n):
        x = (x * 31 + i) & 0xFFFFFFFF
    return time.thread_time() - t


class HostSpeed:
    """Times ``speed_loop`` every ``SPEED_INTERVAL_S`` on a daemon thread
    (about 3 % of one core), pinned to each of this process's cores in
    turn, so each op's CPU seconds can be divided by the host factor of
    the cores it ran on, measured while it ran."""

    def __init__(self) -> None:
        self.samples: list[tuple[float, float]] = []  # (perf_counter, loop s)
        self._cores = sorted(os.sched_getaffinity(0))
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="host-speed", daemon=True)

    def start(self) -> None:
        self._thread.start()

    @property
    def tid(self) -> int | None:
        return self._thread.native_id

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()

    def _run(self) -> None:
        k = 0
        while not self._stop.wait(SPEED_INTERVAL_S):
            # pid 0 is the calling thread: only the sampler moves
            os.sched_setaffinity(0, {self._cores[k % len(self._cores)]})
            k += 1
            loop_s = speed_loop()
            self.samples.append((time.perf_counter(), loop_s))

    def factor(self, begin: float, end: float) -> float:
        """Median loop CPU time over ``[begin, end]`` (widened back to the
        last ``SPEED_MIN_SAMPLES`` samples for a short window) over
        ``SPEED_REF_S``: 2.0 means the host ran this process at half the
        reference speed."""
        samples = list(self.samples)
        window = [s for t, s in samples if begin <= t <= end]
        if len(window) < SPEED_MIN_SAMPLES:
            window = [s for t, s in samples if t <= end][-SPEED_MIN_SAMPLES:]
        if not window:
            window = [speed_loop()]
        return statistics.median(window) / SPEED_REF_S
