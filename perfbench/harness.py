"""Shared pieces of the benchmark: run environment, process-tree
accounting from /proc, spans, Spark job-group counts, percentiles and
the multiset comparison every correctness check uses.

Nothing here imports pyspark at module level, so ``selftest.py`` can
exercise the checkers without a JVM.
"""

from __future__ import annotations

import json
import math
import os
import shlex
import signal
import subprocess
import threading
import time
from contextlib import contextmanager
from decimal import Decimal

PACKAGE = "angelone_clickhouse_spark"
# the driver heap cap (spark.driver.memory; the package defaults to 8g):
# keeps a run small on a shared host
DRIVER_MEM = "2g"
# a floor under the driver heap, committed and touched at JVM start. G1
# grew the heap from ~0.5 to ~1 GB in some runs and not in others, by
# timing alone, so a run's peak RSS took one of two values ~400 MB
# apart. With the floor both read the same; heap beyond it, non-heap
# JVM memory and the Python processes still show.
DRIVER_HEAP_FLOOR = "1g"


# ---------------------------------------------------------------------------
# run environment
# ---------------------------------------------------------------------------
def program_present(root: str) -> bool:
    return os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")) and (
        os.path.isfile(os.path.join(root, "__spark_entry__.py"))
    )


def prepare_env(root: str, run_dir: str, cores: int) -> None:
    """Point every writer of temp files (Python, the JVM, Spark's
    block manager) into ``run_dir``, and make the package importable
    by Spark's Python workers, which start from the JVM's environment
    and not from this interpreter's ``sys.path``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + pp if pp else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.pop("SPARK_MASTER", None)
    # every JVM (spark-submit's launcher too): temp files in the run
    # directory, and no perf-data file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
        [
            "--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options", f"-Xms{DRIVER_HEAP_FLOOR} -XX:+AlwaysPreTouch",
            "pyspark-shell",
        ]
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def set_up(cores: int):
    """One set-up of the program: the package's session factory at
    ``local[cores]``, then a first Spark job. Returns the session."""
    from angelone_clickhouse_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{cores}]")
    spark.range(0, 100_000, numPartitions=cores).selectExpr("sum(id)").first()
    return spark


def git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


# ---------------------------------------------------------------------------
# /proc: process age, tree RSS, stopping descendants
# ---------------------------------------------------------------------------
_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; the fields after it start past the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def process_age_s() -> float:
    """Seconds since this process started (not since Python began
    running the script)."""
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    start_ticks = int(_stat_fields(os.getpid())[19])
    return time.time() - (btime + start_ticks / _CLK_TCK)


def cpu_times() -> list[int]:
    """The machine's aggregate CPU times from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    delta = [b - a for a, b in zip(start, end)]
    return 100.0 * delta[7] / max(1, sum(delta[:8]))


def descendants(root_pid: int) -> list[tuple[int, int]]:
    """(pid, parent pid) of every descendant of ``root_pid``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        parent = todo.pop()
        for c in children.get(parent, []):
            out.append((c, parent))
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _label(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline") as f:
            argv = f.read().split("\0")
    except OSError:
        return "?"
    for arg in argv:
        if arg.startswith("pyspark.") or arg.endswith("/java"):
            return os.path.basename(arg)
    return os.path.basename(argv[0])


def _rss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * _PAGE


def tree_memory(root_pid: int) -> dict[int, tuple[str, int]]:
    """Resident memory of the process and each descendant: RSS for
    the JVM, proportional (PSS) for the Python processes. PSS splits
    shared pages between the processes sharing them, so Python workers
    forked from one daemon are not counted once per worker for the
    pages they share; the JVM shares nothing worth splitting, and
    walking its multi-GB mapping for PSS would stall it. A child the
    JVM has forked but not yet exec'd (Hadoop shells out for file
    commands) still shows the JVM's pages and is skipped."""
    labels = {root_pid: _label(root_pid)}
    out = {}
    for pid, parent in [(root_pid, None), *descendants(root_pid)]:
        label = labels.setdefault(pid, _label(pid))
        if label == "java" and labels.get(parent) == "java":
            continue
        try:
            out[pid] = (label, _rss_bytes(pid) if label == "java" else _pss_bytes(pid))
        except (OSError, ValueError):
            pass
    return out


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM and Spark's Python workers), sampled from /proc, with the
    per-process make-up at the peak."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak = 0
        self.at_peak: dict[int, tuple[str, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            mem = tree_memory(pid)
            total = sum(b for _, b in mem.values())
            if total > self.peak:
                self.peak, self.at_peak = total, mem
            self._stop.wait(self.period_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak / 2**20

    def breakdown_mb(self) -> dict[str, float]:
        """MB per process kind at the peak."""
        out: dict[str, float] = {}
        for label, b in self.at_peak.values():
            out[label] = out.get(label, 0.0) + b / 2**20
        return out


def stop_descendants(timeout_s: float = 20.0) -> None:
    """SIGTERM every descendant, SIGKILL what outlives ``timeout_s``,
    and reap the direct children, so nothing this run started is left
    running when it exits."""
    pids = [pid for pid, _ in descendants(os.getpid())]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            _reap()
            pids = [p for p in pids if _alive(p)]
            if not pids:
                return
            time.sleep(0.05)
    _reap()


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------
class Tracer:
    """In-memory spans around the benchmark's calls into the program:
    name, start, end, parent and run id. A disabled tracer records
    nothing, so untraced runs pay only a context-manager call."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "id": idx,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_ms(self) -> list[tuple[str, float]]:
        """(name, self time ms) per span: its duration minus the part
        of it its children cover (children never overlap here, since
        spans nest on one thread)."""
        child_ms = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] += (s["end"] - s["start"]) * 1e3
        return [
            (s["name"], (s["end"] - s["start"]) * 1e3 - child_ms[s["id"]])
            for s in self.spans
        ]

    def self_by_name(self, name: str) -> list[float]:
        return [ms for n, ms in self.self_ms() if n == name]

    def dur_by_name(self, name: str) -> list[float]:
        return [
            (s["end"] - s["start"]) * 1e3 for s in self.spans if s["name"] == name
        ]

    def coverage(self, regions: set[str]) -> float:
        """Share of the region spans' (``regions``) wall time that
        their child spans cover. A region span's own self time is work
        no layer span accounts for, so untraced work lowers the
        figure."""
        dur = own = 0.0
        for s, (name, ms) in zip(self.spans, self.self_ms()):
            if name in regions:
                dur += (s["end"] - s["start"]) * 1e3
                own += ms
        return (dur - own) / dur

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------------------
# Spark job-group structure counts
# ---------------------------------------------------------------------------
def group_counts(sc, group: str, wait_s: float = 5.0) -> dict:
    """Jobs, executed stages and COMPLETED tasks of one job group.

    ``numTasks`` would count the tasks of stages AQE skipped or
    re-planned; ``numCompletedTasks`` counts what ran. Waits for every
    job of the group to report its end, so the listener has applied
    every task-end event before the counts are read."""
    tracker = sc.statusTracker()
    deadline = time.time() + wait_s
    while True:
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        jobs = [j for j in jobs if j is not None]
        if all(j.status in ("SUCCEEDED", "FAILED") for j in jobs):
            break
        if time.time() > deadline:
            break
        time.sleep(0.02)
    stages = tasks = 0
    for j in jobs:
        for sid in j.stageIds:
            si = tracker.getStageInfo(sid)
            if si is not None and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


# ---------------------------------------------------------------------------
# statistics and correctness
# ---------------------------------------------------------------------------
HD_GRID = 1 << 18  # integration cells for the Harrell-Davis weights


def quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile (q in (0, 1)) of a
    non-empty sample: a mean of all order statistics, the i-th weighted
    by the Beta((n+1)q, (n+1)(1-q)) probability of ((i-1)/n, i/n].

    A single order statistic is a poor estimate when the sample falls
    into groups: Q1-Q8 calls form one group per query, and the
    nearest-rank median of a round-robin sample is the slowest call of
    the fastest half, which flips to the fastest call of the next query
    whenever one call is slow. The weights spread over the order
    statistics near the quantile (about sqrt(q(1-q)/n) of the sample
    to each side), so one call moves the estimate by a fraction."""
    import numpy as np

    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n == 1:
        return float(x[0])
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    # the Beta density at cell midpoints, integrated to its CDF
    t = (np.arange(HD_GRID) + 0.5) / HD_GRID
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    cdf = np.concatenate(([0.0], np.cumsum(np.exp(log_pdf - log_pdf.max()))))
    cdf /= cdf[-1]
    at = np.interp(np.arange(n + 1) / n, np.arange(HD_GRID + 1) / HD_GRID, cdf)
    return float(np.diff(at) @ x)


def _canon(v, digits: int):
    if v is None:
        return None
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return round(v, digits)
    if hasattr(v, "isoformat"):
        return v.isoformat(sep=" ") if hasattr(v, "hour") else v.isoformat()
    if hasattr(v, "item"):  # numpy scalar
        return _canon(v.item(), digits)
    return v


def canon_rows(rows, digits: int = 6) -> list[tuple]:
    """Rows as hashable tuples with floats rounded (``digits``) and
    dates/timestamps as ISO text, so two engines' results compare as
    multisets."""
    return [tuple(_canon(v, digits) for v in r) for r in rows]


TOLERANT_PAIRS_MAX = 1_000_000


def _close(x, y) -> bool:
    if isinstance(x, float) and isinstance(y, float):
        return math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6)
    return x == y


def multiset_diff(expected, actual) -> tuple[int, int]:
    """(rows missing from actual, rows actual has in excess) between
    two lists of canonical rows, counting duplicates. Rows left over
    by the exact match are paired again with a float tolerance, so a
    sum that two engines round to either side of a digit still
    matches."""
    from collections import Counter

    e, a = Counter(expected), Counter(actual)
    missing = list((e - a).elements())
    excess = list((a - e).elements())
    if len(missing) * len(excess) > TOLERANT_PAIRS_MAX:
        return len(missing), len(excess)  # far off; pairing would not help
    for row in list(missing):
        for j, other in enumerate(excess):
            if len(row) == len(other) and all(map(_close, row, other)):
                missing.remove(row)
                del excess[j]
                break
    return len(missing), len(excess)
