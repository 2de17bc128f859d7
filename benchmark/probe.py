"""Host and engine probes read from outside the package.

- ``Canary``: fixed pure-Python loops run on ``nproc`` processes. They
  import nothing from the package, so no program change can move them;
  only the host can. Dividing a pass by the canary timed around it
  takes out slow minutes and slow cores.
- ``cpu_ticks`` / ``tree_cpu_s``: steal share and process-tree CPU
  time from ``/proc``.
- ``stage_records`` / ``stage_summary``: per-stage counters from
  Spark's status store, which is kept even with the UI off.
- ``host_context``: what a run record needs so that records from
  different hosts are never compared.
"""

from __future__ import annotations

import math
import os
import platform
import random
import signal
import subprocess
import sys
import time

CANARY_LOOPS = 1_000_000
CHASE_STEPS = 400_000
# Set-up time is reported in seconds on a host whose canary reads this:
# a fast minute on the 4-core host of README.md (Measured spread).
CANARY_REF_S = 0.11
_CHAIN: list[int] = []


def _spin(n: int) -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def _chase(n: int) -> float:
    """Follow a random cycle through a 2M-entry list: every step is a
    dependent load that misses the caches."""
    if not _CHAIN:
        order = list(range(1 << 21))
        random.Random(1).shuffle(order)
        _CHAIN.extend([0] * len(order))
        for a, b in zip(order, order[1:] + order[:1]):
            _CHAIN[a] = b
    t0 = time.perf_counter()
    i = 0
    for _ in range(n):
        i = _CHAIN[i]
    return time.perf_counter() - t0


def _loops(n_spin: int, n_chase: int) -> tuple[float, float]:
    return _spin(n_spin), _chase(n_chase)


class Canary:
    """``n`` child processes that each run two fixed loops on request:
    an arithmetic one (core speed) and a pointer chase (memory speed).

    A reading is the geometric mean of the two loops' mean times over
    the ``n`` processes, run at once. Both parts are needed: the
    arithmetic loop alone tracked neither workload's slow minutes well,
    the chase alone missed part of the JVM workload's; their mean
    tracked both (README.md, Measured spread).

    Each child is this file run as a script, reading requests on its
    stdin and answering on its stdout. It is a fresh interpreter, not a
    fork: the driver process holds py4j threads, and forking a threaded
    process is unsafe. Nothing else is started for it, and a child ends
    when its stdin closes, so ``close`` (or the driver's exit) ends every
    one. The children are started once (building each one's chain), so a
    reading times only the loops."""

    def __init__(self, n: int):
        self.n = n
        self._procs: list[subprocess.Popen] = []
        try:
            for _ in range(n):
                self._procs.append(subprocess.Popen(
                    [sys.executable, "-B", os.path.abspath(__file__)],
                    stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
                ))
            self._ask(1000, 1000)
        except BaseException:
            self.close()
            raise

    def _ask(self, n_spin: int, n_chase: int) -> list[tuple[float, float]]:
        for p in self._procs:
            p.stdin.write(f"{n_spin} {n_chase}\n")
            p.stdin.flush()
        res = []
        for p in self._procs:
            line = p.stdout.readline()
            if not line:
                raise RuntimeError(f"canary process {p.pid} ended")
            spin, chase = line.split()
            res.append((float(spin), float(chase)))
        return res

    def time(self) -> float:
        res = self._ask(CANARY_LOOPS, CHASE_STEPS)
        spin = sum(r[0] for r in res) / self.n
        chase = sum(r[1] for r in res) / self.n
        return math.sqrt(spin * chase)

    def close(self) -> None:
        for p in self._procs:
            try:
                p.stdin.close()
            except OSError:
                pass
        for p in self._procs:
            try:
                p.wait(timeout=30)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
            p.stdout.close()
        self._procs = []


def _serve() -> None:
    """A canary child: answer each "n_spin n_chase" line with the two
    loop times, until stdin closes."""
    while line := sys.stdin.readline():
        n_spin, n_chase = map(int, line.split())
        print(*_loops(n_spin, n_chase), flush=True)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already counted in user and nice.
    return fields[7], sum(fields[:8])


def _proc_table() -> dict[int, tuple[int, int, int, str]]:
    """{pid: (parent pid, start time, user+system CPU, state)} of every
    process, times in clock ticks, from /proc."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        rest = stat[stat.rindex(")") + 2:].split()
        out[int(entry)] = (int(rest[1]), int(rest[19]), int(rest[11]) + int(rest[12]), rest[0])
    return out


def _tree(root: int, table: dict) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of ``root`` and all its live descendants
    (the driver, the JVM it launched and the JVM's Python workers)."""
    table = _proc_table()
    ticks = sum(table[pid][2] for pid in _tree(root, table) if pid in table)
    return ticks / os.sysconf("SC_CLK_TCK")


def descendants(root: int) -> set[tuple[int, int]]:
    """(pid, start time) of every live descendant of ``root``."""
    table = _proc_table()
    return {(pid, table[pid][1]) for pid in _tree(root, table)[1:]}


def wait_gone(procs: set[tuple[int, int]], timeout: float = 60.0) -> None:
    """Wait until every process in ``procs`` (from ``descendants``) has
    ended; kill those still there after ``timeout`` seconds. A process
    whose parent ended first is no longer this process's child, so it is
    polled in /proc rather than waited for."""
    deadline = time.monotonic() + timeout
    killed = False
    while True:
        table = _proc_table()
        # A zombie has ended; only its parent's wait is missing.
        left = [pid for pid, start in procs
                if pid in table and table[pid][1] == start and table[pid][3] != "Z"]
        if not left:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {left} did not end")
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            killed, deadline = True, time.monotonic() + 10.0
        time.sleep(0.05)


def host_context(repo_root: str, nproc: int) -> dict:
    import pyspark

    try:
        sha = subprocess.run(
            ["git", "-C", repo_root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    return {
        "nproc": nproc,
        "git_sha": sha,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "machine": platform.machine(),
    }


def _ms(opt_date) -> int | None:
    return opt_date.get().getTime() if opt_date.isDefined() else None


def stage_records(spark, group: str) -> tuple[list[dict], int]:
    """(one record per stage that ran for jobs in ``group``, job count).
    Stages a job skipped (their shuffle output was reused) never ran
    and have no attempt in the status store, so they are left out."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids = sorted({s for j in job_ids for s in (tracker.getJobInfo(j).stageIds or [])})
    out = []
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # py4j wraps NoSuchElementException: skipped stage
            continue
        start, end = _ms(st.submissionTime()), _ms(st.completionTime())
        if start is None or end is None:
            continue
        out.append({
            "start_ms": start,
            "end_ms": end,
            "tasks": st.numCompleteTasks(),
            "failed_tasks": st.numFailedTasks(),
            "task_s": st.executorRunTime() / 1000.0,
            "gc_s": st.jvmGcTime() / 1000.0,
            "shuffle_write_mb": st.shuffleWriteBytes() / 1e6,
            "spill_mb": (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6,
        })
    return out, len(job_ids)


def covered_s(stages: list[dict], lo_ms: float, hi_ms: float) -> float:
    """Seconds of [lo_ms, hi_ms] during which at least one stage ran."""
    spans = sorted((max(s["start_ms"], lo_ms), min(s["end_ms"], hi_ms)) for s in stages)
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total / 1000.0


def stage_summary(stages: list[dict]) -> dict:
    keys = ("tasks", "failed_tasks", "task_s", "gc_s", "shuffle_write_mb", "spill_mb")
    out = {k: sum(s[k] for s in stages) for k in keys}
    out["stages"] = len(stages)
    return out


if __name__ == "__main__":
    _serve()
