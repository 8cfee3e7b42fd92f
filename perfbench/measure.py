"""Measurement helpers: percentiles, failure accounting, span tracing,
process-tree RSS sampling and the Spark status-store reader.

Nothing here imports the engine; everything measures it from outside.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import threading
import time
import traceback
from pathlib import Path

MIN_BEYOND = 10


# ---------------------------------------------------------------------------
# percentiles
# ---------------------------------------------------------------------------

def percentile(values, q: float) -> float:
    """Linearly interpolated q-th percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    if not 0 <= q <= 100:
        raise ValueError(f"q must be in [0, 100], got {q}")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)


def samples_beyond(values, q: float) -> int:
    """Number of samples strictly above the q-th percentile."""
    p = percentile(values, q)
    return sum(1 for v in values if v > p)


def tail_percentile(values, q: float, min_beyond: int = MIN_BEYOND) -> tuple[float, int, bool]:
    """The q-th percentile, the number of samples beyond it, and whether
    that number reaches ``min_beyond`` (the rule for reporting a tail
    percentile: below it the figure is one or two samples, not a tail)."""
    n_beyond = samples_beyond(values, q)
    return percentile(values, q), n_beyond, n_beyond >= min_beyond


# ---------------------------------------------------------------------------
# failure accounting
# ---------------------------------------------------------------------------

class Tally:
    """Counts attempted ops and failed ones.  An op fails when it raises
    or when a later check finds its output wrong; an op is counted failed
    at most once however many of its checks fail."""

    def __init__(self):
        self.attempted = 0
        self._failed: dict[str, str] = {}
        self._next = 0

    def new_op(self, kind: str) -> str:
        self._next += 1
        self.attempted += 1
        return f"{kind}-{self._next}"

    def fail(self, op_id: str, reason: str) -> None:
        self._failed.setdefault(op_id, reason)

    def check(self, op_id: str, ok: bool, reason: str) -> bool:
        if not ok:
            self.fail(op_id, reason)
        return ok

    @contextlib.contextmanager
    def guard(self, op_id: str):
        """Run an op body; an exception marks the op failed and is
        swallowed so the closed loop goes on to the next op."""
        try:
            yield
        except Exception:  # the loop must survive any engine error
            self.fail(op_id, traceback.format_exc(limit=3))

    @property
    def failed(self) -> int:
        return len(self._failed)

    @property
    def failures(self) -> dict[str, str]:
        return dict(self._failed)

    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------

class Tracer:
    """Spans around the benchmark's calls into each layer: name, start,
    end, parent span and op id, kept in memory and written out once at
    the end of the run.  A disabled tracer records nothing and its
    ``span`` is a shared null context."""

    _NULL = contextlib.nullcontext()

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None

    def span(self, name: str):
        if not self.enabled:
            return self._NULL
        return self._record(name)

    @contextlib.contextmanager
    def _record(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": idx, "name": name, "parent": parent, "op": self.op_id,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus its children's.
        Calls are sequential in one thread, so children never overlap."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list[float]] = {}
        for s in self.spans:
            out.setdefault(s["name"], []).append(s["end"] - s["start"] - child[s["id"]])
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def rss_bytes(pids) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue  # exited between listing and reading
    return total


class RssSampler:
    """Samples the summed resident set of every descendant of this
    process (the JVM and the Python workers it forks) on a background
    thread; ``peak`` is the largest sum seen."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(descendants(me)))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# Spark runtime counters
# ---------------------------------------------------------------------------

STAGE_FIELDS = (
    "numTasks", "numCompleteTasks", "numFailedTasks", "executorRunTime",
    "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
)


def read_stages(sc, stage_ids) -> dict[int, dict]:
    """Per-stage counters from the application status store (populated
    with the UI off), for the latest attempt of each wanted stage.  Uses
    ``statusStore().stageList(statuses, details, withSummaries,
    quantiles, taskStatus)`` with an empty status filter (all stages)."""
    wanted = set(stage_ids)
    if not wanted:
        return {}
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    empty = jvm.java.util.ArrayList()
    no_q = sc._gateway.new_array(jvm.double, 0)
    seq = store.stageList(empty, False, False, no_q, empty)
    out: dict[int, dict] = {}
    for i in range(seq.length()):
        s = seq.apply(i)
        sid = s.stageId()
        if sid not in wanted:
            continue
        att = s.attemptId()
        if sid in out and out[sid]["attemptId"] >= att:
            continue
        row = {"stageId": sid, "attemptId": att, "status": str(s.status())}
        for f in STAGE_FIELDS:
            row[f] = getattr(s, f)()
        out[sid] = row
    return out


def task_time_quantiles(sc, stage_id: int, attempt_id: int, qs=(0.5, 1.0)) -> list[float] | None:
    """Executor run time of a stage's tasks at the given quantiles (ms),
    or None when the store holds no task summary for it."""
    jvm = sc._jvm
    arr = sc._gateway.new_array(jvm.double, len(qs))
    for i, q in enumerate(qs):
        arr[i] = q
    opt = sc._jsc.sc().statusStore().taskSummary(stage_id, attempt_id, arr)
    if not opt.isDefined():
        return None
    ert = opt.get().executorRunTime()
    return [float(ert.apply(i)) for i in range(len(qs))]


def stages_of_group(sc, group: str) -> list[int]:
    tracker = sc.statusTracker()
    sids: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is not None:
            sids.update(info.stageIds)
    return sorted(sids)


def jobs_of_group(sc, group: str) -> int:
    return len(sc.statusTracker().getJobIdsForGroup(group))


def op_counters(sc, group: str) -> dict:
    """Spark counters of one op (all jobs run under job group ``group``):
    jobs, tasks, failed tasks, executor run time, shuffle write, spill,
    and the task skew (max / median task run time) of its longest
    running stage, the one that sets the op's wall time."""
    stages = read_stages(sc, stages_of_group(sc, group))
    ran = [s for s in stages.values() if s["status"] != "SKIPPED"]
    out = {
        "jobs": jobs_of_group(sc, group),
        "tasks": sum(s["numCompleteTasks"] for s in ran),
        "tasks_failed": sum(s["numFailedTasks"] for s in ran),
        "run_ms": sum(s["executorRunTime"] for s in ran),
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in ran),
        "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in ran),
        "task_skew": 1.0,
    }
    multi = [s for s in ran if s["numCompleteTasks"] > 1]
    if multi:
        top = max(multi, key=lambda s: s["executorRunTime"])
        q = task_time_quantiles(sc, top["stageId"], top["attemptId"])
        if q and q[0] > 0:
            out["task_skew"] = q[1] / q[0]
    return out


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the machine so far, from /proc/stat.
    Steal is time the hypervisor gave this machine's CPUs to others; on
    a shared host it is the main source of run-to-run noise."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def cpu_probe_ms(reps: int = 5) -> float:
    """Median wall time (ms) of a fixed single-thread Python loop: how
    fast this machine runs one thread right now.  On a shared host it
    drifts by tens of percent within minutes, and run-to-run spread in
    every timing follows it."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i % 7
        walls.append((time.perf_counter() - t0) * 1000)
    return median(walls)


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


def dir_files(path: Path, suffix: str = ".parquet") -> int:
    return sum(1 for p in Path(path).rglob(f"*{suffix}") if p.is_file())
