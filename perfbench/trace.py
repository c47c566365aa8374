"""Measurement helpers: spans around package calls, the driver's status
store, and the CPU time and peak resident memory of the engine's
processes.

Everything here reads Spark's in-process status stores through py4j,
so it works with ``spark.ui.enabled=false``:

- jobs and stages: ``sc._jsc.sc().statusStore()`` -> ``jobsList`` ->
  ``stageIds`` -> ``lastStageAttempt`` (``stageList`` needs five
  py4j arguments, so it is avoided);
- task skew: ``taskSummary(stage, attempt, [0.5, 1.0])``;
- Python-worker time: the SQL status store
  (``sharedState().statusStore()``: ``executionsList`` -> ``planGraph``
  + ``executionMetrics``), metric "time to run Python workers" of each
  execution, credited to the span of the execution's jobs.
"""

from __future__ import annotations

import contextlib
import os
import re
import statistics
import threading
import time
from dataclasses import dataclass, field

MODULES = ("sources", "operators", "kernels", "streaming", "llmops")

# per-span counters read from the status store (summed over the span's jobs)
COUNTERS = (
    "jobs", "build_jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s",
    "gc_s", "python_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "input_bytes", "output_bytes", "failed_tasks",
)
PYTHON_METRIC = "time to run Python workers"
GLUE_GROUP = "perfbench"
_SPAN_DESC = re.compile(r"^(?:build|execute)#(\d+)$")
# SQL timing metrics arrive formatted: "313 ms", "1.7 s", or with many
# tasks "total (min, med, max (...))\n1.7 s (...)"
_DURATION = re.compile(r"([\d.,]+) (ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


@dataclass
class Span:
    name: str  # "<module>.<file>.<function>" of the package call
    phase: str  # "build" (returns the DataFrame) or "execute" (the action)
    unit: int  # pass (batch workloads) or trigger (live_feed) index
    start: float
    end: float = 0.0
    index: int = 0

    @property
    def module(self) -> str:
        return self.name.split(".", 1)[0]


@dataclass
class Tracer:
    """Times the benchmark's calls into the package and, when enabled,
    records them as spans.

    Call timing is always on (it is how request latency is measured).
    An enabled tracer also tags the calling thread's Spark jobs with
    ``setJobGroup(<module>.<function>)`` and the span index as the job
    description, so each job maps back to its span after the run."""

    sc: object
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    calls: list[tuple[str, int, float, float]] = field(default_factory=list)
    unit: int = 0

    @contextlib.contextmanager
    def span(self, name: str, phase: str):
        if not self.enabled:
            yield
            return
        sp = Span(name, phase, self.unit, time.time(), index=len(self.spans))
        self.sc.setJobGroup(name, f"{phase}#{sp.index}", False)
        try:
            yield
        finally:
            sp.end = time.time()
            self.spans.append(sp)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def glue(self, fn):
        """The benchmark's own Spark work (reading inputs): tagged so
        its jobs count neither for a span nor as ungrouped."""
        if not self.enabled:
            return fn()
        self.sc.setJobGroup(GLUE_GROUP, "glue", False)
        try:
            return fn()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def call(self, name: str, build=None, execute=None):
        """One package call: ``build()`` returns a DataFrame (or a
        value) and ``execute(result)`` runs the action; each is its own
        span. Without ``build``, ``execute()`` takes no argument."""
        start = time.time()
        out = None
        if build is not None:
            with self.span(name, "build"):
                out = build()
        if execute is not None:
            with self.span(name, "execute"):
                out = execute(out) if build is not None else execute()
        self.calls.append((name, self.unit, start, time.time()))
        return out


# ---------------------------------------------------------------------------
# status store
# ---------------------------------------------------------------------------


def _ids(seq) -> list[int]:
    s = seq.mkString(",")
    return [int(x) for x in s.split(",") if x]


def _opt(o):
    return o.get() if o.isDefined() else None


@dataclass
class JobRecord:
    job_id: int
    group: str | None
    description: str | None
    submitted: float  # epoch seconds
    status: str
    stage_ids: list[int]


class StatusReader:
    """Reads finished jobs and stages from the driver's status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.gateway = self.sc._gateway
        self._stages: dict[int, dict] = {}

    def jobs(self) -> list[JobRecord]:
        out = []
        it = self.store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            sub = _opt(j.submissionTime())
            submitted = sub.getTime() / 1000.0 if sub is not None else 0.0
            out.append(
                JobRecord(
                    j.jobId(), _opt(j.jobGroup()), _opt(j.description()),
                    submitted, j.status().toString(), _ids(j.stageIds()),
                )
            )
        out.sort(key=lambda r: r.job_id)
        return out

    def stage(self, sid: int) -> dict:
        """Full counter set of a stage's last attempt (cached)."""
        if sid in self._stages:
            return self._stages[sid]
        try:
            s = self.store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — skipped / never-run stage
            rec = {"ran": False}
            self._stages[sid] = rec
            return rec
        ran = s.status().toString() != "SKIPPED"
        skew = 1.0
        if ran and s.numCompleteTasks() > 1:
            q = self.gateway.new_array(self.gateway.jvm.double, 2)
            q[0], q[1] = 0.5, 1.0
            summ = _opt(self.store.taskSummary(sid, s.attemptId(), q))
            if summ is not None:
                run = summ.executorRunTime()
                med, mx = run.apply(0), run.apply(1)
                skew = mx / med if med > 0 else (1.0 if mx == 0 else float(mx))
        rec = {
            "ran": ran,
            "tasks": s.numTasks() if ran else 0,
            "failed_tasks": s.numFailedTasks(),
            "exec_run_s": s.executorRunTime() / 1000.0,
            "exec_cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1000.0,
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "input_bytes": s.inputBytes(),
            "output_bytes": s.outputBytes(),
            "task_skew": skew,
        }
        self._stages[sid] = rec
        return rec

    def python_s_by_job(self, spark) -> dict[int, float]:
        """Python-worker seconds per SQL execution, keyed by the
        execution's first job id."""
        sq = spark._jsparkSession.sharedState().statusStore()
        out = {}
        it = sq.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            jobs = sorted(int(j) for j in re.findall(r"(\d+) ->", e.jobs().toString()))
            if not jobs:
                continue
            ids = set()
            nodes = sq.planGraph(e.executionId()).allNodes().iterator()
            while nodes.hasNext():
                mi = nodes.next().metrics().iterator()
                while mi.hasNext():
                    m = mi.next()
                    if m.name() == PYTHON_METRIC:
                        ids.add(m.accumulatorId())
            if not ids:
                continue
            values = sq.executionMetrics(e.executionId())
            total = 0.0
            for acc in ids:
                if values.contains(acc):
                    text = values.apply(acc).splitlines()[-1]
                    m = _DURATION.match(text.strip())
                    if m:
                        total += float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)]
            out[jobs[0]] = total
        return out


def span_records(reader: StatusReader, spans: list[Span], jobs: list[JobRecord],
                 python_s: dict[int, float]):
    """Per-span counters, plus the jobs that fell in no span.
    ``python_s`` maps a job id to Python-worker seconds."""
    by_index: dict[int, list[JobRecord]] = {}
    ungrouped = []
    for j in jobs:
        if j.group == GLUE_GROUP:
            continue
        m = _SPAN_DESC.match(j.description or "") if j.group else None
        idx = int(m.group(1)) if m else None
        if idx is None:
            ungrouped.append(j)
        else:
            by_index.setdefault(idx, []).append(j)
    records = []
    for sp in spans:
        sjobs = by_index.get(sp.index, [])
        rec = {
            "name": sp.name, "module": sp.module, "phase": sp.phase,
            "unit": sp.unit, "start": sp.start, "end": sp.end,
            "duration_s": sp.end - sp.start,
            **{c: 0 for c in COUNTERS}, "task_skew": 1.0,
            "ungrouped_jobs_in_window": sum(
                1 for j in ungrouped if sp.start <= j.submitted <= sp.end
            ),
        }
        rec["jobs"] = len(sjobs)
        rec["build_jobs"] = len(sjobs) if sp.phase == "build" else 0
        seen = set()
        for j in sjobs:
            rec["python_s"] += python_s.get(j.job_id, 0.0)
            for sid in j.stage_ids:
                if sid in seen:
                    continue
                seen.add(sid)
                st = reader.stage(sid)
                if not st["ran"]:
                    continue
                rec["stages"] += 1
                for c in COUNTERS[3:]:
                    if c not in ("failed_tasks", "python_s"):
                        rec[c] += st[c]
                rec["failed_tasks"] += st["failed_tasks"]
                rec["task_skew"] = max(rec["task_skew"], st["task_skew"])
        records.append(rec)
    return records, ungrouped


def evicted_jobs(jobs: list[JobRecord]) -> int:
    """Jobs the status store dropped: ids are dense from 0, so any gap
    below the largest retained id was evicted."""
    if not jobs:
        return 0
    return (jobs[-1].job_id + 1) - len({j.job_id for j in jobs})


# ---------------------------------------------------------------------------
# CPU time and resident memory of the JVM and its Python workers
# ---------------------------------------------------------------------------

_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


def _stat(pid: int):
    """``(ppid, cpu ticks, rss pages)`` of a live process, else None.
    CPU ticks are utime + stime + cutime + cstime: the process's own
    time plus that of the children it has reaped."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
        return int(f[1]), sum(int(x) for x in f[11:15]), int(f[21])
    except (OSError, IndexError, ValueError):
        return None


def descendants(root: int) -> list[int]:
    """``root`` and every process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def python_cpu_s(root: int) -> float:
    """CPU seconds used so far by the processes below the JVM ``root``:
    its Python daemon and workers, including workers that already
    exited (their time moved to their parent's cutime/cstime when it
    reaped them). The JVM itself is left out: its task threads are
    counted by the status store, and most of its other time is JIT
    compilation, which falls pass after pass for dozens of passes."""
    return sum(st[1] for st in map(_stat, descendants(root)[1:]) if st) * _TICK_S


def cpu_in_windows(reader: StatusReader, jobs: list[JobRecord], windows) -> list[float]:
    """Executor CPU seconds (the task threads' ``executorCpuTime``) of
    the jobs submitted inside each ``(start, end)`` window, each stage
    counted once."""
    out = []
    for start, end in windows:
        sids = {
            sid for j in jobs if start <= j.submitted <= end for sid in j.stage_ids
        }
        out.append(sum(reader.stage(s).get("exec_cpu_s", 0.0) for s in sids))
    return out


class RssSampler:
    """Samples the summed RSS of a process tree (the JVM, its Python
    daemon and workers) every ``PERIOD_S`` on a background thread.

    ``peak_mb`` is the sustained peak: the largest median of ``WINDOW``
    consecutive samples, so a spike shorter than about half a second
    (seen in about one run in five) does not decide it. The tree is
    re-listed every ``RELIST`` samples only: walking all of /proc holds
    the GIL long enough to delay the driver thread."""

    PERIOD_S = 0.2
    WINDOW = 5
    RELIST = 10

    def __init__(self, root_pid: int):
        self.root = root_pid
        self.samples: list[int] = []  # summed pages
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        pids = []
        while not self._stop.is_set():
            if len(self.samples) % self.RELIST == 0:
                pids = descendants(self.root)
            self.samples.append(sum(st[2] for st in map(_stat, pids) if st))
            self._stop.wait(self.PERIOD_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        s = self.samples
        w = min(self.WINDOW, len(s))
        if not w:
            return 0.0
        return max(statistics.median(s[i:i + w]) for i in range(len(s) - w + 1)) * _PAGE_MB


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100])."""
    v = sorted(values)
    if not v:
        return float("nan")
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def median(values) -> float:
    return statistics.median(values) if values else float("nan")
