"""Spark session, timed operations, Spark job accounting, spans and RSS.

One ``Harness`` owns the SparkSession of a run. Every timed operation
runs inside ``Harness.op``: it gets its own Spark job group, its wall time
is taken around the call only, and afterwards the harness checks that the
call submitted at least one Spark job that ran tasks (a plan served from an
earlier cache would show up as a suspiciously cheap operation). With
tracing on, the jobs of each operation are read back from Spark's status
store and kept as child spans of the operation span.
"""

from __future__ import annotations

import json
import os
import subprocess
import threading
import time
from dataclasses import dataclass, field

MB = 1e6


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None  # index into Tracer.spans
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        a = max(a, reach)
        if b <= a:
            continue
        total += b - a
        reach = b
    return total


def self_time(spans: list[Span], index: int) -> float:
    """A span's duration minus the part of it that its children cover."""
    s = spans[index]
    kids = [(c.start, c.end) for c in spans if c.parent == index]
    return s.duration - covered(kids, s.start, s.end)


class Tracer:
    """Spans kept in memory; written out once, when the run ends."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0

    def add(self, name, start, end, parent=None, **attrs) -> int | None:
        if not self.enabled:
            return None
        self.spans.append(Span(name, start, end, parent, attrs))
        return len(self.spans) - 1

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {
                            "id": i,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            "self_s": self_time(self.spans, i),
                            **s.attrs,
                        }
                        for i, s in enumerate(self.spans)
                    ],
                    **extra,
                },
                f,
                indent=1,
            )


def _tree_rss_bytes(root: int, page: int) -> int:
    """Summed resident set of ``root`` and all its descendants (Linux /proc)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Peak summed RSS of this process tree (driver Python, JVM, workers)."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid(), self._page))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool
    span: int | None  # index of its span when tracing
    warm: bool = False  # a warm-up operation: checked, but not timed into any metric


class Harness:
    def __init__(self, work_dir: str, cores: int, tracer: Tracer):
        from pyspark.sql import SparkSession

        self.work_dir = work_dir
        self.tracer = tracer
        self.ops: list[Op] = []
        self.errors: list[str] = []
        self.root_span = None  # parent of operation spans
        self.warm = False  # operations run now are warm-up
        tmp = os.path.join(work_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.spark = (
            SparkSession.builder.master(f"local[{cores}]")
            .appName("perfbench")
            .config("spark.sql.shuffle.partitions", str(cores))
            .config("spark.driver.memory", "1g")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.ui.retainedJobs", "10000")
            .config("spark.ui.retainedStages", "20000")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.local.dir", os.path.join(work_dir, "spark"))
            .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
            .config("spark.hadoop.hadoop.tmp.dir", tmp)
            # no hsperfdata file: the JVM would write it under /tmp. The heap
            # is fixed and touched at start, so neither the timings nor the
            # peak RSS depend on when the collector chose to grow it.
            .config(
                "spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g -XX:+AlwaysPreTouch",
            )
            .getOrCreate()
        )
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self._jsc = self.sc._jsc.sc()
        self._group = 0

    # --------------------------------------------------------------- ops
    def op(self, kind: str, fn, check=None):
        """Time ``fn()``; ``check(result)`` returns an error string or ''.

        Returns (result, Op). A raised exception or failed check marks the
        operation failed; the run goes on with the next operation."""
        self._group += 1
        group = f"{kind}-{self._group}"
        self.sc.setJobGroup(group, kind)
        t_wall = time.time()
        t0 = time.perf_counter()
        result, error = None, ""
        try:
            result = fn()
        except Exception as e:  # the run must go on and count the failure
            error = f"{type(e).__name__}: {e}"
        seconds = time.perf_counter() - t0
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        if not error and check is not None:
            error = check(result) or ""
        tb = time.perf_counter()
        jobs = self._group_jobs(group)
        if not error and not self._ran_tasks(jobs):
            error = "operation submitted no Spark job that ran tasks"
        span = None
        if self.tracer.enabled:
            span = self.tracer.add(kind, t_wall, t_wall + seconds, self.root_span)
            self._job_spans(span, jobs)
            self.tracer.bookkeeping_s += time.perf_counter() - tb
        op = Op(kind, seconds, not error, span, self.warm)
        if error:
            self.errors.append(f"{kind}: {error}"[:500])
        self.ops.append(op)
        return result, op

    def verify(self, kind: str, fn):
        """An untimed correctness step, counted like an operation."""
        try:
            error = fn() or ""
        except Exception as e:
            error = f"{type(e).__name__}: {e}"
        if error:
            self.errors.append(f"{kind}: {error}"[:500])
        self.ops.append(Op(kind, 0.0, not error, None))
        return not error

    def of_kind(self, kind: str) -> list[Op]:
        """The timed operations of one kind that succeeded."""
        return [o for o in self.ops if o.kind == kind and o.ok and not o.warm]

    def times(self, kind: str) -> list[float]:
        return [o.seconds for o in self.of_kind(kind)]

    # ------------------------------------------------- Spark job accounting
    def _drain_listener(self):
        # job and task events reach the status store asynchronously
        self._jsc.listenerBus().waitUntilEmpty(10_000)

    def _group_jobs(self, group: str) -> list[int]:
        self._drain_listener()
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def _ran_tasks(self, jobs: list[int]) -> bool:
        tracker = self.sc.statusTracker()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks > 0:
                    return True
        return False

    def job_data(self, job: int) -> dict:
        """Times (epoch s), task counts and per-stage figures of one job."""
        store = self._jsc.statusStore()
        j = store.job(job)
        stages = []
        sids = j.stageIds()
        for i in range(sids.size()):
            attempts = store.stageData(sids.apply(i), False, None, False, None)
            for k in range(attempts.size()):
                s = attempts.apply(k)
                if s.status().toString() == "SKIPPED":
                    continue
                stages.append(
                    {
                        "stage": s.stageId(),
                        "attempt": s.attemptId(),
                        "tasks": s.numCompleteTasks(),
                        "failed_tasks": s.numFailedTasks() + s.numKilledTasks(),
                        "executor_s": s.executorRunTime() / 1000.0,
                        "shuffle_write_mb": s.shuffleWriteBytes() / MB,
                    }
                )
        sub, done = j.submissionTime(), j.completionTime()
        return {
            "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
            "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
            "tasks": sum(s["tasks"] for s in stages),
            "failed_tasks": j.numFailedTasks() + j.numKilledTasks(),
            "stages": stages,
        }

    def task_durations(self, stage: int, attempt: int) -> list[float]:
        tl = self._jsc.statusStore().taskList(stage, attempt, 100_000)
        out = []
        for i in range(tl.size()):
            d = tl.apply(i).duration()
            if d.isDefined():
                out.append(d.get() / 1000.0)
        return out

    def _job_spans(self, parent: int, jobs: list[int]) -> None:
        for j in jobs:
            d = self.job_data(j)
            if d["start"] is None or d["end"] is None:
                continue
            self.tracer.add(
                f"job-{j}",
                d["start"],
                d["end"],
                parent,
                tasks=d["tasks"],
                failed_tasks=d["failed_tasks"],
                stages=d["stages"],
            )

    def job_spans_of(self, op: Op) -> list[Span]:
        return [s for s in self.tracer.spans if s.parent == op.span]

    # ------------------------------------------------------------ shutdown
    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to end."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None) if gateway is not None else None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
