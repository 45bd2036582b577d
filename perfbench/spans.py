"""Spans, Spark status-store counters and process-tree memory and CPU time
for the benchmark.

Nothing here reaches into ``feathr_spark``: spans wrap the benchmark's own
calls into the engine, and the counters for a span are read afterwards from
the live status stores of the session (``spark.ui.enabled=false`` is fine,
the stores are kept regardless).

A span owns the Spark jobs whose ids were handed out while it was open. The
id range is read from the DAG scheduler's job counter at span start and end,
so jobs submitted from helper threads (``materialize`` runs a thread pool)
are attributed too; a thread-local job group would miss them.
"""

from __future__ import annotations

import os
import re
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from statistics import median

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    """One timed block: its place in the run and, once read, its counters."""

    name: str
    span_id: int
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    first_job: int = 0
    end_job: int = 0
    metrics: dict = field(default_factory=dict)

    def to_json(self) -> dict:
        return {"name": self.name, "id": self.span_id, "parent": self.parent,
                "run_id": self.run_id, "start": round(self.start, 6),
                "end": round(self.end, 6), "metrics": self.metrics}


class Tracer:
    """Records spans in memory. With ``enabled=False`` a span only times its
    block (the untraced runs still need the iteration wall time)."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.t0 = time.monotonic()
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = 0
        self.spark = spark

    def _next_job_id(self) -> int:
        if self.spark is None:
            return 0
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(name, self._ids, parent, self.run_id, 0.0)
        self._ids += 1
        if self.enabled:
            sp.first_job = self._next_job_id()
        sp.start = time.monotonic() - self.t0
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.monotonic() - self.t0
            self._stack.pop()
            if self.enabled:
                sp.end_job = self._next_job_id()
                self.spans.append(sp)

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.span_id]


# ---------------------------------------------------------------------------
# status-store reads
# ---------------------------------------------------------------------------


def _opt_time_s(opt) -> float | None:
    """scala Option[java.util.Date] -> epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _union_len(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of closed intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class StatusReader:
    """Reads per-span counters from the SparkContext and SQL status stores."""

    def __init__(self, spark, cores: int):
        self.cores = cores
        jsc = spark.sparkContext._jsc.sc()
        self._jsc = jsc
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        """Wait until every listener event has reached the stores."""
        self._jsc.listenerBus().waitUntilEmpty()

    def _job(self, job_id: int):
        try:
            return self._store.job(job_id)
        except Py4JJavaError:  # evicted, or the id was never used
            return None

    def span_counters(self, sp: Span, self_s: float, wall_epoch0: float) -> dict:
        """Counters of the jobs ``sp`` submitted. ``wall_epoch0`` maps the
        tracer clock to epoch seconds (job times are epoch-based)."""
        wall = sp.end - sp.start
        run_ms = cpu_ns = sw = sr = spill = tasks = 0
        intervals = []
        stage_ids: list[int] = []
        n_jobs = 0
        for jid in range(sp.first_job, sp.end_job):
            job = self._job(jid)
            if job is None:
                continue
            n_jobs += 1
            lo, hi = _opt_time_s(job.submissionTime()), _opt_time_s(job.completionTime())
            if lo is not None and hi is not None:
                intervals.append((lo, hi))
            ids = job.stageIds()
            stage_ids.extend(int(ids.apply(i)) for i in range(ids.size()))
        best = None  # (run_ms, stage_id, attempt) of the heaviest stage
        for sid in dict.fromkeys(stage_ids):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # the stage never ran
                continue
            if str(st.status()) != "COMPLETE":
                continue
            run_ms += st.executorRunTime()
            cpu_ns += st.executorCpuTime()
            sw += st.shuffleWriteBytes()
            sr += st.shuffleReadBytes()
            spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
            tasks += st.numTasks()
            if st.numTasks() > 1 and (best is None or st.executorRunTime() > best[0]):
                best = (st.executorRunTime(), sid, st.attemptId())
        run_s = run_ms / 1000.0
        # driver-serial time: the span's wall minus the time any job ran
        lo_e, hi_e = wall_epoch0 + sp.start, wall_epoch0 + sp.end
        busy = _union_len([(max(a, lo_e), min(b, hi_e)) for a, b in intervals if b > lo_e and a < hi_e])
        return {
            "wall_s": wall,
            "self_s": self_s,
            "driver_s": max(wall - busy, 0.0),
            "executor_run_s": run_s,
            "executor_cpu_s": cpu_ns / 1e9,
            "idle_frac": 1.0 - run_s / (wall * self.cores) if wall > 0 else 0.0,
            "shuffle_write_bytes": sw,
            "shuffle_read_bytes": sr,
            "spill_bytes": spill,
            "jobs": n_jobs,
            "tasks": tasks,
            "task_max_over_p50": self._straggler_ratio(best),
        }

    def _straggler_ratio(self, best) -> float:
        """max / median task run time of the span's heaviest stage."""
        if best is None:
            return 1.0
        _, sid, attempt = best
        tl = self._store.taskList(sid, attempt, 100000)
        runs = []
        for i in range(tl.size()):
            tm = tl.apply(i).taskMetrics()
            if tm.isDefined():
                runs.append(tm.get().executorRunTime())
        if not runs:
            return 1.0
        p50 = median(runs)
        return max(runs) / p50 if p50 > 0 else 1.0

    # -- SQL plan counters ----------------------------------------------

    _JOINS = {"BroadcastHashJoin": "broadcast_joins",
              "ShuffledHashJoin": "shuffled_hash_joins",
              "SortMergeJoin": "sort_merge_joins"}
    # metrics of the Python UDF nodes (FlatMapCoGroupsInPandas and the like)
    _PYTHON = {"data sent to Python workers": "bytes_to_python",
               "data returned from Python workers": "bytes_from_python",
               "time to run Python workers": "python_run_s",
               "time to start Python workers": "python_start_s",
               "time to initialize Python workers": "python_init_s"}

    def plan_counts(self, first_job: int, end_job: int) -> tuple[dict, dict]:
        """(join node counts, Python-boundary totals) over the SQL plans
        that ran a job with an id in [first_job, end_job)."""
        joins = dict.fromkeys(self._JOINS.values(), 0)
        arrow = dict.fromkeys(self._PYTHON.values(), 0.0)
        for eid in self._executions(first_job, end_job):
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                key = self._JOINS.get(node.name().split(" ")[0])
                if key:
                    joins[key] += 1
                ms = node.metrics()
                for q in range(ms.size()):
                    m = ms.apply(q)
                    v = values.get(m.accumulatorId())
                    if m.name() in self._PYTHON and v.isDefined():
                        arrow[self._PYTHON[m.name()]] += parse_sql_metric(v.get())
        return joins, arrow

    def _executions(self, first_job: int, end_job: int) -> list[int]:
        """SQL execution ids that ran at least one job in [first, end)."""
        out = []
        ex = self._sql.executionsList()
        for i in range(ex.size()):
            e = ex.apply(i)
            jobs = e.jobs().keySet().toSeq()
            if any(first_job <= int(jobs.apply(k)) < end_job for k in range(jobs.size())):
                out.append(int(e.executionId()))
        return out


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric: ``'12,345'`` for sums, or the first
    figure after the ``total (min, med, max ...)`` header for sizes and
    timings, e.g. ``'804.9 KiB (8.6 KiB, ...)'`` -> bytes, ``'1.2 s'`` -> s."""
    line = text.split("\n")[-1].strip()
    m = re.match(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2) or "", 1.0)


def jvm_times_s(spark) -> dict:
    """Seconds the driver JVM has spent so far in JIT compilation and in
    garbage collection, from its management beans."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return {"jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0,
            "gc_s": sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0}


# ---------------------------------------------------------------------------
# process-tree memory and CPU time
# ---------------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PF_FORKNOEXEC = 0x40  # task flag: forked and has not exec'd since


def _stat(pid: int):
    """(task flags, resident pages) from ``/proc/<pid>/stat``."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            rest = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    # rest[i] is field i+3: flags (9), rss (24)
    return int(rest[6]), int(rest[21])


def tree_rss_mb(root: int | None = None) -> float:
    """Resident memory of ``root`` and all its descendants, in MB.

    A child that has not exec'd since it was forked and is about as large
    as its parent still shares its parent's pages: the short-lived helpers
    the JVM spawns (which share its address space until they exec), or a
    Python worker that has not yet allocated. It is not counted twice.
    """
    todo, seen, kb = [(root or os.getpid(), 0)], set(), 0
    while todo:
        pid, parent_pages = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        st = _stat(pid)
        if st is None:
            continue
        flags, pages = st
        if not (flags & _PF_FORKNOEXEC and pages >= 0.9 * parent_pages > 0):
            kb += pages * _PAGE_KB
        todo.extend((c, pages) for c in _children(pid))
    return kb / 1024.0


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) spent so far by ``root`` and all its
    descendants, including their children that have exited and been reaped.

    Time a CPU was stolen by the hypervisor is not charged to a process
    (paravirtual steal accounting), nor is time spent waiting for a CPU, so
    the difference of two readings moves much less than wall time when the
    host is shared.
    """
    todo, seen, ticks = [root or os.getpid()], set(), 0
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/stat") as fh:
                rest = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # rest[i] is field i+3: utime (14), stime, cutime, cstime (17)
        ticks += sum(int(x) for x in rest[11:15])
        todo.extend(_children(pid))
    return ticks / _CLK_TCK


class RssSampler:
    """Samples the process tree's RSS on a thread; ``peak_mb`` is the max."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
