"""Per-layer tracing from outside the program.

Everything here is read from the benchmark's side of the program's
public surface: the call into ``registry.QUERIES[key]`` (build), the
noop action (exec), wrappers around ``io.load_spread`` and
``io.materialize``, Spark's status stores (which work with the UI off)
and the Catalyst phase tracker of the key's DataFrame.

Jobs are attributed by job group: every job a key starts carries the
group ``<key>|<pass>|<phase>``; untagged jobs are counted above a job-id
watermark taken at the start of each traced pass. Stages are attributed
by id watermark: only stage ids above the highest id already read are
looked up, so a read costs O(stages of this key), never O(retained
stages). The store
evicts skipped stages first, and those carry no work; when fewer stages
that ran are found than the key's jobs report, a stage that ran was
evicted before it was read, and the key is flagged as a trace failure
instead of being under-reported.
"""

from __future__ import annotations

import os
import re
import time

from py4j.protocol import Py4JJavaError

#: per-layer name of each SQL metric of the Python exec nodes
PYTHON_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
    "time to run Python workers": "python.run_s",
}

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_METRIC_RE = re.compile(r"SQLPlanMetric\((.*),(\d+),\w+\)$")


def _scala_ints(seq) -> list[int]:
    """A Scala ``Seq[Int]`` as a Python list in one Py4J call."""
    text = seq.mkString(",")
    return [int(x) for x in text.split(",")] if text else []


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def parse_metric_value(text: str) -> float:
    """Total of a formatted SQL metric value, in bytes or seconds.

    Single-task metrics print the bare value; multi-task ones print
    ``total (min, med, max ...)`` on one line and the values on the
    next, the total first.
    """
    line = text.strip().splitlines()[-1].strip()
    num, _, unit = line.split(" (")[0].strip().partition(" ")
    return float(num.replace(",", "")) * _UNITS.get(unit, 1)


def merged_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end]`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def descendants(pid: int) -> list[int]:
    """Pids of every live descendant of a process (from /proc)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, stack = [], [pid]
    while stack:
        for child in children.get(stack.pop(), []):
            out.append(child)
            stack.append(child)
    return out


def worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the processes the driver JVM forked (the Python
    worker daemon and its workers, including workers already reaped)."""
    ticks = 0
    for pid in descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def dir_usage(path: str, since: float) -> tuple[int, int, int]:
    """``(files changed since `since`, their bytes, all bytes)`` under path."""
    changed = changed_bytes = total = 0
    stack = [path]
    while stack:
        try:
            entries = list(os.scandir(stack.pop()))
        except FileNotFoundError:
            continue
        for e in entries:
            if e.is_dir(follow_symlinks=False):
                stack.append(e.path)
                continue
            st = e.stat(follow_symlinks=False)
            total += st.st_size
            if st.st_mtime >= since:
                changed += 1
                changed_bytes += st.st_size
    return changed, changed_bytes, total


class IoCounters:
    """Counts calls into ``io.load_spread`` and ``io.materialize``.

    :meth:`install` must run before the operator modules import the
    two functions, so that their ``from ..io import ...`` binds the
    wrappers.
    """

    def __init__(self):
        self.load_spread_calls = 0
        self.materialize_calls = 0
        self.materialize_s = 0.0

    def install(self, io_module) -> None:
        load_spread, materialize = io_module.load_spread, io_module.materialize

        def counted_load_spread(*a, **kw):
            self.load_spread_calls += 1
            return load_spread(*a, **kw)

        def timed_materialize(*a, **kw):
            t0 = time.perf_counter()
            try:
                return materialize(*a, **kw)
            finally:
                self.materialize_calls += 1
                self.materialize_s += time.perf_counter() - t0

        io_module.load_spread = counted_load_spread
        io_module.materialize = timed_materialize

    def snapshot(self) -> tuple[int, int, float]:
        return self.load_spread_calls, self.materialize_calls, self.materialize_s


class Tracer:
    """Reads one key's jobs, stages and SQL executions after it ran."""

    def __init__(self, spark, io_counters: IoCounters, scratch: str, epoch: float):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.bus = jsc.listenerBus()
        self.jsc = jsc
        self.io = io_counters
        self.scratch = scratch
        self.epoch = epoch
        self.cores = self.sc.defaultParallelism
        self.jvm_pid = self.sc._gateway.proc.pid
        self.worker_cpu = 0.0
        self.stage_mark = -1
        self.exec_mark = -1
        self.spans: list[dict] = []
        self.failures: list[str] = []
        self.advance()

    # -- spans ---------------------------------------------------------
    def span(self, name: str, parent: int | None, t0: float, t1: float, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "parent": parent, "name": name,
            "start": round(t0 - self.epoch, 6), "end": round(t1 - self.epoch, 6),
            **attrs,
        })
        return sid

    # -- tagging -------------------------------------------------------
    def tag(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def untag(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    # -- status store reads --------------------------------------------
    def advance(self) -> int:
        """Move every watermark past the work done so far (untraced
        passes included) and return the highest job id. The newest
        job's result stage is the newest stage."""
        self.bus.waitUntilEmpty()
        high = self.job_bounds()[1]
        if high >= 0:
            newest = _scala_ints(self.store.job(high).stageIds())
            self.stage_mark = max([self.stage_mark, *newest])
        self.skip_executions()
        self.worker_cpu = worker_cpu_s(self.jvm_pid)
        return high

    def skip_executions(self) -> None:
        while self.sql_store.execution(self.exec_mark + 1).isDefined():
            self.exec_mark += 1

    def job_bounds(self) -> tuple[int, int]:
        """``(lowest, highest)`` retained job id; ``(0, -1)`` when none.
        The store lists jobs by descending id."""
        jobs = self.store.jobsList(None)
        if jobs.isEmpty():
            return 0, -1
        return jobs.last().jobId(), jobs.head().jobId()

    def untagged_jobs(self, mark: int, label: str) -> int:
        """Jobs above the watermark `mark` that carry no job group. Jobs
        above it that were evicted before this read are a trace failure."""
        self.bus.waitUntilEmpty()
        low, high = self.job_bounds()
        if high > mark and low > mark + 1:
            self.failures.append(
                f"pass {label}: jobs {mark + 1}..{low - 1} evicted before they were read")
        ids = self.sc.statusTracker().getJobIdsForGroup(None) or []
        return sum(1 for jid in ids if jid > mark)

    def jobs(self, group: str, key: str, parent: int) -> dict:
        """Jobs and new stages of one job group, with a span per job."""
        out = {"jobs": 0, "job_s": 0.0, "stages": 0, "tasks": 0, "task_s": 0.0,
               "gc_s": 0.0, "shuffle_write": 0, "shuffle_read": 0, "spill": 0,
               "intervals": []}
        stage_ids: set[int] = set()
        ran = 0
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(group) or []):
            job = self.store.job(jid)
            t0, t1 = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            ids = _scala_ints(job.stageIds())
            stage_ids.update(i for i in ids if i > self.stage_mark)
            out["jobs"] += 1
            ran += job.numCompletedStages() + job.numFailedStages()
            if t0 is not None and t1 is not None:
                out["intervals"].append((t0, t1))
                self.span("job", parent, t0, t1, job_id=jid, key=key, group=group,
                          stages=ids, status=str(job.status()))
        out["job_s"] = merged_length(out["intervals"])
        for sid in sorted(stage_ids):
            try:
                st = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # NoSuchElementException: evicted
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["task_s"] += st.executorRunTime() / 1000.0
            out["gc_s"] += st.jvmGcTime() / 1000.0
            out["shuffle_write"] += st.shuffleWriteBytes()
            out["shuffle_read"] += st.shuffleReadBytes()
            out["spill"] += st.diskBytesSpilled()
        if out["stages"] < ran:
            self.failures.append(
                f"{key}: {ran - out['stages']} stages that ran were evicted before "
                f"they were read ({group})")
        if stage_ids:
            self.stage_mark = max(self.stage_mark, max(stage_ids))
        return out

    def python_metrics(self) -> dict[str, float]:
        """Python-worker bytes sent and returned and worker run time,
        summed over the SQL executions that started since the last read.
        """
        out = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        eid = self.exec_mark + 1
        while True:
            ex = self.sql_store.execution(eid)
            if not ex.isDefined():
                break
            wanted = {}
            for line in ex.get().metrics().mkString("\n").splitlines():
                m = _METRIC_RE.match(line)
                if m and m.group(1) in PYTHON_METRICS:
                    wanted[int(m.group(2))] = PYTHON_METRICS[m.group(1)]
            if wanted:
                # one Py4J call for the whole map; entries are "id -> text"
                text = self.sql_store.executionMetrics(eid).mkString("\x01")
                for entry in text.split("\x01") if text else []:
                    acc, _, value = entry.partition(" -> ")
                    if int(acc) in wanted:
                        out[wanted[int(acc)]] += parse_metric_value(value)
            self.exec_mark = eid
            eid += 1
        return out

    def cached_bytes(self) -> int:
        """Bytes of persisted RDD blocks held now."""
        return sum(
            info.memSize() + info.diskSize() for info in self.jsc.getRDDStorageInfo()
        )

    @staticmethod
    def catalyst(df) -> dict[str, float]:
        """Analysis, optimization and planning seconds of the key's
        final DataFrame, planned once more after the action ran."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            p = phases.get(name)
            out[name] = p.get().durationMs() / 1000.0 if p.isDefined() else 0.0
        return out

    def key(self, key: str, group: str, parent: int, t_start: float,
            t_built: float, t_end: float, df, io_before) -> dict:
        """All per-layer numbers of one key, read after it finished."""
        self.bus.waitUntilEmpty()
        build = self.jobs(f"{group}|build", key, parent)
        exe = self.jobs(f"{group}|exec", key, parent)
        # formatting an execution's metric list costs tens of ms, so it
        # is read only when the Python workers used CPU during the key
        cpu = worker_cpu_s(self.jvm_pid)
        if cpu > self.worker_cpu:
            python = self.python_metrics()
        else:
            python = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
            self.skip_executions()
        python["python.worker_cpu_s"] = cpu - self.worker_cpu
        self.worker_cpu = cpu
        cat = self.catalyst(df)
        ls, mc, ms = self.io.snapshot()
        files, out_bytes, scratch = dir_usage(self.scratch, t_start)
        wall = t_end - t_start
        busy = merged_length(build["intervals"] + exe["intervals"])
        exec_busy = merged_length(exe["intervals"])
        return {
            "wall_s": wall,
            "build.s": t_built - t_start,
            "build.jobs": build["jobs"],
            "build.job_s": build["job_s"],
            "build.task_s": build["task_s"],
            "catalyst.analysis_s": cat["analysis"],
            "catalyst.optimize_s": cat["optimization"],
            "catalyst.plan_s": cat["planning"],
            "exec.s": t_end - t_built,
            "exec.jobs": exe["jobs"],
            "exec.stages": exe["stages"],
            "exec.tasks": exe["tasks"],
            "exec.task_s": exe["task_s"],
            "exec.gc_s": exe["gc_s"],
            "exec.busy_s": exec_busy,
            "exec.driver_idle_s": max(0.0, wall - busy),
            "shuffle.write_bytes": build["shuffle_write"] + exe["shuffle_write"],
            "shuffle.read_bytes": build["shuffle_read"] + exe["shuffle_read"],
            "spill.bytes": build["spill"] + exe["spill"],
            "io.load_spread_calls": ls - io_before[0],
            "io.materialize_calls": mc - io_before[1],
            "io.materialize_s": ms - io_before[2],
            **python,
            "sources.files_written": files,
            "sources.output_bytes": out_bytes,
            "sources.scratch_bytes": scratch,
        }
