"""Spans, Spark status-store counters and process-tree CPU and memory.

Spans are recorded only from the benchmark's own files: around its calls
into ``boon_spark`` and ``__spark_entry__``, plus two wrappers it installs
on ``boon_spark.engine.compile_schema`` and ``PlanBuilder.build`` so the
schema-compile and plan-build layers are timed wherever they are reached
from.  Every Spark job a call starts runs under the call's job group, so
one call id links workload -> call -> layer span -> Spark job -> stage.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time

# status-store stage fields summed per call: per-layer name -> getter
_STAGE_SUMS = {
    "exec.cpu_ms": lambda s: s.executorCpuTime() / 1e6,
    "exec.task_ms": lambda s: s.executorRunTime(),
    "exec.gc_ms": lambda s: s.jvmGcTime(),
    "shuffle.write_bytes": lambda s: s.shuffleWriteBytes(),
    "shuffle.read_bytes": lambda s: s.shuffleReadBytes(),
    "shuffle.spill_bytes":
        lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
    "spark.tasks": lambda s: s.numCompleteTasks(),
}
# SQL metrics summed per call: metric name -> per-layer name.  File-scan
# bytes come from here because the stages' input bytes miss most of what
# the vectorized parquet reader reads.
_SQL_SUMS = {
    "size of files read": "scan.bytes",
    "written output": "output.bytes",
    "number of written files": "output.files",
    "data sent to Python workers": "python.bytes",
    "data returned from Python workers": "python.bytes",
    "time to run Python workers": "python.time_ms",
}
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30,
               "TiB": 2**40, "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6}
_PLAN_PHASES = ("analysis", "optimization", "planning")


class Tracer:
    """Collects spans and per-call counters; inert when ``enabled`` is
    false (the untraced run pays for nothing but the ``if``)."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.acc: dict[str, float] = {}
        self._undo: list = []
        self._next_execution = 0
        if enabled:
            self._install_wrappers()

    # -- spans --------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, call_id: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "call_id": call_id, "start": time.time(),
               "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    @contextlib.contextmanager
    def job_group(self, group: str):
        """Run the block's Spark jobs under ``group`` (a call id)."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def planned(self, df) -> None:
        """Add the Catalyst phase times of an actioned DataFrame."""
        if not self.enabled:
            return
        phases = df._jdf.queryExecution().tracker().phases()
        for p in _PLAN_PHASES:
            opt = phases.get(p)
            if opt.isDefined():
                self._add("spark.plan_ms", opt.get().durationMs())

    def reset(self) -> None:
        self.acc = {}

    def _add(self, key: str, v: float) -> None:
        self.acc[key] = self.acc.get(key, 0.0) + v

    # -- layer wrappers -----------------------------------------------
    def _install_wrappers(self) -> None:
        import boon_spark.engine as engine
        from boon_spark.plans.builder import PlanBuilder

        def timed(fn, key):
            depth = [0]  # PlanBuilder.build recurses: time the outer call

            def wrapper(*a, **kw):
                depth[0] += 1
                t0 = time.perf_counter()
                try:
                    return fn(*a, **kw)
                finally:
                    depth[0] -= 1
                    if depth[0] == 0:
                        self._add(key, (time.perf_counter() - t0) * 1e3)
            return wrapper

        orig_compile, orig_build = engine.compile_schema, PlanBuilder.build
        engine.compile_schema = timed(orig_compile, "schema.compile_ms")
        PlanBuilder.build = timed(orig_build, "engine.annotate_ms")
        self._undo = [lambda: setattr(engine, "compile_schema", orig_compile),
                      lambda: setattr(PlanBuilder, "build", orig_build)]

    def close(self) -> None:
        for undo in self._undo:
            undo()
        self._undo = []

    # -- Spark status store -------------------------------------------
    def job_counters(self, groups: list[str], t0: float, t1: float,
                     call_id: str) -> dict:
        """Counters of every job started under ``groups`` between
        ``t0`` and ``t1`` (wall seconds); records one span per job."""
        if not self.enabled:
            return {}
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        out = {k: 0.0 for k in (*_STAGE_SUMS, *_SQL_SUMS.values(),
                                "python.rows", "spark.jobs",
                                "spark.stages", "exec.skew")}
        intervals = []
        longest = (-1.0, None)
        by_group, call_jobs = {}, set()
        for g in groups:
            jids = tracker.getJobIdsForGroup(g)
            by_group[g] = len(jids)
            call_jobs.update(jids)
            for jid in jids:
                jd = store.job(jid)
                sub, done = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and done.isDefined():
                    a = sub.get().getTime() / 1e3
                    b = done.get().getTime() / 1e3
                    intervals.append((a, b))
                    self.spans.append({
                        "id": len(self.spans), "parent": None,
                        "name": f"spark.job/{jid}", "call_id": call_id,
                        "group": g, "start": a, "end": b,
                        "stages": [int(x) for x in _seq(jd.stageIds())]})
                out["spark.jobs"] += 1
                for sid in _seq(jd.stageIds()):
                    st = _stage(store, sid)
                    if st is None or str(st.status()) == "SKIPPED":
                        continue
                    out["spark.stages"] += 1
                    for k, get in _STAGE_SUMS.items():
                        out[k] += get(st)
                    if st.executorRunTime() > longest[0]:
                        longest = (st.executorRunTime(), st)
        if longest[1] is not None:
            out["exec.skew"] = _skew(sc, store, longest[1])
        out["driver.gap_ms"] = max(0.0, (t1 - t0) - _union(intervals, t0,
                                                            t1)) * 1e3
        out["jobs_by_group"] = by_group
        self._sql_counters(call_jobs, out)
        return out

    def _sql_counters(self, jobs: set, out: dict) -> None:
        """Add the SQL metrics of every query execution that ran one of
        ``jobs``; executions are visited once, in id order."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        eid, misses = self._next_execution, 0
        while misses < 5:  # ids of executions never posted leave gaps
            opt = store.execution(eid)
            eid += 1
            if not opt.isDefined():
                misses += 1
                continue
            misses = 0
            self._next_execution = eid
            ex_jobs = {int(j) for j in _seq(opt.get().jobs().keys().toSeq())}
            if not ex_jobs & jobs:
                continue
            it = store.executionMetrics(eid - 1).iterator()
            values = {}
            while it.hasNext():
                kv = it.next()
                values[kv._1()] = kv._2()
            for node in _seq(store.planGraph(eid - 1).allNodes()):
                python_node = "Python" in node.name() or \
                    "InPandas" in node.name() or "InArrow" in node.name()
                for m in _seq(node.metrics()):
                    key = _SQL_SUMS.get(m.name())
                    if key is None and python_node and \
                            m.name() == "number of output rows":
                        key = "python.rows"
                    v = values.get(m.accumulatorId())
                    if key and v is not None:
                        out[key] += _metric_total(v)


def _metric_total(text: str) -> float:
    """Total of a formatted SQL metric: '5.0 MiB', '1,234', or
    'total (min, med, max ...)\n42 ms (1 ms, ...)' (bytes or ms)."""
    total = text.rsplit("\n", 1)[-1].split(" (")[0].strip()
    num, _, unit = total.partition(" ")
    return float(num.replace(",", "")) * _SIZE_UNITS.get(unit, 1)


def _seq(s):
    return [s.apply(i) for i in range(s.length())]


def _stage(store, sid):
    from py4j.protocol import Py4JJavaError
    try:
        return store.lastStageAttempt(sid)
    except Py4JJavaError:  # stage evicted from the status store
        return None


def _skew(sc, store, st) -> float:
    """max / p50 task duration of one stage."""
    gw = sc._gateway
    q = gw.new_array(gw.jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    opt = store.taskSummary(st.stageId(), st.attemptId(), q)
    if not opt.isDefined():
        return 0.0
    d = opt.get().duration()
    return d.apply(1) / d.apply(0) if d.apply(0) > 0 else 1.0


def _union(intervals, lo, hi) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end, lo), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class RssSampler:
    """Peak resident memory of this process and its descendants: the
    driver Python process, the Spark driver JVM, the Python worker
    daemon and its workers.  The subtree of ``exclude`` (the DuckDB
    checker) is left out: its buffers are not the program's memory.

    Each process counts its proportional set size, so pages shared
    after a fork are counted once: the JVM forks for local file-system
    commands, and a plain RSS sum counted the whole JVM twice whenever a
    sample caught such a child before its exec."""

    # a sample reads the JVM's smaps_rollup, ~14 ms of CPU that counts in
    # the calls' CPU time; every 0.1 s it would take a seventh of a core
    def __init__(self, exclude: int, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._skip = {exclude, *descendants(exclude)}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    def _run(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        me = os.getpid()
        self.peak = max(self.peak, sum(
            _pss_kb(pid) for pid in (me, *descendants(me))
            if pid not in self._skip))

    @property
    def peak_mb(self) -> float:
        return self.peak / 1024


class CpuClock:
    """CPU seconds used so far by this process and its descendants (the
    Spark driver JVM, the Python worker daemon and its workers), except
    the subtree of ``exclude`` (the DuckDB checker).  Unlike wall time it
    leaves out the time the host gives to other jobs."""

    def __init__(self, exclude: int):
        self._skip = {exclude, *descendants(exclude)}

    def __call__(self) -> float:
        me = os.getpid()
        return sum(_cpu_ticks(pid) for pid in (me, *descendants(me))
                   if pid not in self._skip) / _TICKS


_TICKS = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    """utime + stime of ``pid`` and of its children it has reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return sum(int(x) for x in fields[11:15])
    except (OSError, IndexError, ValueError):  # process already gone
        return 0


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, IndexError, ValueError):  # process already gone
        pass
    return 0
