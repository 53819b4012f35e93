"""Per-layer tracing for the benchmark's traced passes.

Everything here observes the program from outside:

* spans around calls into the package's public functions, installed by
  replacing the function at every package module that imported it by name
  (and removed again for untraced passes);
* Spark's own bookkeeping, read after each operation: job and stage data
  from the AppStatusStore (jobs found by job-id range), planning phases
  from each action's ``QueryExecution.tracker()`` (delivered by a
  ``QueryExecutionListener``), Python-evaluation SQL metrics from the
  executed plans, and micro-batch progress from a
  ``StreamingQueryListener``.

Spans carry an operation id, a name, start and end (epoch seconds) and the
index of their parent span. They stay in memory and are written out once,
at the end of the run.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

PACKAGE = "nthu_cs542200_parallel_programming_hw4_mapreduce_spark"

#: (module under the package, public function, span name)
WRAPPED = (
    ("catalog", "table", "catalog.table"),
    ("catalog", "spread", "catalog.spread"),
    ("sources.text", "chunked_lines", "sources.text.chunked_lines"),
    ("streaming.windows", "run_drained", "streaming.drain"),
    ("operators.mapreduce", "wordcount_df", "operators.mapreduce.wordcount_df"),
)

_WRAPPED_NAMES = frozenset(name for _, _, name in WRAPPED)

_PY_METRICS = (
    ("pythonNumRowsReceived", "functions.py_rows"),
    ("pythonDataSent", "functions.py_bytes_sent"),
    ("pythonDataReceived", "functions.py_bytes_received"),
)

_STAGE_FIELDS = (
    ("numTasks", "spark.exec.tasks", 1),
    ("executorRunTime", "spark.exec.run_ms", 1),
    ("executorCpuTime", "spark.exec.cpu_ms", 1e-6),
    ("jvmGcTime", "spark.exec.gc_ms", 1),
    ("inputBytes", "spark.exec.input_bytes", 1),
    ("shuffleReadBytes", "spark.exec.shuffle_read_bytes", 1),
    ("shuffleWriteBytes", "spark.exec.shuffle_write_bytes", 1),
    ("diskBytesSpilled", "spark.exec.spill_bytes", 1),
    ("numFailedTasks", "spark.exec.failed_tasks", 1),
)


@dataclass
class Span:
    op: int
    name: str
    start: float
    end: float
    parent: int | None


def merge(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Disjoint, sorted union of ``(start, end)`` intervals."""
    out: list[tuple[float, float]] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    return sum(e - s for s, e in merge(intervals))


def _clip(iv: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in iv if e > lo and s < hi]


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


class _PlanListener:
    """py4j proxy for ``QueryExecutionListener``: keeps each action's
    QueryExecution for the harvest after the operation."""

    def __init__(self, tracer: Tracer) -> None:
        self._tracer = tracer

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        if self._tracer.active:
            self._tracer._qes.append(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self.onSuccess(func_name, qe, 0)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class _StreamListener(StreamingQueryListener):
    def __init__(self, tracer: Tracer) -> None:
        self._tracer = tracer

    def onQueryStarted(self, event):  # noqa: N802
        if self._tracer.active:
            self._tracer._streams.append((str(event.id), None))

    def onQueryProgress(self, event):  # noqa: N802
        if not self._tracer.active:
            return
        p = event.progress
        self._tracer._streams.append((str(p.id), {
            "rows": p.numInputRows,
            "ms": dict(p.durationMs),
            "state": [
                (s.numRowsTotal, s.memoryUsedBytes, s.commitTimeMs)
                for s in p.stateOperators
            ],
        }))

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


class Tracer:
    """Spans and per-operation layer counters for one Spark session.

    Inactive (the default) it records nothing and costs one attribute
    test per span; ``install()`` activates it and ``uninstall()`` puts the
    package back exactly as it was.
    """

    def __init__(self, spark) -> None:
        self.spark = spark
        self.active = False
        self.op = -1
        self.spans: list[Span] = []
        self.ops: list[dict] = []
        self.harvest_s = 0.0
        self._stack: list[int] = []
        self._qes: list = []
        self._streams: list = []
        self._patches: list[tuple[object, str, object]] = []
        self._seen_stages: set[int] = set()
        self._listeners: tuple | None = None
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._next_exec = 0

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(self.op, name, time.time(), 0.0, parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if name == "catalog.spread" and out is not args[0]:
                self._applied += 1
            return out

        return traced

    # -- install / uninstall ----------------------------------------------

    def install(self) -> None:
        originals = {}
        for mod_name, attr, name in WRAPPED:
            mod = sys.modules.get(f"{PACKAGE}.{mod_name}")
            if mod is not None:
                fn = getattr(mod, attr)
                originals[id(fn)] = (fn, self._wrap(fn, name))
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, val in list(vars(mod).items()):
                hit = originals.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])
                    self._patches.append((mod, attr, val))
        if self._listeners is None:  # registered once; they ignore inactive time
            from pyspark.java_gateway import ensure_callback_server_started

            ensure_callback_server_started(self.spark.sparkContext._gateway)
            self._listeners = (_PlanListener(self), _StreamListener(self))
            self.spark._jsparkSession.listenerManager().register(self._listeners[0])
            self.spark.streams.addListener(self._listeners[1])
        # skip the SQL executions of operations run while inactive
        n = self._sql_store.executionsCount()
        last = self._sql_store.executionsList(n - 1, 1).apply(0).executionId() if n else -1
        self._next_exec = last + 1
        self.active = True

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._patches):
            setattr(mod, attr, val)
        self._patches.clear()
        self.active = False

    # -- operations ---------------------------------------------------------

    def next_job(self) -> int:
        return int(self._dag.nextJobId())

    def begin_op(self, op: int, name: str):
        """Open the operation's root span; returns its job-id lower bound."""
        self.op = op
        self._qes.clear()
        self._streams.clear()
        self._op_span = len(self.spans)
        self.spans.append(Span(op, "op", time.time(), 0.0, None))
        self._stack = [self._op_span]
        self._op_name = name
        self._applied = 0
        return self.next_job()

    def end_op(self, job_lo: int, job_mid: int, mr_outputs: dict | None) -> None:
        """Close the operation and read its layers from Spark's stores.

        Jobs ``[job_lo, job_mid)`` ran while the query was being built;
        ``[job_mid, next_job)`` ran in its write (for ``run_job`` calls
        ``job_mid == job_lo``: the job itself sets its own job group).
        """
        root = self.spans[self._op_span]
        root.end = time.time()
        self._stack = []
        t0 = time.perf_counter()
        self._bus.waitUntilEmpty()
        job_hi = self.next_job()
        rec: dict = defaultdict(float)
        rec.update(op=self.op, name=self._op_name, wall_ms=(root.end - root.start) * 1e3)
        job_iv, task_ms = self._jobs(rec, job_lo, job_mid, job_hi)
        job_iv += self._executions()
        rec["spark.exec.ms"] = union_ms(job_iv)
        plan_iv = self._plans(rec)
        self._stream_layers(rec)
        mine = [(i, self.spans[i]) for i in range(self._op_span, len(self.spans))]
        for _, s in mine:
            if s.name in _WRAPPED_NAMES:
                rec[f"{s.name}_calls"] += 1
                rec[f"{s.name}_ms"] += (s.end - s.start) * 1e3
        rec["catalog.spread_applied"] = self._applied
        build_spans = []
        for i, b in mine:
            if b.name != "plans.build":
                continue
            lo_ms, hi_ms = b.start * 1e3, b.end * 1e3
            build_spans.append((lo_ms, hi_ms))
            kids = [(c.start * 1e3, c.end * 1e3) for _, c in mine if c.parent == i]
            inner = union_ms(_clip(kids + job_iv + plan_iv, lo_ms, hi_ms))
            rec["plans.build_ms"] += hi_ms - lo_ms - inner
        lo, hi = root.start * 1e3, root.end * 1e3
        covered = union_ms(_clip(build_spans + plan_iv + job_iv, lo, hi))
        rec["trace.unaccounted_ms"] = max(0.0, rec["wall_ms"] - covered)
        if mr_outputs is not None:
            self._mapreduce(rec, task_ms, job_iv, hi, mr_outputs)
        # execution first, so a planning phase inside it nests under it
        for name, iv in (("spark.exec", job_iv), ("spark.plan", plan_iv)):
            for s, e in merge(iv):
                self.spans.append(Span(self.op, name, s / 1e3, e / 1e3, self._parent_of(s / 1e3)))
        self.ops.append(dict(rec))
        self.harvest_s += time.perf_counter() - t0

    def _parent_of(self, t: float) -> int:
        """Deepest recorded span of the current operation containing ``t``."""
        best = self._op_span
        for i in range(self._op_span, len(self.spans)):
            s = self.spans[i]
            if s.name != "spark.plan" and s.start <= t <= s.end:
                best = i
        return best

    def _jobs(self, rec, lo, mid, hi):
        job_iv, build_iv = [], []
        task_ms: dict[int, list[float]] = {}
        for jid in range(lo, hi):
            try:
                job = self._store.job(jid)
            except Py4JJavaError:  # never registered, or already evicted
                continue
            s, e = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            if s is None or e is None:
                continue
            job_iv.append((s, e))
            rec["spark.exec.jobs"] += 1
            if jid < mid:
                build_iv.append((s, e))
                rec["plans.build_jobs"] += 1
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = int(ids.apply(i))
                if sid in self._seen_stages:
                    continue
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() not in ("COMPLETE", "FAILED"):
                    continue
                self._seen_stages.add(sid)
                rec["spark.exec.stages"] += 1
                for field, key, scale in _STAGE_FIELDS:
                    rec[key] += float(getattr(st, field)()) * scale
                task_ms[sid] = []
        rec["plans.build_job_ms"] = union_ms(build_iv)
        return job_iv, task_ms

    def _executions(self) -> list[tuple[float, float]]:
        """Intervals of the SQL executions started since the last call. An
        execution also covers adaptive re-planning and broadcast building
        between the jobs it runs. Execution ids are consecutive."""
        iv = []
        while True:
            data = self._sql_store.execution(self._next_exec)
            if not data.isDefined():
                return iv
            self._next_exec += 1
            end = _opt_ms(data.get().completionTime())
            if end is not None:
                iv.append((float(data.get().submissionTime()), end))

    def _plans(self, rec) -> list[tuple[float, float]]:
        """Planning phases of every action the operation ran."""
        iv = []
        for qe in self._qes:
            it = qe.tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                phase, summ = kv._1(), kv._2()
                if phase in ("analysis", "optimization", "planning"):
                    rec[f"spark.plan.{phase}_ms"] += float(summ.durationMs())
                    iv.append((float(summ.startTimeMs()), float(summ.endTimeMs())))
            self._python_metrics(rec, qe.executedPlan())
        return iv

    @staticmethod
    def _python_metrics(rec, plan) -> None:
        stack = [plan]
        while stack:
            node = stack.pop()
            metrics = node.metrics()
            if metrics.contains("pythonDataSent"):
                for key, name in _PY_METRICS:
                    opt = metrics.get(key)
                    if opt.isDefined():
                        rec[name] += float(opt.get().value())
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
            elif cls.endswith("QueryStageExec"):
                stack.append(node.plan())
            else:
                kids = node.children()
                stack.extend(kids.apply(i) for i in range(kids.size()))

    def _stream_layers(self, rec) -> None:
        last_state: dict[str, list] = {}
        for qid, p in self._streams:
            if p is None:
                rec["streaming.queries"] += 1
                continue
            ms = p["ms"]
            rec["streaming.batches"] += 1
            rec["streaming.no_data_batches"] += p["rows"] == 0
            rec["streaming.add_batch_ms"] += ms.get("addBatch", 0)
            rec["streaming.commit_ms"] += ms.get("walCommit", 0) + ms.get("commitOffsets", 0)
            rec["streaming.query_planning_ms"] += ms.get("queryPlanning", 0)
            rec["streaming.trigger_ms"] += ms.get("triggerExecution", 0)
            rec["streaming.state_commit_ms"] += sum(s[2] for s in p["state"])
            last_state[qid] = p["state"]
        for state in last_state.values():
            rec["streaming.state_rows"] += sum(s[0] for s in state)
            rec["streaming.state_mem_bytes"] += sum(s[1] for s in state)

    def _mapreduce(self, rec, task_ms, job_iv, op_end_ms, outputs) -> None:
        """run_job's map/reduce task times, read from the status store for
        the stages its jobs ran: the last stage is the reducer write."""
        for sid in task_ms:
            tasks = self._store.taskList(sid, 0, 1 << 20)
            for i in range(tasks.size()):
                d = tasks.apply(i).duration()
                if d.isDefined():
                    task_ms[sid].append(float(d.get()))
        sids = sorted(task_ms)
        reduce = task_ms[sids[-1]] if sids else []
        mapped = [m for sid in sids[:-1] for m in task_ms[sid]]
        rec["operators.mapreduce.run_job_ms"] = rec["wall_ms"]
        rec["operators.mapreduce.map_tasks"] = len(mapped)
        rec["operators.mapreduce.map_task_ms_sum"] = sum(mapped)
        rec["operators.mapreduce.reduce_task_ms_max"] = max(reduce, default=0.0)
        med = statistics.median(reduce) if reduce else 0.0
        rec["operators.mapreduce.reduce_skew"] = max(reduce) / med if med else 0.0
        rec["operators.mapreduce.finalize_ms"] = op_end_ms - max((e for _, e in job_iv), default=op_end_ms)
        rec["operators.mapreduce.output_bytes"] = sum(
            os.path.getsize(p) for k, p in outputs.items() if k.startswith("reducer_")
        )

    # -- report -------------------------------------------------------------

    def self_ms_by_layer(self) -> dict[str, float]:
        """Each span's duration minus what its children cover, per name."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append((s.start, s.end))
        out: Counter = Counter()
        for i, s in enumerate(self.spans):
            inner = union_ms(_clip(kids.get(i, []), s.start, s.end))
            out[s.name] += (s.end - s.start - inner) * 1e3
        return {k: round(v, 3) for k, v in sorted(out.items())}

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
