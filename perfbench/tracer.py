"""Outside-in tracing: spans around calls into the program's layers.

The traced run wraps public functions of the product package (the
module attribute is swapped for a wrapper while the run lasts, the
package itself is untouched).  Each wrapped call runs inside a span
that sets its own Spark job group and materializes the layer's output
before the span closes, so the span's wall time covers the work the
layer caused.  Spans stay in memory; when the run ends the JVM's
AppStatusStore is read once for the jobs of every span's group and
their stages, and the SQL status store for plan-node metrics.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import stats

#: the counters every span carries (besides wall_s and self_s)
SPAN_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "exec_cpu_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "driver_gap_s",
    "input_bytes",
)


@dataclass
class Span:
    name: str
    span_id: int
    parent_id: int | None
    workload: str
    run_id: str
    op_id: int | None
    group: str
    start: float = 0.0
    end: float = 0.0
    extras: dict = field(default_factory=dict)
    counters: dict = field(default_factory=dict)
    self_s: float = 0.0
    heaviest_stage: tuple[int, int] | None = None

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    def record(self) -> dict:
        return {
            "name": self.name,
            "span_id": self.span_id,
            "parent_id": self.parent_id,
            "workload": self.workload,
            "run_id": self.run_id,
            "op_id": self.op_id,
            "start": self.start,
            "end": self.end,
            "wall_s": self.wall_s,
            "self_s": self.self_s,
            **self.counters,
            **self.extras,
        }


class Tracer:
    """Span stack plus the wrappers that open spans around layer calls."""

    def __init__(self, spark, workload: str, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.run_id = run_id
        self.op_id: int | None = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []
        self._prefix = f"perfbench-{run_id}-"

    # -- spans ---------------------------------------------------------

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        s = Span(
            name=name,
            span_id=sid,
            parent_id=parent.span_id if parent else None,
            workload=self.workload,
            run_id=self.run_id,
            op_id=self.op_id,
            group=f"{self._prefix}{sid}",
        )
        self._stack.append(s)
        self._set_group(s)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(s)

    @contextmanager
    def untracked(self):
        """Jobs run here (the benchmark's own counts) join no span."""
        self.sc.setJobGroup(f"{self._prefix}aux", "perfbench aux")
        try:
            yield
        finally:
            self._set_group(self._stack[-1] if self._stack else None)

    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    # -- wrapping product functions ------------------------------------

    def wrap(self, module, attr: str, name: str, finish=None, after=None):
        """Swap ``module.attr`` for a wrapper that runs the call in a
        span named ``name``.

        ``finish(span, out, args, kwargs) -> out`` runs inside the span
        and must materialize the layer's output (returning the
        materialized value); ``after(span, out, args, kwargs)`` runs
        once the span has closed, for the benchmark's own bookkeeping
        actions.  A call made while a span of the same name is open
        (one layer function calling another) opens no second span; its
        ``finish`` hook still runs against the open one.
        """
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            cur = self.current()
            if cur is not None and cur.name == name:
                out = orig(*args, **kwargs)
                return out if finish is None else finish(cur, out, args, kwargs)
            with self.span(name) as s:
                out = orig(*args, **kwargs)
                if finish is not None:
                    out = finish(s, out, args, kwargs)
            if after is not None:
                with self.untracked():
                    after(s, out, args, kwargs)
            return out

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    # -- reading the status stores ---------------------------------------

    def collect(self) -> None:
        """Fill every span's counters from the JVM status stores."""
        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty(30_000)
        except Exception:
            pass
        store = jsc.statusStore()
        jobs_by_group: dict[str, list] = {}
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            if group.isEmpty() or not group.get().startswith(self._prefix):
                continue
            sub, done = job.submissionTime(), job.completionTime()
            interval = None
            if not sub.isEmpty() and not done.isEmpty():
                interval = (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
            sids = job.stageIds()
            stage_ids = [sids.apply(k) for k in range(sids.size())]
            jobs_by_group.setdefault(group.get(), []).append((interval, stage_ids))

        stage_cache: dict[int, list] = {}

        def stage_rows(sid: int) -> list:
            if sid not in stage_cache:
                rows = []
                try:
                    attempts = store.stageData(sid, False, None, False, None)
                    for k in range(attempts.size()):
                        st = attempts.apply(k)
                        rows.append(
                            {
                                "attempt": st.attemptId(),
                                "tasks": st.numCompleteTasks(),
                                "run_ms": st.executorRunTime(),
                                "cpu_ns": st.executorCpuTime(),
                                "sw": st.shuffleWriteBytes(),
                                "sr": st.shuffleReadBytes(),
                                "spill": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                                "input": st.inputBytes(),
                            }
                        )
                except Exception:
                    pass  # a stage the store never saw (skipped before submit)
                stage_cache[sid] = rows
            return stage_cache[sid]

        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent_id is not None:
                children.setdefault(s.parent_id, []).append(s)

        for s in self.spans:
            entries = jobs_by_group.get(s.group, [])
            intervals = [iv for iv, _ in entries if iv is not None]
            stage_set = {sid for _, ids in entries for sid in ids}
            c = dict.fromkeys(SPAN_FIELDS, 0)
            c["jobs"] = len(entries)
            heaviest = (-1, None)
            for sid in stage_set:
                for row in stage_rows(sid):
                    if row["tasks"] == 0:
                        continue  # skipped: its output was reused
                    c["stages"] += 1
                    c["tasks"] += row["tasks"]
                    c["exec_cpu_s"] += row["cpu_ns"] / 1e9
                    c["shuffle_write_bytes"] += row["sw"]
                    c["shuffle_read_bytes"] += row["sr"]
                    c["spill_bytes"] += row["spill"]
                    c["input_bytes"] += row["input"]
                    if row["run_ms"] > heaviest[0]:
                        heaviest = (row["run_ms"], (sid, row["attempt"]))
            c["driver_gap_s"] = stats.driver_gap((s.start, s.end), intervals)
            s.counters = c
            s.heaviest_stage = heaviest[1]
            s.self_s = stats.self_time(
                (s.start, s.end), [(k.start, k.end) for k in children.get(s.span_id, [])]
            )

    def hot_task_ratio(self, span: Span) -> float:
        """max / median task run time in the span's heaviest stage."""
        if span.heaviest_stage is None:
            return 0.0
        sid, attempt = span.heaviest_stage
        store = self.sc._jsc.sc().statusStore()
        try:
            tasks = store.taskList(sid, attempt, 1 << 30)
        except Exception:
            return 0.0
        times = []
        for k in range(tasks.size()):
            m = tasks.apply(k).taskMetrics()
            if not m.isEmpty():
                times.append(float(m.get().executorRunTime()))
        if not times:
            return 0.0
        return stats.ratio(max(times), stats.median(times))

    def sql_rows_out(self, span: Span, match) -> int:
        """Sum of "number of output rows" over the plan nodes ``match``
        accepts, across the SQL executions submitted inside ``span``.

        A lazily checkpointed plan is executed by a later job of
        another execution, so its node metrics may be missing from the
        store's per-execution totals; the live accumulator is read then.
        """
        sql = self.spark._jsparkSession.sharedState().statusStore()
        acc_ctx = self.spark._jvm.org.apache.spark.util.AccumulatorContext
        execs = sql.executionsList()
        lo, hi = span.start * 1000.0, span.end * 1000.0
        total = 0
        for i in range(execs.size()):
            ex = execs.apply(i)
            if not (lo <= ex.submissionTime() <= hi):
                continue
            eid = ex.executionId()
            graph = sql.planGraph(eid)
            nodes = graph.allNodes()
            values = None
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if not match(node.name(), node.desc()):
                    continue
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    if metric.name() != "number of output rows":
                        continue
                    acc_id = metric.accumulatorId()
                    if values is None:
                        values = sql.executionMetrics(eid)
                    shown = values.get(acc_id)
                    if not shown.isEmpty():
                        total += int(str(shown.get()).replace(",", "").split()[0])
                        continue
                    live = acc_ctx.get(acc_id)
                    if not live.isEmpty():
                        total += int(live.get().value())
        return total

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.record()) + "\n")
