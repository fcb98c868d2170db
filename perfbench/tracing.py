"""Spans around the benchmark's calls into each layer, and per-span Spark
metrics read from Spark's own status stores.

Each span runs its Spark jobs under a job group of its own, so the
AppStatusStore (stages, task metrics) and the SQL status store (plan-node
metrics) attribute work to the span that caused it. Spans stay in memory
and are written out once when the run ends.
"""

from __future__ import annotations

import contextlib
import re
import statistics
import time

# Every layer reports these; `session` has no Spark jobs and reports call_s.
COMMON = (
    "call_s", "exec_s", "jobs", "tasks", "failed_tasks", "executor_cpu_s",
    "python_cpu_s", "gc_s", "core_idle_share", "shuffle_write_mb", "spill_mb",
    "rdds_leaked",
)
LAYERS = (
    "sources", "geo.cells", "geo.pip", "pipelines.flagship", "io.lineage",
    "geo.knn", "operators.streets", "io.sink",
)
EXTRA = {
    "geo.pip": ("rows_in", "rows_out", "task_skew"),
    "pipelines.flagship": ("groups_out",),
    "io.lineage": ("rows_written", "bytes_written_mb", "files_written", "buckets_written",
                   "buckets_skipped", "verify_s", "resume_s", "resume_recompute_ratio"),
    "geo.knn": ("results", "shuffle_records_per_result"),
    "operators.streets": ("street_ways_s", "street_nodes_s", "resolve_way_node_refs_s",
                          "link_restrictions_s", "ways_per_link", "nodes_out"),
    "io.sink": ("objects", "bytes_mb", "objects_per_s"),
}
UNITS = {
    "_s": "s", "_mb": "MB", "_share": "share", "_ratio": "ratio", "_per_s": "1/s",
    "task_skew": "ratio", "ways_per_link": "ratio", "shuffle_records_per_result": "ratio",
}


def per_layer_names() -> list[str]:
    names = ["session.call_s"]
    for layer in LAYERS:
        names += [f"{layer}.{m}" for m in COMMON + EXTRA.get(layer, ())]
    return names + ["trace.overhead_ratio"]


def unit_of(name: str) -> str:
    metric = name.rsplit(".", 1)[1]
    if metric in UNITS:
        return UNITS[metric]
    for suffix in ("_per_s", "_share", "_ratio", "_mb", "_s"):
        if metric.endswith(suffix):
            return UNITS[suffix]
    return "count"


class Span:
    __slots__ = ("span_id", "trace_id", "parent", "name", "start", "end", "group",
                 "py_cpu0", "py_cpu1", "rdds0", "rdds_created", "attrs")

    def __init__(self, span_id, trace_id, parent, name, group):
        self.span_id, self.trace_id, self.parent, self.name = span_id, trace_id, parent, name
        self.group = group
        self.start = self.end = 0.0
        self.py_cpu0 = self.py_cpu1 = 0.0
        self.rdds0: set[int] = set()
        self.rdds_created: set[int] = set()
        self.attrs: dict = {}

    @property
    def dur(self) -> float:
        return self.end - self.start

    def record(self, t0: float) -> dict:
        return {"trace": self.trace_id, "span": self.span_id, "parent": self.parent,
                "name": self.name, "start": self.start - t0, "end": self.end - t0,
                **({"attrs": self.attrs} if self.attrs else {})}


class Tracer:
    def __init__(self, spark, tree):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tree = tree
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.trace_id = 0
        self.t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), self.trace_id, parent.span_id if parent else None, name,
                  f"perfbench-{self.trace_id}-{len(self.spans)}")
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        sp.rdds0 = self.persistent_rdds()
        sp.py_cpu0 = self.tree.worker_cpu_s()
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.py_cpu1 = self.tree.worker_cpu_s()
            sp.rdds_created = self.persistent_rdds() - sp.rdds0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def subtree(self, sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(c for c in self.spans if c.parent == s.span_id and c.trace_id == s.trace_id)
        return out

    def find(self, name: str, trace_id: int | None = None) -> list[Span]:
        tid = self.trace_id if trace_id is None else trace_id
        return [s for s in self.spans if s.name == name and s.trace_id == tid]

    # --------------------------------------------------------- Spark status

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def job_ids(self, spans: list[Span]) -> list[int]:
        tracker = self.sc.statusTracker()
        return sorted({j for s in spans for j in tracker.getJobIdsForGroup(s.group)})

    def stage_metrics(self, job_ids: list[int]) -> dict:
        """Sums over every attempt of every stage of ``job_ids``, plus the
        task run times of the stage that ran longest (for skew)."""
        store = self.sc._jsc.sc().statusStore()
        tot = dict(tasks=0, failed_tasks=0, run_ms=0, cpu_ns=0, gc_ms=0, shuffle_write=0,
                   shuffle_records=0, spill=0)
        stage_ids = set()
        for j in job_ids:
            seq = store.job(j).stageIds()
            stage_ids.update(int(seq.apply(i)) for i in range(seq.size()))
        longest, longest_run = None, -1
        for sid in sorted(stage_ids):
            attempts = store.stageData(
                sid, False, getattr(store, "stageData$default$3")(), False,
                getattr(store, "stageData$default$5")())
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.numCompleteTasks() + st.numFailedTasks() == 0:
                    continue  # skipped stage: its shuffle output was reused
                tot["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                tot["failed_tasks"] += st.numFailedTasks()
                tot["run_ms"] += st.executorRunTime()
                tot["cpu_ns"] += st.executorCpuTime()
                tot["gc_ms"] += st.jvmGcTime()
                tot["shuffle_write"] += st.shuffleWriteBytes()
                tot["shuffle_records"] += st.shuffleWriteRecords()
                tot["spill"] += st.diskBytesSpilled()
                if st.executorRunTime() > longest_run:
                    longest, longest_run = (sid, st.attemptId()), st.executorRunTime()
        skew = 0.0
        if longest is not None:
            tasks = store.taskList(longest[0], longest[1], 100_000)
            runs = []
            for i in range(tasks.size()):
                m = tasks.apply(i).taskMetrics()
                if m.isDefined():
                    runs.append(m.get().executorRunTime())
            med = statistics.median(runs) if runs else 0
            skew = max(runs) / med if med > 0 else 0.0
        tot["task_skew"] = skew
        return tot

    def plan_rows(self, job_ids: list[int], node_names: tuple[str, ...], column: str) -> int:
        """Sum of 'number of output rows' over SQL plan nodes named in
        ``node_names`` whose output has ``column``, in every SQL execution
        that ran one of ``job_ids``.
        A cached plan appears under every execution that reads the cache,
        with the same accumulators (0 except where the cache was built), so
        each accumulator counts once, at its largest value."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        wanted, counted = set(job_ids), {}
        execs = store.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            jobs = ex.jobs().keySet()
            it = jobs.iterator()
            ids = set()
            while it.hasNext():
                ids.add(int(it.next()))
            if not ids & wanted:
                continue
            vals = store.executionMetrics(ex.executionId())
            nodes = store.planGraph(ex.executionId()).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if node.name() not in node_names or column not in node.desc():
                    continue
                ms = node.metrics()
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    if metric.name() == "number of output rows":
                        v = vals.get(metric.accumulatorId())
                        if v.isDefined():
                            acc = metric.accumulatorId()
                            counted[acc] = max(counted.get(acc, 0), _metric_count(v.get()))
        return sum(counted.values())

    def layer_metrics(self, call: Span, exec_: Span | None) -> dict:
        """Raw sums for one call/exec span pair and its child spans."""
        spans = self.subtree(call) + (self.subtree(exec_) if exec_ else [])
        jobs = self.job_ids(spans)
        st = self.stage_metrics(jobs)
        return {
            "call_s": call.dur,
            "exec_s": exec_.dur if exec_ else 0.0,
            "jobs": len(jobs),
            "tasks": st["tasks"],
            "failed_tasks": st["failed_tasks"],
            "executor_cpu_s": st["cpu_ns"] / 1e9,
            "python_cpu_s": sum(s.py_cpu1 - s.py_cpu0 for s in (call, exec_) if s),
            "gc_s": st["gc_ms"] / 1000.0,
            "shuffle_write_mb": st["shuffle_write"] / 2**20,
            "spill_mb": st["spill"] / 2**20,
            "run_s": st["run_ms"] / 1000.0,
            "task_skew": st["task_skew"],
            "shuffle_records": st["shuffle_records"],
        }

    def persistent_rdds(self) -> set[int]:
        return {int(i) for i in self.sc._jsc.getPersistentRDDs().keySet().toArray()}

    def collect_garbage(self) -> None:
        """Drop dead Python proxies, then let the JVM collect and the
        ContextCleaner unpersist what nothing references any more."""
        import gc

        gc.collect()
        self.sc._jvm.java.lang.System.gc()
        time.sleep(0.3)

    def records(self) -> list[dict]:
        return [s.record(self.t0) for s in self.spans]


_NUM = re.compile(r"[\d,]+")


def _metric_count(text: str) -> int:
    """'1,234' or 'total (min, med, max ...)\\n1,234 (...)' → 1234."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _NUM.search(line)
    return int(m.group().replace(",", "")) if m else 0
