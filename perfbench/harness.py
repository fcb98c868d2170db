"""Runs one workload: set-up, the timed closed loop, optionally the traced
loop, and turns the samples into the benchmark's metrics."""

from __future__ import annotations

import statistics
import sys
import time
import traceback

import machine
import tracing
from workloads import WORKLOADS

SETUP_REPS = 3      # setup_s takes the median input set-up of these
WARMUP_S = 6.0      # untimed warm-up jobs (JIT, Python workers) until this much time
MAX_WARMUP_JOBS = 10
MIN_JOBS = 2        # a timed loop runs at least this many jobs
MIN_TRACED = 2
WARMUP_BASE, TRACED_BASE = 1000, 2000  # job indices: every job draws its own input
END_TO_END = {"setup_s": "s", "job_s": "s", "rows_per_s": "1/s", "cpu_s": "s", "peak_rss_mb": "MB"}


class Outcome:
    """Attempted and failed operations, with every failing check kept."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def attempt(self, label: str, fn) -> bool:
        """Run ``fn``, which returns its failed checks; an exception is a
        failure too. A failed operation is counted, never dropped."""
        self.attempted += 1
        try:
            fails = fn()
        except Exception as exc:
            traceback.print_exc(file=sys.stderr)
            fails = [f"{type(exc).__name__}: {(str(exc).splitlines() or [''])[0][:300]}"]
        if fails:
            self.failed += 1
            self.failures += [f"{label}: {f}" for f in fails]
        return not fails


def _timed_job(wl, j: int, label: str, outcome: Outcome, tree=None) -> dict:
    """Prepare job ``j``'s input (untimed), run the job (timed; CPU and RSS
    of the process tree when ``tree`` is given), check it, clean up."""
    inp = wl.prepare(j)
    s = {}

    def go():
        if tree is not None:
            tree.job_start()
            c0 = tree.cpu_s()
        t0 = time.perf_counter()
        try:
            s["out"] = wl.job(inp)
        finally:
            s["wall"] = time.perf_counter() - t0
            if tree is not None:
                s["cpu"] = tree.cpu_s() - c0
                s["rss"] = tree.job_end()
        return wl.check(inp, s["out"])

    s["ok"] = outcome.attempt(label, go)
    wl.cleanup(inp)
    return s


def run(spark_factory, name: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    fit = machine.session_fit()
    env = {"start": machine.environment(fit)}
    t0 = time.perf_counter()
    spark = spark_factory(fit)
    session_s = time.perf_counter() - t0
    from pyspark import SparkContext

    tree = machine.ProcessTree(SparkContext._gateway.proc.pid)
    tr = tracing.Tracer(spark, tree) if trace else None
    wl = WORKLOADS[name](spark, seed, fit, work)
    outcome = Outcome()

    rep_s = []
    for rep in range(SETUP_REPS):
        if tr is not None:
            tr.trace_id = -1 - rep  # set-up repetitions trace as -1, -2, ...
        t = time.perf_counter()
        wl.setup(tr)
        rep_s.append(time.perf_counter() - t)
    if tr is not None:
        # read now: the status store keeps only the last 1000 jobs
        tr.drain()
        reps = [_layer(tr, "sources", -1 - r, fit["cores"], set()) for r in range(SETUP_REPS)]
        sources = {k: statistics.median(r[k] for r in reps) for k in reps[0]}
    wl.expected()  # oracle precomputation: not part of set-up
    warm = []
    while len(warm) < MAX_WARMUP_JOBS and sum(warm) < WARMUP_S:
        warm.append(_timed_job(wl, WARMUP_BASE + len(warm), f"warm-up job {len(warm)}", outcome)["wall"])
    setup_s = session_s + statistics.median(rep_s) + sum(warm)

    tree.start()
    ticks0 = machine.cpu_ticks()
    jobs = []
    loop_end = time.perf_counter() + seconds
    while time.perf_counter() < loop_end or len(jobs) < MIN_JOBS:
        jobs.append(_timed_job(wl, len(jobs), f"job {len(jobs)}", outcome, tree))
    env["timed_loop_steal_pct"] = machine.steal_pct(ticks0, machine.cpu_ticks())
    tree.stop()

    good = [s for s in jobs if s["ok"]]
    job_s = statistics.median(s["wall"] for s in good) if good else float("nan")
    e2e = {
        "setup_s": setup_s,
        "job_s": job_s,
        "rows_per_s": wl.rows / job_s,
        "cpu_s": statistics.median(s["cpu"] for s in good) if good else float("nan"),
        # a job's peak, median over jobs: a worker forked for a moment in
        # one job does not set the figure for the whole run
        "peak_rss_mb": statistics.median(s["rss"] for s in good) if good else float("nan"),
    }
    detail = {
        "session_s": session_s, "setup_reps_s": rep_s, "warmup_walls_s": warm,
        "job_walls_s": [s["wall"] for s in jobs], "job_cpu_s": [s.get("cpu") for s in jobs],
        "job_peak_rss_mb": [s.get("rss") for s in jobs],
        "samples": len(good), "input_rows": wl.rows,
    }
    outs = [s["out"] for s in good if isinstance(s["out"], dict)]
    resumes = [o["resume_s"] for o in outs if "resume_s" in o]
    if resumes:
        detail["resume_s"] = statistics.median(resumes)
        detail["resume_walls_s"] = resumes
    parts = [o["part_s"] for o in outs if "part_s" in o]
    if parts:  # a job made of several workloads: each part's median wall
        detail["part_s"] = {k: statistics.median(p[k] for p in parts) for k in parts[0]}

    per_layer = None
    if tr is not None:
        per_layer, traced_walls = _traced_loop(tr, wl, outcome, seconds, fit["cores"])
        per_layer.update(sources)
        per_layer["session.call_s"] = session_s
        per_layer["trace.overhead_ratio"] = statistics.median(traced_walls) / job_s
        detail["traced_walls_s"] = traced_walls
        detail["spans"] = tr.records()

    env["end"] = machine.environment(fit)
    detail["error_rate"] = outcome.failed / max(outcome.attempted, 1)
    return {
        "workload": name, "seed": seed, "seconds": seconds, "trace": int(trace),
        "e2e": e2e, "per_layer": per_layer, "detail": detail, "env": env,
        "attempted": outcome.attempted, "failed": outcome.failed, "failures": outcome.failures,
    }


def _traced_loop(tr, wl, outcome, seconds, cores):
    """Traced jobs for ``seconds``; each per-layer metric is the median
    over them. Layers the workload does not call report 0."""
    samples: dict[str, list[float]] = {}
    walls = []
    loop_end = time.perf_counter() + seconds
    j = 0
    while time.perf_counter() < loop_end or j < MIN_TRACED:
        inp = wl.prepare(TRACED_BASE + j)
        tr.trace_id = j + 1
        box = {}

        def traced():
            w0 = time.perf_counter()
            out, box["extra"] = wl.traced(tr, inp)
            walls.append(time.perf_counter() - w0)
            fails = wl.check(inp, out)
            del out
            tr.collect_garbage()
            return fails

        if outcome.attempt(f"traced job {j}", traced):
            tr.drain()
            left = tr.persistent_rdds()
            m = dict(box["extra"])
            for layer in wl.layers:
                m.update(_layer(tr, layer, tr.trace_id, cores, left))
            if "geo.knn.results" in m:
                m["geo.knn.shuffle_records_per_result"] = m["geo.knn._shuffle_records"] / m["geo.knn.results"]
            for k, v in m.items():
                samples.setdefault(k, []).append(v)
        wl.cleanup(inp)
        j += 1
    tr.drain()
    out = {n: 0.0 for n in tracing.per_layer_names()}
    out.update({k: statistics.median(v) for k, v in samples.items() if k in out})
    return out, walls


def _layer(tr, layer, trace_id, cores, left: set) -> dict:
    """One layer's metrics from its call/exec span pairs in ``trace_id``
    (one traced job or one set-up repetition), summed over the pairs.
    rdds_leaked counts RDDs persisted during those spans that ``left``
    still holds after the job dropped its references."""
    calls = tr.find(f"{layer}.call", trace_id)
    execs = tr.find(f"{layer}.exec", trace_id)
    if not calls:
        return {}
    execs += [None] * (len(calls) - len(execs))  # eager layers (io.sink) have no exec span
    rows = [tr.layer_metrics(c, e) for c, e in zip(calls, execs)]
    m = {k: sum(r[k] for r in rows) for k in rows[0]}
    m["task_skew"] = max(r["task_skew"] for r in rows)
    wall = m["call_s"] + m["exec_s"]
    # the waiting measure: core time in which no task of the layer ran
    m["core_idle_share"] = 1.0 - m["run_s"] / (wall * cores) if wall > 0 else 0.0
    created = set().union(*(s.rdds_created for s in calls + execs if s))
    m["rdds_leaked"] = len(created & left)
    out = {f"{layer}.{k}": v for k, v in m.items() if k in tracing.COMMON}
    if layer == "geo.pip":
        out["geo.pip.task_skew"] = m["task_skew"]
    if layer == "geo.knn":
        out["geo.knn._shuffle_records"] = m["shuffle_records"]
    return out
