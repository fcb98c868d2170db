"""Benchmark of record for morituri_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds a local Spark session fitted to the
machine, generates the workload's input from ``--seed``, runs the workload's
jobs in a closed loop for ``--seconds`` and checks every job against an
independent oracle. The last line of standard output is one JSON object:
with ``--trace 0`` its metrics are the end-to-end metrics, with
``--trace 1`` the per-layer metrics of a separate traced loop. Lines before
it report every metric with its unit and sample count, the environment
(calibration sentinel, CPU steal, load) and any failed check.

All scratch files (Spark local dirs, JVM and Python temp files, written
outputs) live under ``.perfbench/`` in the repository root and are removed
at exit; each run leaves its record (and spans, when traced) in
``.perfbench/records/``.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import pathlib  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import time  # noqa: E402

ROOT = pathlib.Path(__file__).resolve().parent.parent
DEADLINE_S = 170  # every run must end within 180 s


class Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "morituri_spark" / "__init__.py").is_file():
        print(f"error: no morituri_spark package under {ROOT}; run from a checkout of the repository",
              file=sys.stderr)
        return 2

    base = ROOT / ".perfbench"
    scratch = base / f"run-{os.getpid()}"
    records = base / "records"
    for d in ("tmp", "spark-local", "work", "warehouse"):
        (scratch / d).mkdir(parents=True, exist_ok=True)
    records.mkdir(parents=True, exist_ok=True)
    # Before pyspark starts: the JVM, its Python workers and this process
    # all put temp files where these point.
    os.environ["TMPDIR"] = str(scratch / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch / "spark-local")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    # every JVM, the spark-submit launcher's included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={scratch / 'tmp'}"
    sys.path[:0] = [str(ROOT / "perfbench"), str(ROOT)]

    import harness
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    def spark_factory(fit):
        os.environ["SPARK_DRIVER_MEMORY"] = fit["driver_memory"]
        from morituri_spark.session import get_spark

        spark = get_spark(
            f"perfbench-{args.workload}", master=fit["master"],
            shuffle_partitions=fit["shuffle_partitions"],
            extra_conf={
                "spark.sql.warehouse.dir": str(scratch / "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        # the seeded generators run inside Python workers
        spark.sparkContext.addPyFile(str(ROOT / "perfbench" / "inputs.py"))
        return spark

    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    result = None
    try:
        result = harness.run(spark_factory, args.workload, args.seed, args.seconds,
                             bool(args.trace), str(scratch / "work"))
    finally:
        signal.alarm(0)
        _shutdown()
        shutil.rmtree(scratch, ignore_errors=True)

    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    spans = result["detail"].pop("spans", None)
    if spans is not None:
        (records / f"{stem}.spans.json").write_text(json.dumps(spans))
    (records / f"{stem}.json").write_text(json.dumps(result, indent=1))
    _report(result, harness.END_TO_END)

    if args.trace:
        metrics = result["per_layer"]
        units = {n: harness.tracing.unit_of(n) for n in metrics}
    else:
        metrics = result["e2e"]
        units = harness.END_TO_END
    ok = result["failed"] == 0 and all(math.isfinite(v) for v in metrics.values())
    print(json.dumps({
        "correct": ok,
        "attempted": result["attempted"],
        "failed": result["failed"],
        # a metric no job could measure (every job failed) prints as null
        "metrics": {k: {"value": v if math.isfinite(v) else None, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


def _report(r: dict, units: dict) -> None:
    d, env = r["detail"], r["env"]
    fit = env["start"]["fit"]
    print(f"# workload {r['workload']} seed {r['seed']} seconds {r['seconds']} trace {r['trace']}")
    print(f"# session {fit['master']} driver_memory {fit['driver_memory']} "
          f"shuffle_partitions {fit['shuffle_partitions']} (MemTotal {fit['mem_total_mb']} MB)")
    print(f"# env calib_ms {env['start']['calib_ms']:.2f} -> {env['end']['calib_ms']:.2f}  "
          f"steal {env['timed_loop_steal_pct']:.2f}% (timed loop)  "
          f"loadavg {env['start']['loadavg'][0]:.2f} -> {env['end']['loadavg'][0]:.2f}")
    n = d["samples"]
    for k, v in r["e2e"].items():
        samples = {"setup_s": 1}.get(k, n)
        print(f"{k:>12} {v:14.4f} {units[k]:>5}  (n={samples})")
    if "resume_s" in d:
        print(f"{'resume_s':>12} {d['resume_s']:14.4f} {'s':>5}  (n={len(d['resume_walls_s'])}, "
              "inside job_s; not a bounded metric)")
    for k, v in d.get("part_s", {}).items():
        print(f"{'part ' + k:>30} {v:14.4f} {'s':>5}  (n={n}, inside job_s)")
    print(f"{'error_rate':>12} {d['error_rate']:14.4f} share  "
          f"({r['failed']} failed of {r['attempted']} operations)")
    for f in r["failures"]:
        print(f"# FAILED {f}")
    if r["per_layer"]:
        for k, v in r["per_layer"].items():
            print(f"{k:>44} {v:14.4f}")


def _shutdown() -> None:
    """Stop Spark, then the JVM, and wait until every process this run
    started has exited."""
    from machine import descendants
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = descendants(os.getpid())
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + 10
        while left and time.monotonic() < end:
            time.sleep(0.1)
            left = descendants(os.getpid())
        if not left:
            return


if __name__ == "__main__":
    sys.exit(main())
