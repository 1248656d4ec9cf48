"""Benchmark entry point.

    python3 perfbench/run.py --workload panel_batch --seed 1 --seconds 5 --trace 0

Run from the repository root. It generates the workload's inputs from the
seed, starts one Spark session at local[<usable cores>], sets up several
times, runs the workload's unit of work until ``--seconds`` have passed and
at least the workload's minimum number of units ran (or the workload has no
more to run), checks the outputs and
prints one JSON object as its last line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the per-layer
ones, from a run that alternates untraced and traced iterations, and the
spans are written to ``.perfbench_out/``. The exit code is non-zero when an
output check fails. Everything it writes stays under the current
directory; see perfbench/README.md for the metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import shlex
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
DRIVER_MEMORY = "1g"
T0 = time.time()


def _submit_args(work: str) -> str:
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        # no perf-data file, which the JVM would write under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                                         "-XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep every job, stage, task and SQL execution for the counters
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.ui.retainedTasks": "10000000",
        "spark.sql.ui.retainedExecutions": "1000000",
    }
    return " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"


def _start_session(cores: int):
    from sentometrics_spark.session import build_session

    spark = build_session(
        master=f"local[{cores}]",
        app_name="perfbench",
        shuffle_partitions=2 * cores,
        driver_memory=DRIVER_MEMORY,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop(spark) -> None:
    """Stop the session and the JVM, then wait until the JVM and every
    Python worker it started have ended."""
    from spans import descendants

    kids = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while any(_alive(p) for p in kids) and time.time() < deadline:
        time.sleep(0.1)
    for p in kids:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


def run(args, cores: int, work: str) -> dict:
    import workloads
    from gen import Generator
    from spans import PeakRss, StatusReader, Tracer

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    wl = workloads.WORKLOADS[args.workload](work, args.seed)
    wl.generate(Generator(args.seed, os.path.join(work, "inputs"), n_files=2 * cores))

    spark = None
    print(f"phase gen done {time.time() - T0:.1f}", file=sys.stderr)
    try:
        with PeakRss() as rss:
            # set-up time is the session start (JVM and Python workers) plus
            # the median of SETUP_REPS set-ups; each set-up is printed too
            t0 = time.perf_counter()
            spark = _start_session(cores)
            started = time.perf_counter() - t0
            wl.bind(spark, Tracer(spark.sparkContext, run_id), StatusReader(spark))
            setups = []
            for _ in range(SETUP_REPS):
                t1 = time.perf_counter()
                wl.setup()
                setups.append(time.perf_counter() - t1)
            setup_s = started + statistics.median(setups)
            if args.trace:
                # per-layer numbers are for warm code; the timed units of an
                # untraced run are what a fresh job pays
                with wl.T.span("warm"):
                    wl.warm()
                wl.wrap()

            failed_ops = 0
            steps = 0
            deadline = time.perf_counter() + args.seconds
            # a traced run needs one traced iteration more
            min_steps = wl.MIN_STEPS + args.trace
            while steps < min_steps or time.perf_counter() < deadline:
                traced = bool(args.trace) and steps % 2 == 1
                wl.T.detail = traced
                try:
                    more = wl.step(traced)
                except Exception:
                    traceback.print_exc()
                    failed_ops += 1
                    break
                finally:
                    wl.T.detail = False
                if not more:
                    break
                steps += 1
            wl.after_loop()
            if args.trace:
                wl.collect_counters()
            tasks, failed_tasks = wl.status.executor_tasks()
        print(f"phase loop done {time.time() - T0:.1f}", file=sys.stderr)
        ops = sum(1 for s in wl.T.spans if s["parent"] is None and "traced" in s)

        mismatches = wl.check() if failed_ops == 0 else ["not checked: an operation failed"]
        checked = 1
        print(f"phase check done {time.time() - T0:.1f}", file=sys.stderr)
        if args.trace:
            layer = wl.layer_metrics()
    finally:
        if spark is not None:
            _stop(spark)

    failed = failed_ops + len(wl.guard_failures) + len(mismatches) + failed_tasks
    attempted = ops + checked + tasks
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "setup_s": f"{setup_s:.4f} s (session start {started:.4f} s + median set-up of "
                   f"{[round(x, 4) for x in setups]})",
        "work_p50_s": f"{wl.work_p50_s():.4f} s (wall time per unit of work)",
        **wl.report(),
        "peak_rss_mb": f"{rss.peak / 1e6:.1f} MB",
        "failed_ratio": f"{failed / attempted:.6f} ({failed} of {attempted}: "
                        f"{failed_ops} operations, {len(wl.guard_failures)} forcing guards, "
                        f"{len(mismatches)} output mismatches, {failed_tasks} Spark tasks)",
    }
    for k, v in report.items():
        print(f"{k}: {v}")
    for msg in wl.guard_failures + mismatches:
        print(f"FAILED {msg}")

    if args.trace:
        from workloads import LAYER_METRICS

        spans_path = os.path.join(ROOT, ".perfbench_out", f"spans-{run_id}.json")
        wl.T.dump(spans_path, {"layer_metrics": layer})
        print(f"spans: {spans_path}")
        print(f"trace.overhead_s: {layer['trace.overhead_s']:.4f} s (traced minus untraced median)")
        metrics = {k: {"value": layer[k], "unit": u} for k, u in LAYER_METRICS.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "work_cpu_s": {"value": wl.work_cpu_s(), "unit": "s"},
            "peak_rss_mb": {"value": rss.peak / 1e6, "unit": "MB"},
        }
    correct = failed_ops == 0 and not wl.guard_failures and not mismatches
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("panel_batch", "tier_refresh"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["PYSPARK_SUBMIT_ARGS"] = _submit_args(work)
    # spark-submit's launcher JVM would write its perf-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # the Python workers import the library too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    try:
        result = run(args, cores, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
