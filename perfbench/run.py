"""Benchmark of the crawl engine and its analytics queries.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One closed loop: this process drives one
local[4] Spark session and starts each epoch or query only after the
previous one finished. It sets up (session start, untimed preparation, a
warm pass), repeats the workload's timed repetition until ``--seconds`` of
timed work are done, then checks every output. ``--seed`` generates the
inputs: the synthetic site's seed for the crawl workloads, the query order
for query_mix (over one fixed set of generated tables).

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
is ``{"meta": ...}``: sample counts, the host's steal share and load during
the run, the error rate, and any layer breakdown flagged for unattributed
time. ``--workload all`` runs every benchmarked workload in turn and prints
one table.

Everything the run writes stays under ``.perfbench_work/`` in the checkout
and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

import catalog
import measure

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(1, REPO)  # the engine package and __spark_entry__
WORK_ROOT = os.path.join(REPO, ".perfbench_work")
CORES = 4
DRIVER_MEM = "3g"
# a run whose repetitions keep raising stops after this many in a row
MAX_CONSECUTIVE_ERRORS = 3


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*catalog.WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _confine(work: str) -> dict[str, str]:
    """Keep every file the run writes inside ``work``; returns the Spark
    settings that do the same for the JVM."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's own launcher JVM
    return {
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until every process this run
    started (JVM, Python daemon and workers) has exited."""
    from pyspark import SparkContext

    started = measure.tree_pids(os.getpid())[1:]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(measure.alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in started:
        if measure.alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(measure.alive(p) for p in started):
        time.sleep(0.1)


def _measure(args: argparse.Namespace, work: str) -> tuple[dict, dict]:
    conf = _confine(work)
    try:
        from gov_procurement_spider_spark.session import (
            DEFAULT_SHUFFLE_PARTITIONS,
            get_spark,
        )

        import workloads
    except ImportError as exc:
        raise SystemExit(f"perfbench: the engine is not importable here: {exc}") from exc

    sampler = measure.HostSampler(os.getpid()).start()
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=DEFAULT_SHUFFLE_PARTITIONS,
        extra_conf=conf,
    )
    session_s = time.perf_counter() - t0
    reps: list = []
    attempted = errors_in_a_row = 0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl = workloads.WORKLOADS[args.workload](spark, args.seed, work)
        wl.setup()
        setup_s = measure.process_age_s()
        sampler.reset_peak()
        timed = 0.0
        while True:
            t0 = time.perf_counter()
            try:
                rep = wl.rep(bool(args.trace))
            except Exception as exc:  # a failed repetition is a failed op
                timed += time.perf_counter() - t0
                attempted += 1
                wl.out.fail(1, f"rep: {type(exc).__name__}: {exc}"[:300])
                errors_in_a_row += 1
                if errors_in_a_row >= MAX_CONSECUTIVE_ERRORS:
                    break
                continue
            errors_in_a_row = 0
            reps.append(rep)
            attempted += rep.attempted
            timed += rep.wall_s
            if timed >= args.seconds:
                break
        peak_rss = sampler.peak_rss
        try:
            wl.check()
        except Exception as exc:  # an unfinished check fails every op
            wl.out.fail(attempted, f"check: {type(exc).__name__}: {exc}"[:300])
        if args.trace:
            wl.probe()
    finally:
        host = sampler.stop()
        _stop_spark(spark)

    ops = [o for r in reps for o in r.ops_ms]
    timings = {
        "setup_s": setup_s,
        "rep_s": statistics.median(r.wall_s for r in reps) if reps else 0.0,
        "op_ms.p50": statistics.median(ops) if ops else 0.0,
        "throughput_per_s": sum(r.units for r in reps) / sum(r.wall_s for r in reps)
        if reps
        else 0.0,
        "cpu_ms_per_unit": sum(r.cpu_s for r in reps) * 1000.0 / max(sum(r.units for r in reps), 1)
        if reps
        else 0.0,
    }
    failed = min(wl.out.failed, attempted)
    meta = {
        "timings": timings,
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "reps": len(reps),
        "samples": {
            "rep_s": measure.summarize([r.wall_s for r in reps]) if reps else {},
            "rep_cpu_s": measure.summarize([r.cpu_s for r in reps]) if reps else {},
            "op_ms": measure.summarize(ops) if ops else {},
        },
        "setup_parts": {"session_s": session_s, **wl.setup_parts},
        "ops": attempted,
        "error_rate": failed / max(attempted, 1),
        "host": host,
        "unattributed_flags": wl.out.flags[:20],
        "errors": wl.out.errors[:10],
        "peak_rss_mb": peak_rss / 2**20,
    }
    if args.trace:
        layer = wl.layer_metrics()
        layer["session.start_s"] = session_s
        layer["process.peak_rss_mb"] = peak_rss / 2**20
        layer["workload.rep_s"] = timings["rep_s"]
        layer["workload.op_ms.p50"] = timings["op_ms.p50"]
        if reps:
            layer["trace.overhead_frac"] = wl.hook_s / sum(r.wall_s for r in reps)
        values, units = layer, {n: u for n, u, _ in catalog.PER_LAYER}
    else:
        values, units = timings, {n: u for n, u, _ in catalog.END_TO_END}
    result = {
        "correct": bool(reps) and failed == 0,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in units},
    }
    return meta, result


def _exit_on_sigterm(signum, frame) -> None:
    raise SystemExit(128 + signum)  # unwinds through the cleanup below


def run_one(args: argparse.Namespace) -> int:
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        meta, result = _measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"meta": meta}))
    print(json.dumps(result))
    return 0


def run_all(args: argparse.Namespace) -> int:
    """Every workload in its own process; one table of every metric."""
    status = 0
    print(f"{'workload':14} {'metric':44} {'value':>14} unit")
    for name in catalog.WORKLOADS:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
        ]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{name:14} failed with exit code {proc.returncode}")
            status = 1
            continue
        result = json.loads(lines[-1])
        meta = json.loads(lines[-2])["meta"]
        for metric, v in result["metrics"].items():
            print(f"{name:14} {metric:44} {v['value']:14.6g} {v['unit']}")
        print(
            f"{name:14} {'correct':44} {str(result['correct']):>14}"
            f"  error_rate {meta['error_rate']:g} of {meta['ops']} ops"
        )
    return status


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
