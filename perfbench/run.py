"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload adhoc_sf0.1 --seed 1 --seconds 10 --trace 0

Run it from a checkout of the repository; it needs nothing outside it.
The workload's inputs are generated from ``--seed`` under ``.perfbench/``
at the repository root, which is removed again at exit (spans from a
traced run are kept in ``.perfbench/spans/``).

One process, one Spark session on ``local[N]`` with N = the number of
CPUs, one client in a closed loop. The run sets up ``SETUP_ROUNDS`` times
(session start plus input generation) and reports the median as
``setup_s``; it then runs the workload's correctness check (for registry
workloads this is also the warm-up), then complete passes until
``--seconds`` have elapsed. ``pass_s`` is the median pass wall time.
Per-operation latencies go to the human summary line, not the metrics:
after the cold ``etl_arxiv`` load its reads swing twofold from run to run.
``--trace 1`` alternates untraced and traced passes and reports the
per-layer metrics instead of the end-to-end ones.
The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "research_data_pipeline_spark"
CPUS = os.cpu_count() or 1
SETUP_ROUNDS = 3

sys.path.insert(0, ROOT)
from perfbench import layers, workloads  # noqa: E402
from perfbench.trace import Tracer, attach_counters, peak_rss_mb, write_spans  # noqa: E402


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input scale; tiny is for smoke tests")
    return p.parse_args(argv)


def spark_environment(work: str) -> None:
    """Confine Spark's files to ``work``, put the repository on the Python
    workers' import path and keep the progress bar off stdout. Must run
    before the first session starts: these are launch-time settings."""
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    confs = {
        "spark.ui.showConsoleProgress": "false",
        # the status store is the source of the engine counters: keep
        # every job and stage of a run, not the last 1000
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    args = [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def start_session():
    from research_data_pipeline_spark.session import get_spark

    spark = get_spark(app="perfbench", master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM child (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def setup(wl, seed: int, work: str):
    """Start the session and generate the inputs ``SETUP_ROUNDS`` times;
    the first round also launches the JVM. Returns the live session and
    the per-round setup and session-start times."""
    spark, rounds, starts = None, [], []
    for i in range(SETUP_ROUNDS):
        data_dir = f"{work}/inputs-{i}"
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_session()
        starts.append(time.perf_counter() - t0)
        os.makedirs(data_dir)
        wl.generate(data_dir, seed)
        rounds.append(time.perf_counter() - t0)
        if i:
            shutil.rmtree(f"{work}/inputs-{i - 1}")
    return spark, rounds, starts


def run_passes(spark, wl, tracer, work: str, seconds: float, trace: bool) -> list[dict]:
    """Complete passes until ``seconds`` have elapsed: at least one. With
    tracing, passes alternate untraced and traced, at least three of them,
    so a traced pass can be compared with an untraced one that is not the
    session's first (the first ``etl_arxiv`` pass runs cold)."""
    passes: list[dict] = []
    t_end = time.perf_counter() + seconds
    while True:
        traced = trace and len(passes) % 2 == 1
        tracer.enabled = traced
        with tracer.span("pass"):
            p = wl.run_pass(spark, tracer, work, len(passes))
        tracer.enabled = False
        p["traced"] = traced
        passes.append(p)
        if time.perf_counter() >= t_end and (not trace or len(passes) >= 3):
            return passes


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"error: {PKG}/ not found next to perfbench/; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; "
              f"choose from {workloads.WORKLOADS}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark_environment(work)
    spark = None
    try:
        wl = workloads.make(args.workload, args.size)
        spark, rounds, starts = setup(wl, args.seed, work)
        tracer = Tracer(spark.sparkContext)
        attempted, errors = wl.check(spark, work)
        restore = layers.instrument_all(tracer) if args.trace else (lambda: None)
        passes = run_passes(spark, wl, tracer, work, args.seconds, bool(args.trace))
        restore()
        if hasattr(wl, "check_outputs"):
            n, errs = wl.check_outputs(spark)
            attempted, errors = attempted + n, errors + errs
        rss = peak_rss_mb()
        timed = [p for p in passes if not p["traced"]]
        summary = wl.summary(timed)
        if args.trace:
            attach_counters(spark.sparkContext, tracer.spans)
            metrics = layers.per_layer(tracer.spans, passes, starts, wl, CPUS)
            metrics["session.peak_rss_mb"] = (rss, "MB")
            path = os.path.join(ROOT, ".perfbench", "spans",
                                f"{args.workload}-seed{args.seed}.jsonl")
            write_spans(path, tracer.spans, {"workload": args.workload, "seed": args.seed,
                                             "metrics": metrics})
            print(f"spans: {path}")
        else:
            metrics = {
                "setup_s": (workloads.median(rounds), "s"),
                "pass_s": summary["pass_s"],
            }
        for p in passes:
            attempted += p["attempted"]
            errors += p["errors"]
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no spans were kept
    for e in errors[:20]:
        print(f"FAILED {e}")
    for q, t in sorted(timed[-1].get("by_query", {}).items()):
        print(f"  {q}: {t:.3f} s", file=sys.stderr)
    print(f"{args.workload}: " + ", ".join(
        f"{k}={v:.4f} {u}" for k, (v, u) in summary.items())
        + f"; passes={len(timed)}; correct={'yes' if not errors else 'NO'}")
    print(json.dumps({
        "correct": not errors,
        "attempted": attempted,
        "failed": len(errors),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
