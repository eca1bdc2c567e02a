"""Benchmark entry point: one workload, one process, one JSON line.

    python3 perfbench/run.py --workload crawl_full --seed 1 --seconds 5 --trace 0

Runs from the root of a checkout of the repository. Set-up (Spark
session, generated inputs, restored store, warm-up call) is timed as
``setup_s``; then whole rounds of the workload's operation run until
``--seconds`` have passed (at least one round), each checked against
the generator's expectations. The last line of standard output is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json for ``--trace 0`` and its
per-layer metrics for ``--trace 1``. A traced run times one untraced
and one traced round, reports the difference as ``trace.overhead_s``,
then takes the standalone layer measurements. Everything it writes goes under
``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "6g"  # bounded heap; the session factory's default assumes a 128 GiB host


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _environment(work: str, trace: bool) -> None:
    """Point every place Spark and Python write to inside ``work``; the
    event log is switched on from outside the program, here."""
    for d in ("local", "checkpoints", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_CHECKPOINT_DIR"] = os.path.join(work, "checkpoints")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    conf = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    ]
    if trace:
        conf += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf + ["pyspark-shell"])


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _jvm_hwm_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    sys.path.insert(0, ROOT)
    spec = _spec()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _environment(work, trace)
    spark = None
    try:
        import workloads  # imports the program; fails outside a checkout
        from spans import EventLog, Tracer

        if args.workload not in workloads.WORKLOADS:
            print(f"unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        from neurostore_text_extraction_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}",
                          cores=len(os.sched_getaffinity(0)))
        session_s = time.perf_counter() - t
        tracer = Tracer(spark.sparkContext, enabled=trace)
        wl = workloads.WORKLOADS[args.workload](spark, args.seed, work, tracer)
        wl.setup()
        setup_s = time.perf_counter() - T0

        problems = list(wl.setup_problems)
        plain: list[float] = []
        traced: list[float] = []
        failed = out_bytes = 0
        start = time.perf_counter()
        while True:
            with_trace = trace and len(plain) > len(traced)
            wl.reset()
            tracer.enabled = with_trace
            if with_trace:
                wl.patch()
            t = time.perf_counter()
            try:
                with tracer.span(wl.root_span):
                    wl.call()
            finally:
                dt = time.perf_counter() - t
                if with_trace:
                    wl.unpatch()
                tracer.enabled = False
            (traced if with_trace else plain).append(dt)
            f, p, out_bytes = wl.check()
            failed += f
            problems += p
            print(f"round {len(plain) + len(traced)}: {dt:.3f} s"
                  f"{' (traced)' if with_trace else ''}", file=sys.stderr)
            # a traced run times one untraced and one traced round; its
            # layer measurements that follow take far longer than --seconds
            if traced or (not trace and time.perf_counter() - start >= args.seconds):
                break
        n_rounds = len(plain) + len(traced)
        run_s = statistics.median(plain)
        metrics: dict[str, float] = {}
        if trace:
            metrics.update(wl.span_metrics(len(traced)))
            tracer.enabled = True
            metrics.update(wl.layers())
            problems += wl.layer_problems
            metrics["session.start_s"] = session_s
            metrics["session.warmup_s"] = wl.warmup_s
            metrics["session.jvm_peak_rss_mb"] = _jvm_hwm_mb(spark)
            metrics["trace.overhead_s"] = statistics.median(traced) - run_s
        _stop(spark)
        spark = None
        if trace:
            log = EventLog(os.path.join(work, "eventlog"))
            metrics.update(log.summary(wl.root_span, per=len(traced)))
            metrics.update(wl.event_metrics(log))
            wanted = spec["per_layer"]
        else:
            metrics.update(
                setup_s=setup_s,
                run_s=run_s,
                docs_per_s=wl.attempted / run_s,
                out_mb=out_bytes / 1e6,
            )
            wanted = spec["end_to_end"]
        for msg in problems:
            print(f"check failed: {msg}", file=sys.stderr)
        # a layer the workload never enters reads 0
        result = {
            "correct": not problems,
            "attempted": wl.attempted * n_rounds,
            "failed": failed,
            "metrics": {
                m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
                for m in wanted
            },
        }
        print(json.dumps(result), flush=True)
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
