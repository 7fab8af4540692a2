"""Benchmark command for the library_beam_spark engine.

    python3 perfbench/run.py --workload {etl_full,feed_and_suite}
        --seed N --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from ``--seed``; each
workload runs an untimed warm-up at the timed scale, then timed passes
for at least ``--seconds``, then checks its outputs against ground
truth. Human-readable lines go first; the last line of standard output
is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics of ``BENCHMARK.json``, or with
``--trace 1`` its per-layer metrics). The exit code is 0 only when every
check passed. Everything is written under ``.perfbench_work/`` (removed
at exit) and ``.perfbench_out/`` (span files) in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("etl_full", "feed_and_suite")
# JVM heap, passed on as SPARK_GRAFT_DRIVER_MEM: the engine's 32g default
# does not fit a 15 GB host and inflates JVM memory
DRIVER_MEM = "4g"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def missing_prerequisites() -> list[str]:
    need = ["BENCHMARK.json", "library_beam_spark/__init__.py", "tools/gen_sf.py",
            "tools/verify_oracle.py"]
    return [p for p in need if not os.path.isfile(os.path.join(ROOT, p))]


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def configure_env(work: str, cores: int, trace: bool) -> None:
    """Point every temp and scratch location into ``work`` and pass the
    benchmark-only Spark settings; must run before pyspark starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        # one plain JSON-lines file
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    args += ["--driver-java-options",
             f"-Djava.io.tmpdir={tmp} -Dderby.system.home={os.path.join(work, 'derby')}",
             "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args)


def make_workload(name: str, spark, work: str, seed: int, cores: int, peak):
    if name == "etl_full":
        from perfbench.etl_full import EtlFull

        return EtlFull(spark, work, seed, cores)
    from perfbench.feed_and_suite import FeedAndSuite

    return FeedAndSuite(spark, work, seed, ROOT, peak)


def work_dir(args: argparse.Namespace) -> str:
    return os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")


def stop_spark(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for each."""
    from pyspark import SparkContext

    from perfbench.probes import python_workers

    worker_pids = python_workers(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in worker_pids) and time.monotonic() < deadline:
        time.sleep(0.05)


def run(args: argparse.Namespace) -> int:
    from perfbench.probes import WorkerPeak, calib_s, process_age_s

    bench = spec()
    units = {m["name"]: m["unit"] for m in bench["per_layer" if args.trace else "end_to_end"]}
    cores = len(os.sched_getaffinity(0))  # what nproc reports
    work = work_dir(args)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    configure_env(work, cores, bool(args.trace))
    host_calib = calib_s()

    from library_beam_spark.session import get_spark
    from perfbench.trace import Tracer, attribute, read_event_log

    spark = get_spark("perfbench", master=f"local[{cores}]")
    peak = WorkerPeak(os.getpid())
    wl = make_workload(args.workload, spark, work, args.seed, cores, peak)
    tracer = (Tracer(f"{args.workload}-seed{args.seed}", spark.sparkContext)
              if args.trace else None)
    try:
        with peak:
            wl.setup()
            setup_s = process_age_s()
            t0 = time.perf_counter()
            traced_s = wl.timed(args.seconds, tracer)
            t1 = time.perf_counter()
            problems = wl.check()
            t2 = time.perf_counter()
            metrics = wl.end_to_end()
            # a workload that reads its own phase's peak reports it instead
            metrics.setdefault("worker_peak_rss_mb", peak.peak_mb)
            metrics["setup_s"] = setup_s
    finally:
        if hasattr(wl, "stop"):
            wl.stop()
        stop_spark(spark)
    if tracer:
        spans_path = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl")
        tracer.write(spans_path)
        print(f"spans: {os.path.relpath(spans_path, ROOT)} ({len(tracer.spans)} spans)")
        attrib = attribute(read_event_log(os.path.join(work, "eventlog")), tracer.spans)
        metrics = {name: 0.0 for name in units}  # layers this workload does not run did no work
        metrics.update(wl.per_layer(tracer, attrib))
        metrics["host.calib_s"] = host_calib
        metrics["trace.overhead_s"] = traced_s - statistics.median(wl.pass_s)
    if set(metrics) != set(units):
        raise RuntimeError(f"metric names {sorted(metrics)} differ from BENCHMARK.json "
                           f"{sorted(units)}")

    print(f"workload {args.workload} seed {args.seed} cores {cores} "
          f"driver_mem {DRIVER_MEM} timed_passes {len(wl.pass_s)}")
    print(f"phases: setup {setup_s:.1f} s, timed{' and traced' if args.trace else ''} "
          f"{t1 - t0:.1f} s, checks {t2 - t1:.1f} s, total {process_age_s():.1f} s")
    if not args.trace:  # a traced run reports it among its metrics
        print(f"host.calib_s {host_calib:.6f} s")
    for name in units:
        print(f"{name} {metrics[name]:.6g} {units[name]}")
    for p in problems:
        print(f"CHECK FAILED: {p}")
    print(f"checks: {'all passed' if not problems else f'{len(problems)} failed'}")
    print(json.dumps({
        "correct": not problems,
        "attempted": int(wl.attempted),
        "failed": int(wl.failed),
        "metrics": {n: {"value": float(metrics[n]), "unit": units[n]} for n in units},
    }))
    return 0 if not problems else 1


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    missing = missing_prerequisites()
    if missing:
        print(f"perfbench: run from a repository checkout; missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        return run(args)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work_dir(args), ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
