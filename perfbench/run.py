#!/usr/bin/env python3
"""Benchmark of the engine, driven from outside through its public entry
points.

    python3 perfbench/run.py --workload headline-sf0.1 --seed 1 --seconds 30 --trace 0

Workloads (one closed-loop client in one driver thread, ``local[nproc]``):

- ``headline-sf0.1``: the 20 ``bench.HEADLINE`` queries on the sf0.1
  fixture (``bench.SF_DIR``), in a seeded order, each result collected
  to the driver.
- ``graph-ops``: the paper's four operations through ``api.Engine`` on
  seeded 30-vertex graphs plus a seeded 10k-vertex / 100k-edge graph that is
  added, traversed, labelled by connected components and ranked.
- ``headline-sf1``: the headline queries on a 10x copy of the sf0.1 fixture
  that ``scripts/make_sf1.py`` builds under ``perfbench/.work``. A run takes
  several minutes, so it is for manual scale checks and is not listed in
  ``BENCHMARK.json``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones; with ``--trace 1`` the run also records spans and
a Spark event log and the metrics are the per-layer ones. A human-readable
breakdown goes to standard error and, as JSON, to
``perfbench/.work/reports/``. The exit code is 1 when any output check
failed and 2 when the engine or its fixture is missing.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

WORKLOADS = ("headline-sf0.1", "graph-ops", "headline-sf1")


def pin_environment(cpus: int) -> None:
    """Set what the engine reads from the environment before any JVM or
    Python worker starts: the core count (``session.DEFAULT_CPUS`` would
    otherwise fall back to 32), Spark's scratch directory, and the import
    path of Python workers, which do not inherit ``sys.path``."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def shutdown_jvm() -> None:
    """Stop the gateway JVM this process launched and wait until it exits;
    its Python workers exit with it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — still running: stop it hard
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def warm_fixture(sf_dir: str) -> str:
    """The smallest fixture beside ``sf_dir``; the headline workloads run
    every query on it once, untimed, before measuring."""
    return os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")


def make_workload(name: str, sf_dir: str, run_dir: str):
    from perfbench import workloads as W

    oracle_cache = os.path.join(WORK, "oracle")
    if name == "headline-sf0.1":
        return W.Headline(sf_dir, oracle_cache, warm_fixture(sf_dir))
    if name == "headline-sf1":
        from perfbench import sf1

        sf1_dir = sf1.ensure(sf_dir, os.path.join(WORK, "sf1"))
        return W.Headline(sf1_dir, oracle_cache, warm_fixture(sf_dir))
    if name == "graph-ops":
        return W.GraphOps(os.path.join(run_dir, "graphs"))
    raise ValueError(name)


def run(
    workload, seed: int, seconds: float, trace: bool, cpus: int, run_dir: str,
    spans_path: str | None = None,
) -> dict:
    """One benchmark run in this process; returns the report dict. A traced
    run writes its spans to ``spans_path`` when given."""
    from distributed_graph_database_system_spark.session import get_spark
    from perfbench import metrics
    from perfbench.harness import Ledger, Tracer, vm_hwm_mb
    from perfbench.workloads import Context

    tracer = Tracer(trace)
    ledger = Ledger()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    event_dir = os.path.join(run_dir, "eventlog")
    if trace:
        os.makedirs(event_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
            }
        )
    with tracer.span("session"):
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf=conf)
        session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        ctx = Context(spark, tracer, ledger)
        with tracer.span("setup"):
            t0 = time.perf_counter()
            workload.prepare(ctx, seed)
            warm_up_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - T_START

        jvm = spark.sparkContext._jvm
        ctx.procs = (os.getpid(), jvm.java.lang.ProcessHandle.current().pid())
        m0 = time.perf_counter()
        walls: list[float] = []
        while True:
            ctx.rounds.append([])
            with tracer.span("round"):
                workload.round(ctx)
            walls.append(sum(o.latency for o in ctx.rounds[-1] if o.latency is not None))
            if time.perf_counter() - m0 + statistics.median(walls) > seconds:
                break
        measured_s = time.perf_counter() - m0
        peak_rss_mb = vm_hwm_mb("self") + vm_hwm_mb(ctx.procs[1])
        # the first collection lets Spark's ContextCleaner drop blocks and
        # shuffles of unreachable datasets; the second frees them
        jvm.java.lang.System.gc()
        time.sleep(1.0)
        jvm.java.lang.System.gc()
        live_heap_mb = (
            jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
            .getHeapMemoryUsage()
            .getUsed()
            / 2**20
        )
        details = workload.details(ctx)
    finally:
        workload.close()
        spark.stop()
        shutdown_jvm()

    e2e = {
        "round_s": (statistics.median(walls), "s"),
        "setup_s": (setup_s, "s"),
    }
    report = {
        "rounds": len(walls),
        "round_walls_s": walls,
        "measured_s": measured_s,
        "session_s": session_s,
        "warm_up_s": warm_up_s,
        "peak_rss_mb": peak_rss_mb,
        "live_heap_mb": live_heap_mb,
        "failed_frac": ledger.failed_frac,
        "failures": ledger.report(),
        "details": details,
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
    }
    if trace:
        layer, per_op = metrics.per_layer(
            ctx, tracer, event_dir, cpus, session_s, peak_rss_mb, live_heap_mb
        )
        report["per_layer"] = {k: v for k, (v, _) in layer.items()}
        report["per_op"] = per_op
        if spans_path:
            os.makedirs(os.path.dirname(spans_path), exist_ok=True)
            tracer.dump(spans_path)
        out = layer
    else:
        out = e2e
    report["result"] = {
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }
    return report


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cpus = len(os.sched_getaffinity(0))
    pin_environment(cpus)
    try:
        import bench  # noqa: F401 — the headline list and fixture location
        import distributed_graph_database_system_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    sf_dir = bench.SF_DIR  # $SPARK_GRAFT_SF_DIR overrides, as for bench.py
    for d in (sf_dir, warm_fixture(sf_dir)):
        if not os.path.isdir(d):
            print(f"perfbench: fixture directory {d} not found", file=sys.stderr)
            return 2

    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    name = f"{args.workload}-seed{args.seed}"
    try:
        workload = make_workload(args.workload, sf_dir, run_dir)
        report = run(
            workload, args.seed, args.seconds, bool(args.trace), cpus, run_dir,
            spans_path=os.path.join(WORK, "traces", f"{name}.jsonl"),
        )
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    report.update(workload=args.workload, seed=args.seed, seconds=args.seconds, cpus=cpus)
    reports = os.path.join(WORK, "reports")
    os.makedirs(reports, exist_ok=True)
    with open(
        os.path.join(reports, f"{name}-trace{args.trace}.json"), "w"
    ) as fh:
        json.dump(report, fh, indent=1, default=str)
    print(json.dumps({k: v for k, v in report.items() if k != "result"}, default=str), file=sys.stderr)
    for f in report["failures"]:
        print(f"FAILED {f}", file=sys.stderr)
    print(json.dumps(report["result"]))
    return 0 if report["result"]["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
