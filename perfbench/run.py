"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_mixed --seed 1 --seconds 10 --trace 0

Run from the repository root.  Workloads:
  ingest_mixed  MCP write cycles (indexed / skipped / replaced / deleted)
                beside MCP searches, API-only search variants and lookups
                on one store built in set-up;
  catalog_band  a band of construction-bound catalog queries and
                execution-bound controls, build and exec timed apart.

Prints named figures and the run's stamp as ``#`` lines, then one JSON
line: {"correct", "attempted", "failed", "metrics"}.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` wraps the engine's public functions,
counts Spark jobs per call and reports the per-layer metrics.  Exits 1 when
an output check fails.  Everything the run writes lives under
``perfbench/.work`` (removed at exit) and ``perfbench/.out``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("ingest_mixed", "catalog_band")
DRIVER_MEMORY = "2g"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: Path) -> int:
    """Point every scratch location of Spark, the JVM and Python into the
    run's work directory, and size Spark to the cores this process may use
    (the session factory's default is local[32])."""
    import tempfile

    nproc = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'} "
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )
    return nproc


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def cpu_ticks() -> list[int]:
    """The machine-wide CPU time counters of /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main(argv=None) -> int:
    args = parse_args(argv)
    load_1m = os.getloadavg()[0]
    work = HERE / ".work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    nproc = prepare_env(work)
    sys.path.insert(0, str(ROOT))
    try:
        from mcpvectordb_spark.session import get_spark
        from perfbench import metrics
        from perfbench.band import run_catalog_band
        from perfbench.serving import run_ingest_mixed
        from perfbench.stats import median
        from perfbench.trace import Tracer, install

        runners = {"ingest_mixed": run_ingest_mixed, "catalog_band": run_catalog_band}
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer() if args.trace else None
        installed = install(tracer) if tracer else None
        try:
            cpu0 = cpu_ticks()
            out = runners[args.workload](spark, str(work), args.seed, args.seconds, tracer)
            cpu1 = cpu_ticks()
            rss = metrics.peak_rss_mb()
            out.stamp.update({
                "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "nproc": nproc, "master": spark.sparkContext.master,
                "loadavg_1m_before": load_1m, "spark_version": spark.version,
                "python_version": platform.python_version(),
                # share of the machine's CPU time the hypervisor gave to
                # other guests while this run set up and measured
                "steal_frac": (cpu1[7] - cpu0[7]) / max(sum(cpu1) - sum(cpu0), 1),
            })
        finally:
            if installed:
                installed.remove()
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass

    if not out.calls:
        print("no call completed inside the window", file=sys.stderr)
        return 2
    failed = sum(1 for c in out.calls if not c.ok)
    print(f"# stamp {json.dumps(out.stamp, sort_keys=True)}")
    print(f"# setup {json.dumps({'session_s': session_s, **out.setup})}")
    print(f"# cycles {json.dumps(out.cycles)}")
    e2e = metrics.end_to_end(out, session_s)
    for name, (value, unit) in e2e.items():
        print(f"# end_to_end {name} = {_fmt(value)} {unit}")
    for name, value, unit in metrics.named_figures(args.workload, out, rss):
        print(f"# figure {name} = {_fmt(value)} {unit}")
    for kind in sorted({c.kind for c in out.calls}):
        calls = [c for c in out.calls if c.kind == kind]
        print(f"# kind {kind}: {sum(c.ok for c in calls)} ok of {len(calls)}, "
              f"p50 {_fmt(median([c.latency for c in calls]))} s")
    for error in sorted({c.error for c in out.calls if c.error}):
        print(f"# failed call: {error}")
    for err in out.errors:
        print(f"# CHECK FAILED: {err}")
    if tracer:
        result = metrics.per_layer(out, tracer, session_s)
        for name, (value, unit) in result.items():
            print(f"# per_layer {name} = {_fmt(value)} {unit}")
        for name, value, unit in metrics.named_layers(args.workload, out, tracer):
            print(f"# layer {name} = {_fmt(value)} {unit}")
        dump = HERE / ".out" / f"{args.workload}-seed{args.seed}-spans.json"
        dump.parent.mkdir(exist_ok=True)
        dump.write_text(json.dumps({"stamp": out.stamp, "spans": [vars(s) for s in tracer.spans],
                                    "calls": [vars(c) for c in out.calls]}))
    else:
        result = e2e
    correct = not out.errors
    print(json.dumps({
        "correct": correct, "attempted": len(out.calls), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
