"""Layered benchmark of the coin warehouse engine.

Run from the repository root:

    python3 perfbench/run.py --workload coin_etl --seed 1 --seconds 5 --trace 0

With ``--trace 0`` the last stdout line is a JSON object whose metrics
are the end-to-end metrics; with ``--trace 1`` they are the per-layer
metrics of a traced run (perfbench/layers.py). The lines before it
print every metric by name with its unit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

PROCESS_START = time.perf_counter()  # setup_s counts from here

PACKAGE = "cryptocoininsights_data_engineer_project_spark"

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "items_per_s": "1/s",
    "first_op_s": "s",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(root: str, work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``, and let mapInPandas workers import the package."""
    for d in ("tmp", "local", "warehouse-sql"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse-sql"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join(
                p for p in (root, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_PYTHON": sys.executable,
        }
    )
    tempfile.tempdir = tmp


def _conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)  # must exist before the session
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + log_dir,
            }
        )
    return conf


def _session(conf):
    """Start the session cold and run one warm-up job; returns the
    session, the seconds inside ``get_spark()`` and the seconds to ready."""
    from cryptocoininsights_data_engineer_project_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    n = spark.sparkContext.defaultParallelism
    spark.range(0, 200_000, numPartitions=n).selectExpr("sum(id)").collect()
    return spark, t1 - t0, time.perf_counter() - t0


def _memory_mb(spark) -> tuple[float, float]:
    """(driver JVM peak RSS, driver heap in use after a full GC)."""
    jvm = spark.sparkContext._jvm
    with open(f"/proc/{jvm.java.lang.ProcessHandle.current().pid()}/status") as f:
        hwm = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return hwm / 1024.0, heap.getHeapMemoryUsage().getUsed() / 2**20


def _shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited
    (its Python workers end with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=120)


def measure(args, root: str, work: str) -> tuple[dict, list[str]]:
    from perfbench import layers, trace
    from perfbench.workloads import WORKLOADS, Run, _median, _tail

    # set-up is process start to ready minus input generation: the
    # imports, then a cold session start and one warm-up job
    import cryptocoininsights_data_engineer_project_spark.session  # noqa: F401

    import_s = time.perf_counter() - PROCESS_START
    wl = WORKLOADS[args.workload](args.seed, work)
    t0 = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t0

    spark, get_s, cold = _session(_conf(work, bool(args.trace)))
    setup_s = import_s + cold
    run = Run(spark, args.seconds, tracer=trace.Tracer() if args.trace else None)
    try:
        if run.tracer is not None:
            trace.install(run.tracer)
        try:
            wl.warm(run)
            run.timing = True
            wl.loop(run)
            run.timing = False
            wl.check(run)
            gauges = wl.gauges(run)
        except Exception:
            run.fail(traceback.format_exc(limit=4))
            gauges = {}
        rss, live = _memory_mb(spark)
    finally:
        _shutdown(spark)
        if run.tracer is not None:
            run.tracer.unpatch()

    primary = run.times(wl.primary, timed=True)
    tail, tail_label = _tail(primary)
    timed = [o for o in run.ops if o.timed]
    units = [o for o in timed if o.kind in (wl.first, wl.primary)]
    first = run.times(wl.first)
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": _median(primary),
        "items_per_s": sum(o.items for o in timed) / max(1e-9, sum(o.seconds for o in timed)),
        "first_op_s": sum(first) / max(1, len(first)),
    }
    failed = min(run.attempted, len(run.problems))
    lines = [
        f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds:g} "
        f"trace={args.trace} cores={os.environ['SPARK_GRAFT_CPUS']}",
        f"  inputs generated in {gen_s:.2f} s (outside setup and timing)",
        f"  set-up: imports {import_s:.3f} s, get_spark() {get_s:.3f} s, "
        f"warm-up job {cold - get_s:.3f} s",
    ]
    lines += [f"  {k} {v:.6g} {END_TO_END[k]}" for k, v in e2e.items()]
    lines += [
        f"  op_tail_s {tail:.6g} s ({tail_label} of n={len(primary)} {wl.primary} "
        f"operations; first_op_s is the mean of n={len(first)} {wl.first})",
        f"  peak_rss_mb {rss:.6g} MB (driver JVM VmHWM)",
        f"  live_heap_mb {live:.6g} MB (driver heap in use after a full GC)",
    ]
    lines += [f"  {k} {v:.6g} {unit}" for k, (v, unit) in wl.extra(run).items()]
    lines.append(
        f"  failed_ratio {failed / max(1, run.attempted):.6g} ratio "
        f"({failed} of {run.attempted} operations)"
    )
    lines += [f"  problem: {p}" for p in run.problems]

    if args.trace:
        jobs = trace.read_event_log(os.path.join(work, "eventlog"))
        given = {
            "session.import_s": import_s,
            "session.cold_start_s": cold,
            "session.get_spark_s": get_s,
            "trace.op_p50_s": e2e["op_p50_s"],
            "engine.peak_rss_mb": rss,
            "engine.live_heap_mb": live,
        }
        given.update(gauges)
        metrics = layers.compute(
            run.tracer.spans,
            jobs,
            len(units),
            set(getattr(wl, "decode_queries", ())),
            given,
        )
        units_of = layers.UNITS
        lines += [f"  {k} {v:.6g} {units_of[k]}" for k, v in metrics.items()]
    else:
        metrics, units_of = e2e, END_TO_END
    result = {
        "correct": not run.problems,
        "attempted": max(1, run.attempted),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units_of[k]} for k, v in metrics.items()},
    }
    return result, lines


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not (
        os.path.isdir(os.path.join(root, PACKAGE))
        and os.path.isfile(os.path.join(root, "tests", "oracle_compare.py"))
    ):
        print(
            f"perfbench: {root} has no {PACKAGE}/ and tests/oracle_compare.py; "
            "run it from the repository root",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, root)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        _environment(root, work)
        result, lines = measure(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # still holds another run's directory
            os.rmdir(os.path.dirname(work))
    print("\n".join(lines))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
