"""keystream benchmark: one seeded run of one workload.

Usage (from the repository root)::

    python3 perfbench/run.py --workload cdc_queue --seed 1 --seconds 10 --trace 0

Workloads: ``cdc_queue``, ``cdc_mv``, ``corpus_ingest`` (see
``workloads.py`` and ``NOTES.md``).  The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  Progress and check results go to standard
error.  Every file the run writes lives under ``.perfbench_work/`` in
the working directory and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = "sample_keyspaces_cdc_streams_connectors_spark"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def set_env(root: str, work: str, ncpu: int) -> None:
    """Point Spark, its Python workers and every temp file at the work
    dir, and put the engine package and the benchmark modules on the
    workers' path (``queue_sink`` imports both inside
    ``foreachPartition``)."""
    paths = [root, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    for p in (root, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM, the launcher's included: temp files in the work dir,
    # no perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def start_spark(work: str, ncpu: int):
    from pyspark.sql import SparkSession

    from sample_keyspaces_cdc_streams_connectors_spark.session import tune

    spark = (
        SparkSession.builder.appName("perfbench")
        .master(f"local[{ncpu}]")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(ncpu))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # a fixed heap size: how often the collector runs does not depend
        # on when it chose to grow the heap
        .config("spark.driver.extraJavaOptions", f"-Xms2g -Dderby.system.home={work}")
        .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return tune(spark, ncpu)


def stop_spark(spark) -> None:
    """Stop the session, the gateway JVM and every process it forked,
    and wait until each has ended."""
    from workloads import RssSampler

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = RssSampler(proc.pid).tree() if proc is not None else []
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is None:
        return
    try:
        proc.stdin.close()
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001
        proc.kill()
        proc.wait()
    deadline = time.time() + 10
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def main(argv) -> int:
    t_run = time.time()
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")):
        print(f"perfbench: no {PKG} package under {root}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import selfcheck
    import stats
    import workloads as wl

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(wl.WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", args.workload)
    wl.clean(work)
    os.makedirs(work)
    ncpu = len(os.sched_getaffinity(0))
    set_env(root, work, ncpu)

    run = wl.Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    # the metric math is checked on synthetic inputs in every run
    bad = selfcheck.run_all()
    run.check("metric math self-check", not bad, ", ".join(bad))

    workload_cls = wl.WORKLOADS[args.workload]
    spark = None
    try:
        # the generator writes the backlog while the session starts; the
        # warm-up begins once both are done
        workload = workload_cls(run)
        t0 = time.perf_counter()
        with ThreadPoolExecutor(1) as pool:
            inputs = pool.submit(workload.prepare)
            spark = workload.spark = start_spark(work, ncpu)
            session_s = time.perf_counter() - t0
            inputs.result()
        wl.log(f"session {session_s:.2f}s, inputs written after {time.perf_counter() - t0:.2f}s")
        sampler = wl.RssSampler(spark.sparkContext._gateway.proc.pid, spark._jvm)
        sampler.start()
        # set-up runs once, not as the median of several reps: each rep
        # costs a session start or a fresh warm query, which the time
        # budget of a full measurement lacks
        t0 = time.perf_counter()
        workload.warm_up()
        warm_s = time.perf_counter() - t0
        wl.log(f"warm-up {warm_s:.2f}s")
        run.metric("setup_s", session_s + warm_s)
        run.layer("session.start_s", session_s)
        t0 = time.perf_counter()
        workload.measure()
        wl.log(f"measured in {time.perf_counter() - t0:.2f}s")
        sampler.stop()
        run.metric("peak_rss_mb", stats.peak_rss_mb(sampler.samples))
        run.layer("session.jvm_gc_ms", wl.jvm_gc_ms(spark))
    finally:
        t0 = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        wl.clean(work)
        wl.log(f"stopped in {time.perf_counter() - t0:.2f}s")
    wl.log(f"run took {time.time() - t_run:.2f}s, "
           f"failed_ratio {stats.failed_ratio(run.failed, max(1, run.attempted)):.6f}")
    print(json.dumps(run.result()))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
