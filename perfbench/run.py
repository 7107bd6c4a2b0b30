"""Seeded end-to-end benchmark of the pages -> elevation pipeline.

    python3 perfbench/run.py --workload crawl_pages --seed 1 --seconds 10 --trace 0

Runs one workload (see ``workloads.py`` and BENCHMARK.json) in a single
process on ``local[<cores>]`` and prints, as the last stdout line, one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  Inputs come from ``gen.py`` (cached, untimed); every
output row is checked against ``oracle.py`` on one untimed pass.

A run writes only under ``perfbench/_cache``, ``_work`` and ``_out``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3      # set-ups per run; setup_s is their median
WARMUP = 4      # untimed passes after the cold one, before the timed window
MIN_WARM = 5    # timed warm passes per run at least, whatever --seconds is


def _session_conf(work: str) -> dict:
    """Same in traced and untraced runs: quiet console, the status store
    unpruned, the warehouse inside the run's work directory, and the driver
    heap starting at 4 GB.  From G1's small default start, how far the heap
    grew differed from run to run, and with it GC work: warm-pass times
    moved by up to a third between runs on identical inputs."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": "-Xms4g",
    }


def _setup(work: str, tiles_path: str):
    """get_spark() then the tile table read and cached: (spark, tiles,
    session seconds, tile-load seconds)."""
    from elevation_service_spark.session import get_spark
    from elevation_service_spark.sources.tiles import read_tiles
    t0 = time.perf_counter()
    spark = get_spark(app="perfbench", cpus=len(os.sched_getaffinity(0)),
                      extra_conf=_session_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    tiles = read_tiles(spark, tiles_path).cache()
    tiles.count()
    return spark, tiles, t1 - t0, time.perf_counter() - t1


def _jvm_pid() -> int | None:
    import probe
    from pyspark import SparkContext
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return None
    for pid in [proc.pid] + probe.descendants(proc.pid):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def _shutdown(spark) -> None:
    """Stop Spark, end the gateway JVM, and wait for every process the run
    started (the JVM and its Python workers) to exit."""
    import probe
    from pyspark import SparkContext
    jvm = _jvm_pid()
    workers = [] if jvm is None else probe.memory(jvm)["py_pids"]
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = gw.proc
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _context(spark) -> dict:
    """Recorded with every run as context only; never gates anything."""
    jvm = spark.sparkContext._jvm
    gcs = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": os.getloadavg(),
            "spark": spark.version, "python": platform.python_version(),
            "java": jvm.System.getProperty("java.version"),
            "jvm_gc_s": sum(b.getCollectionTime() for b in gcs) / 1e3}


def _median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def run(args) -> dict:
    import probe
    if not os.path.isdir(os.path.join(ROOT, "elevation_service_spark")):
        raise SystemExit("perfbench: elevation_service_spark/ not found next to perfbench/")
    sys.path.insert(0, ROOT)
    import gen
    import layers
    import workloads

    t0 = time.perf_counter()
    paths = gen.ensure_inputs(args.workload, args.seed, args.scale, side=bool(args.trace))
    gen_s = time.perf_counter() - t0

    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}-{int(time.time())}"
    work = os.path.join(HERE, "_work", run_id)
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # every JVM spark-submit starts (launcher and driver): temp files in the
    # work directory, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tempfile.tempdir} "
                                       "-XX:-UsePerfData")

    spark = None
    try:
        spark, tiles, sess_s, tiles_s = _setup(work, paths["tiles"])
        cold_setup_s = probe.process_age_s() - gen_s
        setups = [(cold_setup_s, sess_s, tiles_s)]
        wl = workloads.WORKLOADS[args.workload](spark, tiles, paths, work)
        tracer = probe.Tracer(run_id, enabled=bool(args.trace))
        counters = probe.SparkCounters(spark) if args.trace else None
        lp = layers.LayerProbes(wl, args.seed) if args.trace else None
        if lp:
            lp.materialize_points()
            lp.lookup_cache()

        pass_counters = []

        def timed_pass(i: int, traced: bool) -> float:
            wl.counters = counters if traced else None
            tr = tracer if traced else probe.NO_TRACE
            mark = counters.mark() if traced else None
            t = time.perf_counter()
            with tr.span("pass"):
                wl.run_pass(tr, i)
            dt = time.perf_counter() - t
            if traced:
                pass_counters.append(counters.delta(mark))
            wl.counters = None
            return dt

        first_pass_s = timed_pass(0, bool(args.trace))
        t = time.perf_counter()
        with tracer.span("verify"):
            attempted, failed, n_points = wl.verify()
        wl.end_pass(0)
        verify_s = time.perf_counter() - t
        # untimed warm-up: pass times fall by a fifth over the first few
        # passes as the JVM's JIT and the workers' caches settle
        for i in range(1, WARMUP + 1):
            timed_pass(i, False)
            wl.end_pass(i)
        i = WARMUP + 1
        # warm passes; a traced run alternates traced and untraced passes so
        # the untraced ones give the overhead baseline
        warm = {True: [], False: []}
        window = time.perf_counter()
        while (time.perf_counter() - window < args.seconds
               or min(len(warm[False]), len(warm[bool(args.trace)])) < MIN_WARM):
            traced = bool(args.trace) and i % 2 == 1
            warm[traced].append(timed_pass(i, traced))
            wl.end_pass(i)
            i += 1

        if lp:
            lp.lookup_busy()
            lp.sink()
            lp.extract()
            lp.geojson()
            lp.kernels()
        context = _context(spark)
        mem = probe.memory(_jvm_pid())
        # further set-ups restart the session in the running JVM
        for _ in range(SETUPS - 1):
            spark.stop()
            t = time.perf_counter()
            spark, tiles, sess_s, tiles_s = _setup(work, paths["tiles"])
            setups.append((time.perf_counter() - t, sess_s, tiles_s))
        t = time.perf_counter()
        _shutdown(spark)
        spark = None
        shutdown_s = time.perf_counter() - t
    finally:
        if spark is not None:  # a failed run still ends the JVM and workers
            _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    pps = [n_points / s for s in warm[False]]
    context.update(workload=args.workload, seed=args.seed, warm_passes=len(pps),
                   first_pass_s=first_pass_s, pass_s=warm[False], gen_s=gen_s,
                   setups_s=[s[0] for s in setups], verify_s=verify_s,
                   shutdown_s=shutdown_s, attempted=attempted, failed=failed,
                   jvm_hwm_mb=mem["jvm_mb"], pyworker_hwm_mb=mem["py_mb"],
                   pyworkers=len(mem["py_pids"]))
    print("# context " + json.dumps(context), flush=True)
    if not args.trace:
        metrics = {
            "setup_s": (_median(s[0] for s in setups), "s"),
            "first_pass_s": (first_pass_s, "s"),
            "points_per_s": (statistics.median(pps), "1/s"),
            "worker_peak_rss_mb": (mem["py_mb"], "MB"),
            "ok_frac": (1.0 - failed / attempted, "frac"),
        }
    else:
        traced_pps = [n_points / s for s in warm[True]]
        warm_counters = pass_counters[1:]
        m = dict(lp.metrics)
        m["session.start_s"] = _median(s[1] for s in setups)
        m["tiles.load_s"] = _median(s[2] for s in setups)
        m["setup.cold_s"] = cold_setup_s
        calls = wl.calls[1:]  # warm traced passes
        m["lookup.call_s"] = _median(c[0] for c in calls)
        m["lookup.call_jobs"] = _median(c[1] for c in calls)
        for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                  "jvm_gc_s", "shuffle_write_bytes", "shuffle_read_bytes", "task_skew"):
            m[f"spark.{k}"] = _median(c[k] for c in warm_counters)
        m["mem.jvm_hwm_mb"] = mem["jvm_mb"]
        m["mem.pyworker_hwm_mb"] = mem["py_mb"]
        m["trace.overhead_frac"] = 1.0 - statistics.median(traced_pps) / statistics.median(pps)
        tracer.write(os.path.join(HERE, "_out", f"spans-{run_id}.json"))
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            units = {e["name"]: e["unit"] for e in json.load(f)["per_layer"]}
        for k in units.keys() - m.keys():
            probe.warn(f"per-layer metric {k} was not measured")
        metrics = {k: (m.get(k), u) for k, u in units.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("crawl_pages", "hot_tile_cogroup", "geojson_docs"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the self-test runs tiny sizes)")
    result = run(ap.parse_args(argv))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
