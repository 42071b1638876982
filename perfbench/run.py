"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One process runs one workload in one
Spark session built by ``bfokg.session.get_spark`` with its defaults on
``local[$(nproc)]``: inputs are generated (or reused) for the seed, the
session and per-session objects are built, the workload's warm-up
operations run and are discarded, then whole rounds of operations run
until their summed wall time reaches ``--seconds``. Every output is checked
(see ``checks.py``) in a child process, forked before the session starts. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``, see
``spans.py``).

Everything the run writes stays under ``.perfbench_work/`` in the
checkout: inputs (cached per seed and size), Spark local and temp dirs,
warehouse outputs (deleted after each check), event logs, trace dumps
and ``runs.jsonl`` (one record per run, with the load average).
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# driver heap through the program's own knob; the default (8g) lets the
# JVM grow past half of a 16 GB box
DRIVER_MEM = "4g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def environment() -> None:
    """Point every writer (Spark, the JVM, Python tempfiles, bfokg's data
    root) into the work dir, and make ``bfokg`` importable by the Python
    workers Spark starts."""
    dirs = {k: os.path.join(WORK, k) for k in ("tmp", "spark-local", "data")}
    for d in ("tmp", "spark-local", "out", "eventlog"):  # an earlier run's scratch
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "TMPDIR": dirs["tmp"],
        "BFOKG_DATA_ROOT": dirs["data"],
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell",
    })
    sys.path[:0] = [ROOT, HERE]


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def live_heap_mb(spark) -> float:
    """JVM heap still in use after a full collection: what the session
    keeps once the workload is done. Spark's ContextCleaner frees
    broadcast and shuffle blocks only after a collection has found their
    owners unreachable, so a second collection follows a pause for it.
    Read from each heap pool's usage as of the end of that collection, so
    allocation after it (heartbeats, listeners) does not count."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    time.sleep(2)
    jvm.java.lang.System.gc()
    used = 0
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        after_gc = pool.getCollectionUsage()
        if str(pool.getType()) == "Heap memory" and after_gc is not None:
            used += after_gc.getUsed()
    return used / 2**20


def stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "bfokg", "__init__.py")):
        print(f"perfbench: no bfokg package under {ROOT}", file=sys.stderr)
        return 2
    environment()
    from workloads import WORKLOADS, Checker

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    checker = Checker()
    wl = WORKLOADS[args.workload](WORK, args.seed, checker)
    t = time.perf_counter()
    wl.prepare()
    inputs_s = time.perf_counter() - t
    load_before = os.getloadavg()

    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer(WORK)
        tracer.install()
        wl.span = tracer.span

    from bfokg.session import get_spark

    t = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}",
                      extra_conf=tracer.conf if tracer else None)
    session_s = time.perf_counter() - t
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    if tracer:
        tracer.attach(spark)
    t = time.perf_counter()
    wl.setup(spark)
    objects_s = time.perf_counter() - t

    def run_op(i, traced=False):
        """(wall time of operation i, time its check took)"""
        if tracer:
            tracer.active = traced
        t0 = time.perf_counter()
        if traced:
            with tracer.operation():
                result = wl.op(i)
        else:
            result = wl.op(i)
        wall = time.perf_counter() - t0
        if tracer:
            tracer.active = False
        wl.check(i, result)
        return wall, time.perf_counter() - t0 - wall

    warm = [run_op(i) for i in range(wl.warmup)]
    # the warm-up operations' checks are the benchmark's work, not set-up
    setup_s = time.perf_counter() - T_START - inputs_s - sum(c for _w, c in warm)

    walls, failed, spent, i = [], 0, 0.0, wl.warmup
    while spent < args.seconds:
        for _ in range(wl.round_ops):
            t0 = time.perf_counter()
            try:
                walls.append(run_op(i, traced=bool(tracer))[0])
            except Exception as exc:  # counted, reported, and the run goes on
                failed += 1
                print(f"perfbench: operation {i} failed: {exc!r}", file=sys.stderr)
            spent += time.perf_counter() - t0
            i += 1
    attempted = i - wl.warmup
    # before finish(), whose batch re-classification is the check's work
    driver_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    persisted = len(spark.sparkContext._jsc.getPersistentRDDs())
    t = time.perf_counter()
    wl.finish()
    finish_s = time.perf_counter() - t
    jvm_rss = peak_rss_mb(jvm_pid)
    jvm_live_mb = live_heap_mb(spark)
    stop(spark)
    checker.close()

    if tracer:
        metrics = tracer.metrics()
        metrics.update({
            "session.start_s": session_s,
            "setup.objects_s": objects_s,
            "strategies.rule_accept_ratio": wl.rule_share,
            "api.persisted_frames_left": persisted,
            "warehouse.files_written": wl.out_files,
            "warehouse.bytes_written_mb": wl.out_bytes / 2**20,
            "jvm.peak_rss_mb": jvm_rss,
            "trace.op_wall_s": statistics.median(walls) if walls else 0.0,
        })
        tracer.dump(os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json"))
        units = {"count": ("spark.jobs", "spark.stages", "spark.tasks",
                           "api.persisted_frames_left", "warehouse.files_written"),
                 "MB": ("spark.shuffle_read_mb", "spark.shuffle_write_mb",
                        "spark.spill_mb", "warehouse.bytes_written_mb", "jvm.peak_rss_mb"),
                 "ratio": ("strategies.rule_accept_ratio",)}
        unit_of = {m: u for u, ms in units.items() for m in ms}
        out = {k: {"value": float(v), "unit": unit_of.get(k, "s")}
               for k, v in sorted(metrics.items())}
    else:
        rows = wl.rows_per_op * len(walls)
        out = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "rows_per_s": {"value": rows / sum(walls) if walls else 0.0, "unit": "1/s"},
            "latency_p50_s": {"value": statistics.median(walls) if walls else 0.0, "unit": "s"},
            "output_mb": {"value": wl.out_bytes / 2**20, "unit": "MB"},
            "driver_peak_rss_mb": {"value": driver_rss, "unit": "MB"},
            "jvm_live_heap_mb": {"value": jvm_live_mb, "unit": "MB"},
        }
    for e in wl.errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "walls": walls, "warmup_walls": [w for w, _c in warm], "inputs_s": inputs_s,
              "session_s": session_s, "objects_s": objects_s, "finish_s": finish_s,
              "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
              "nproc": nproc(), "run_s": time.perf_counter() - T_START,
              "errors": wl.errors, "metrics": out}
    with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({"correct": not wl.errors, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
