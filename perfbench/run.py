"""Benchmark entry point.

    python3 perfbench/run.py --workload build --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Prints a human-readable report line,
then, as the last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Exits non-zero when an output check fails.  Everything the run writes
goes under ``.perfbench_work/`` (removed at the end) and
``.perfbench_out/`` (report and span files) in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

T0 = time.perf_counter()
# The ops are bound by per-job latency, not by parallel work: on a shared
# 4-vCPU host local[2] ran them as fast as local[4], and the hypervisor
# stole about a seventh of the CPU time from it that it stole from local[4].
MAX_CPUS = 2
# A run lasts about a minute, all of it inside the JIT's warm-up, and C2
# compiles compete with the work for the two CPUs: with C1 only, the
# compiled code settles after the set-up's warm-up.  The heap is fixed
# and touched at start, so peak RSS does not depend on when the JVM
# decided to grow it.
DRIVER_JVM_FLAGS = ["-XX:TieredStopAtLevel=1", "-Xms2g", "-XX:+AlwaysPreTouch"]
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def confine_to_checkout(work):
    """Point every temporary directory of Python, the JVM and Spark into
    ``work``, before any of them starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # every JVM of the run (the launcher and the driver) would otherwise
    # write its perf-counter file under /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"]))
    import tempfile

    tempfile.tempdir = None
    return tmp


def pin_cpus(n):
    """Confine this process and everything it starts (the JVM, the Python
    workers) to at most ``n`` of its CPUs; returns how many it got."""
    cpus = sorted(os.sched_getaffinity(0))[:n]
    os.sched_setaffinity(0, cpus)
    return len(cpus)


def start_session(tmp, nproc, trace):
    from meresco_rdf_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": " ".join(
            ["-Djava.io.tmpdir=%s" % tmp] + DRIVER_JVM_FLAGS),
        "spark.local.dir": tmp,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    if not trace:
        conf["spark.ui.enabled"] = "false"
    else:
        # keep every job, stage and SQL execution of the run for the REST read
        conf.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master="local[%d]" % nproc,
                      shuffle_partitions=nproc, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark):
    """Stop Spark, the JVM and every Python worker, and wait for them."""
    from pyspark import SparkContext

    import rss

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while rss.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in rss.descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def host_steal_s():
    """CPU time the hypervisor took from this machine's vCPUs so far
    (``/proc/stat`` steal column), a measure of neighbours' load."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def details(run):
    """Every measured figure by name: medians with their sample counts,
    the highest percentile with ten samples beyond it, and the samples."""
    import tracer

    out = {"setup": dict(run.setup)}
    for key, values in sorted(run.samples.items()):
        out[key] = {"median": tracer.median(values),
                    "tail": tracer.tail(values),
                    "samples": [round(v, 4) for v in values]}
    return out


def main(argv=None):
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "meresco_rdf_spark")):
        print("run from the root of a checkout that holds meresco_rdf_spark/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import layers
    import rss
    import tracer as tracing
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print("unknown workload %r" % args.workload, file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", "%s-%d" % (args.workload, os.getpid()))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tmp = confine_to_checkout(work)
    nproc = pin_cpus(MAX_CPUS)

    wall = {}  # phase -> seconds since the process started
    steal0, load0 = host_steal_s(), os.getloadavg()[0]

    def mark(phase):
        wall[phase] = time.perf_counter() - T0

    try:
        with rss.PeakRss() as peak:
            spark, session_s = start_session(tmp, nproc, args.trace)
            try:
                tr = tracing.Tracer(spark, traced_run=bool(args.trace))
                run = workloads.WORKLOADS[args.workload](
                    spark, tr, work, args.seed, nproc, session_s)
                mark("session")
                run.set_up()
                mark("set_up")
                run.loop(run.op, args.seconds, bool(args.trace))
                mark("loop")
                run.final_checks()
                mark("final_checks")
                if args.trace:
                    t0 = time.perf_counter()
                    spark_metrics = tr.collect_spark_metrics()
                    metrics = layers.per_layer(run, tr, spark_metrics,
                                               time.perf_counter() - t0)
                    stem = "%s-seed%d" % (args.workload, args.seed)
                    tr.write_spans(os.path.join(out_dir, stem + ".spans.jsonl"))
            finally:
                stop_session(spark)
                mark("stopped")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not args.trace:
        metrics = run.headline(peak.peak_mb)

    report = {"workload": args.workload, "seed": args.seed,
              "nproc": nproc, "failures": run.failures, "wall": wall,
              "host": {"steal_s": host_steal_s() - steal0,
                       "loadavg_1m_at_start": load0},
              "details": details(run)}
    if args.trace:
        report["layers"] = {k: v for k, (v, _) in metrics.items()}
    with open(os.path.join(out_dir, "%s-seed%d-trace%d.json"
                           % (args.workload, args.seed, args.trace)), "w") as fh:
        json.dump(report, fh, indent=1)
    print("report " + json.dumps(report))
    failed = min(len(run.failures), run.attempted)
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {name: {"value": value, "unit": unit}
                    for name, (value, unit) in metrics.items()},
    }))
    return 0 if not run.failures else 1


if __name__ == "__main__":
    sys.exit(main())
