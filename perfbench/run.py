"""Benchmark of dask_geomodeling_spark: seeded inputs, set-up, a measured
window of closed-loop operations through the package's public API,
independent output checks, and one JSON result line.

    python3 perfbench/run.py --workload map_serve --seed 1 --seconds 20

Run it from the root of a checkout.  Everything it writes (input cache,
Spark scratch, results) goes under ``.perfbench_cache/`` there.  Human
readable lines go to standard output first; the last line is the JSON
result: ``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a run whose second half is traced.  See
``perfbench/README.md`` for the metric definitions.
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
import threading
import time
import traceback
from collections import defaultdict

START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
SETUP_CYCLES = 3
LOG4J = """\
rootLogger.level = error
rootLogger.appenderRef.stderr.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n
"""
# request kinds of both workloads; the ones whose result is collected to
# the Spark driver, and the ones whose plans shuffle
KINDS = ("tile", "feature", "zonal", "export", "readback", "dedup")
COLLECTING = ("tile", "feature", "zonal", "readback")
SHUFFLING = ("tile", "zonal", "export", "dedup")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="length of the measured window")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# ------------------------------------------------------------------ host
def calibration_s():
    """A fixed pure-Python CPU loop, min of 3: a machine-speed figure
    recorded beside each result (not a gated metric)."""
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(500_000):
            acc = (acc * 1103515245 + i) % 2147483647
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return best


def nproc():
    return len(os.sched_getaffinity(0))


def tree_peak_rss_mb():
    """Sum of peak resident sizes (VmHWM) of this process and every
    process below it (the Spark JVM and its workers)."""
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open("/proc/{}/stat".format(pid)) as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                parent[int(pid)] = int(fields[1])
            except OSError:
                continue
    tree, frontier = set(), [os.getpid()]
    while frontier:
        pid = frontier.pop()
        tree.add(pid)
        frontier += [c for c, p in parent.items() if p == pid]
    kb = 0
    for pid in tree:
        try:
            with open("/proc/{}/status".format(pid)) as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


# ----------------------------------------------------------------- spark
def prepare_env(run_dir, trace):
    """Point Spark's and Python's scratch space into the run directory
    and, in a traced run, turn on Spark's JSON event log."""
    tmp = os.path.join(run_dir, "tmp")
    conf = os.path.join(run_dir, "conf")
    events = os.path.join(run_dir, "events")
    for d in (tmp, conf, events):
        os.makedirs(d)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_CONF_DIR"] = conf
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    java_opts = "-Djava.io.tmpdir={} -XX:-UsePerfData".format(tmp)
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    lines = ["spark.driver.extraJavaOptions " + java_opts,
             "spark.sql.warehouse.dir file:{}".format(
                 os.path.join(run_dir, "warehouse"))]
    if trace:
        lines += ["spark.eventLog.enabled true",
                  "spark.eventLog.compress false",
                  "spark.eventLog.dir file:{}".format(events)]
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")
    with open(os.path.join(conf, "log4j2.properties"), "w") as f:
        f.write(LOG4J)
    return events


def start_spark(previous):
    """A fresh SparkSession through the package's own configuration;
    stops ``previous`` first (the JVM stays up)."""
    from dask_geomodeling_spark import config
    if previous is not None:
        previous.stop()
        config.set_spark(None)
    return config.get_spark()


def stop_spark(spark):
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()          # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------ the window
def closed_loop(wl, spark, seconds, seed, label):
    """``wl.clients`` threads, each sending its next operation when the
    previous one returns, until ``seconds`` have passed."""
    import numpy as np
    results, lock = [], threading.Lock()
    start = time.perf_counter()
    deadline = start + seconds

    def client(c):
        rng = np.random.default_rng([seed, 100 + c, label])
        step = c
        while True:                     # at least one operation each
            try:
                rec = wl.op(spark, rng, step)
            except Exception as exc:   # a failed request; keep serving
                traceback.print_exc(file=sys.stderr)
                rec = {"error": "{}: {}".format(type(exc).__name__, exc)}
            rec["end"] = time.perf_counter()
            step += 1
            with lock:
                results.append(rec)
            if rec["end"] >= deadline:
                break

    threads = [threading.Thread(target=client, args=(c,))
               for c in range(wl.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = max((r["end"] for r in results), default=start) - start
    return results, wall


def check_all(wl, results):
    """Run the oracle on every completed operation; returns reasons of
    the failed ones."""
    reasons = []
    for rec in results:
        if "error" in rec:
            reasons.append(rec["error"])
            continue
        try:
            err = wl.check(rec.pop("check"))
        except Exception as exc:    # malformed output the oracle rejects
            err = "check raised {}: {}".format(type(exc).__name__, exc)
        if err:
            rec["error"] = err
            reasons.append(err)
        wl.cleanup(rec.get("cleanup", ()))
    return reasons


def layer_metrics(tracer, tracing, events, traced_ok, untraced_ok):
    """Per-layer metrics of the traced half of a traced run."""
    from spans import LAYERS, eventlog_by_group
    ev = eventlog_by_group(events)
    n_ops = max(len(traced_ok), 1)
    selft = tracer.self_times()
    total = defaultdict(float)
    for rid in tracing.requests:
        for layer, s in selft[rid].items():
            total[layer] += s
    bench_wall = sum(s["end"] - s["start"] for s in tracer.spans
                     if s["layer"] == "bench")
    rows = defaultdict(int)
    for s in tracer.spans:
        if s["name"] == "spark.collect":
            rows[s["request"]] += s.get("rows", 0)

    m = {}
    for layer in ("core", "geometry", "raster", "spark"):
        m[layer + ".self_ms"] = (total[layer] / n_ops * 1e3, "ms")
    for layer in LAYERS:
        m[layer + ".self_pct"] = (100.0 * total[layer] / bench_wall, "%")
    m["trace.unattributed_pct"] = (100.0 * total["bench"] / bench_wall, "%")

    per_kind = defaultdict(lambda: defaultdict(float))
    sums = defaultdict(float)
    for rid, (kind, (jobs, tasks, failed)) in tracing.requests.items():
        k = per_kind[kind]
        g = ev.get(rid, {})
        k["n"] += 1
        k["jobs"] += jobs
        k["tasks"] += tasks
        k["result_rows"] += rows[rid]
        for key in ("input_rows", "shuffle_bytes"):
            k[key] += g.get(key, 0)
        sums["jobs"] += jobs
        sums["tasks"] += tasks
        sums["failed"] += max(failed, g.get("failed_tasks", 0))
        for key in ("cpu_s", "gc_s", "input_rows", "shuffle_bytes",
                    "spill_bytes"):
            sums[key] += g.get(key, 0)
    for kind in KINDS:
        k = per_kind[kind]
        n = max(k["n"], 1)
        m["spark.jobs_per_" + kind] = (k["jobs"] / n, "count")
        m["spark.tasks_per_" + kind] = (k["tasks"] / n, "count")
        m["spark.input_rows_per_" + kind] = (k["input_rows"] / n, "count")
        if kind in COLLECTING:
            m["spark.result_rows_per_" + kind] = (k["result_rows"] / n,
                                                  "count")
        if kind in SHUFFLING:
            m["spark.shuffle_bytes_per_" + kind] = (k["shuffle_bytes"] / n,
                                                    "B")
    for kind in ("tile", "feature", "readback"):
        k = per_kind[kind]
        m["spark.input_rows_per_result_row." + kind] = (
            k["input_rows"] / k["result_rows"] if k["result_rows"] else 0.0,
            "count")
    m["spark.jobs_per_op"] = (sums["jobs"] / n_ops, "count")
    m["spark.tasks_per_op"] = (sums["tasks"] / n_ops, "count")
    m["spark.input_rows_per_op"] = (sums["input_rows"] / n_ops, "count")
    m["spark.shuffle_bytes_per_op"] = (sums["shuffle_bytes"] / n_ops, "B")
    m["spark.spill_bytes_per_op"] = (sums["spill_bytes"] / n_ops, "B")
    m["spark.executor_cpu_ms_per_op"] = (sums["cpu_s"] / n_ops * 1e3, "ms")
    m["spark.gc_pct_of_cpu"] = (
        100.0 * sums["gc_s"] / sums["cpu_s"] if sums["cpu_s"] else 0.0, "%")
    m["spark.failed_tasks"] = (sums["failed"], "count")

    def mean_detail(key, per=None):
        vals = [r["detail"].get(key, 0) for r in traced_ok]
        if per is not None:
            den = sum(r["detail"].get(per, 0) for r in traced_ok)
            return sum(vals) / den if den else 0.0
        return statistics.mean(vals) if vals else 0.0
    m["ipyleaflet_plugin.png_bytes"] = (mean_detail("png_bytes"), "B")
    m["sinks.files_written"] = (mean_detail("export_files"), "count")
    m["sinks.bytes_per_cell"] = (
        mean_detail("export_bytes", per="export_cells"), "B")
    m["pipeline.candidate_pairs"] = (mean_detail("candidate_pairs"),
                                     "count")
    m["pipeline.verified_pairs"] = (mean_detail("verified_pairs"), "count")
    if traced_ok and untraced_ok:
        base = statistics.median(r["latency"] for r in untraced_ok)
        traced = statistics.median(r["latency"] for r in traced_ok)
        m["trace.overhead_pct"] = (100.0 * (traced / base - 1.0), "%")
    else:
        m["trace.overhead_pct"] = (0.0, "%")
    m["trace.spans_per_op"] = (len(tracer.spans) / n_ops, "count")
    return m


# ------------------------------------------------------------------- run
def run(args, wl_cls, run_dir):
    import inputs
    host = {"nproc": nproc(), "loadavg": list(os.getloadavg()),
            "calibration_s": calibration_s()}
    events = prepare_env(run_dir, args.trace)
    # the JVM launches while the inputs are generated and loaded
    t_launch = time.perf_counter()
    launched = []
    launcher = threading.Thread(
        target=lambda: launched.append(start_spark(None)))
    launcher.start()
    try:
        t0 = time.perf_counter()
        data = inputs.ensure(CACHE, args.seed, wl_cls.kinds)
        workdir = os.path.join(run_dir, "out")
        os.makedirs(workdir)
        wl = wl_cls(data, args.seed, workdir)
        wl.load_oracle()
        input_s = time.perf_counter() - t0
    finally:
        launcher.join()
    spark = launched[0] if launched else None
    tracer = None
    cycles = []
    try:
        if spark is None:
            raise RuntimeError("the Spark session did not start")
        if args.trace:
            import spans
            tracer = spans.Tracer()
            spans.install(tracer)
            wl.tracing = spans.Tracing(tracer)
        for i in range(SETUP_CYCLES):
            # cycle 0 is the cold start: JVM launch (overlapping the
            # input preparation) and imports; every cycle builds the
            # views and warms each plan shape with small requests, and
            # the later ones first restart the session on the running JVM
            t0 = t_launch if i == 0 else time.perf_counter()
            if i:
                spark = start_spark(spark)
            wl.build_views()
            wl.warm(spark)
            cycles.append(time.perf_counter() - t0)
        if wl.burn_in:
            # one untimed, unchecked full-size operation per client in the
            # measured session
            burn, _ = closed_loop(wl, spark, 0, args.seed, 2)
            for rec in burn:
                wl.cleanup(rec.get("cleanup", ()))

        t_window = time.perf_counter()
        if args.trace:
            half = args.seconds / 2.0
            untraced, wall0 = closed_loop(wl, spark, half, args.seed, 0)
            tracer.enabled = True
            traced, wall1 = closed_loop(wl, spark, half, args.seed, 1)
            tracer.enabled = False
            results, wall = untraced + traced, wall0 + wall1
        else:
            results, wall = closed_loop(wl, spark, args.seconds, args.seed, 0)
        rss = tree_peak_rss_mb()
    finally:
        t_stop = time.perf_counter()
        stop_spark(spark)
    phases = {"window_s": t_stop - t_window,
              "stop_s": time.perf_counter() - t_stop}

    t0 = time.perf_counter()
    reasons = check_all(wl, results)
    phases["check_s"] = time.perf_counter() - t0
    phases["before_launch_s"] = t_launch - START
    # operations that returned (a wrong output still has a latency; the
    # run then reports correct=false)
    done = [r for r in results if "latency" in r]
    if not done:
        raise RuntimeError("no operation returned: {}".format(reasons[:3]))
    if args.trace:
        metrics = layer_metrics(
            tracer, wl.tracing, events,
            [r for r in traced if "latency" in r],
            [r for r in untraced if "latency" in r])
        metrics["process.peak_rss_mb"] = (rss, "MB")
    else:
        metrics = {
            "setup_s": (statistics.median(cycles), "s"),
            "op_p50_ms": (1e3 * statistics.median(
                r["latency"] for r in done), "ms"),
            "ops_per_s": (len(done) / wall, "1/s"),
        }
    detail = wl.details(done, wall)
    detail["failed_share"] = (len(reasons) / len(results), "1")
    detail["peak_rss_mb"] = (rss, "MB")
    report = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "inputs": {
            k: v["sizes"] for k, v in data.items()},
        "input_s": input_s, "setup_cycles_s": cycles,
        "operations": len(results), "failed": len(reasons),
        "failures": reasons[:20],
        "metrics": metrics, "detail": detail, "phases": phases,
        "ops": [{"latency": r["latency"], "parts": r["parts"],
                 "end": r["end"]} for r in done],
    }
    os.makedirs(os.path.join(CACHE, "results"), exist_ok=True)
    stem = os.path.join(CACHE, "results", "{}-seed{}-trace{}-{}".format(
        wl.name, args.seed, args.trace, os.getpid()))
    with open(stem + ".json", "w") as f:
        json.dump(report, f, indent=1, default=str)
    if tracer is not None:
        tracer.dump(stem + "-spans.json")
    return report


def main(argv=None):
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    if not os.path.isfile(os.path.join(ROOT, "dask_geomodeling_spark",
                                       "__init__.py")):
        print("perfbench: package dask_geomodeling_spark not found under "
              "{}; run from the root of a checkout".format(ROOT),
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print("perfbench: unknown workload {!r}; choose from {}".format(
            args.workload, sorted(WORKLOADS)), file=sys.stderr)
        return 2
    os.makedirs(CACHE, exist_ok=True)
    for name in os.listdir(CACHE):      # left behind by killed runs
        pid = name[4:]
        if name.startswith("run-") and pid.isdigit() and \
                not os.path.exists("/proc/" + pid):
            shutil.rmtree(os.path.join(CACHE, name), ignore_errors=True)
    run_dir = os.path.join(CACHE, "run-{}".format(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        report = run(args, WORKLOADS[args.workload], run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    host = report["host"]
    print("host: nproc={} loadavg={} calibration_s={:.4f}".format(
        host["nproc"], " ".join("{:.2f}".format(v) for v in host["loadavg"]),
        host["calibration_s"]))
    print("inputs: {}".format(json.dumps(report["inputs"],
                                         sort_keys=True)))
    print("setup cycles (s): {}".format(
        " ".join("{:.3f}".format(c) for c in report["setup_cycles_s"])))
    for name, (value, unit) in sorted(report["detail"].items()):
        print("detail {:<28} {:>14.4f} {}".format(name, value, unit))
    for name, (value, unit) in report["metrics"].items():
        print("metric {:<40} {:>14.4f} {}".format(name, value, unit))
    for reason in report["failures"]:
        print("failed: {}".format(reason))
    failed = report["failed"]
    print(json.dumps({
        "correct": failed == 0,
        "attempted": report["operations"],
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in report["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
