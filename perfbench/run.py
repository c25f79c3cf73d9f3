"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload state_merge --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The process pins its own environment
before Spark starts (cores, driver memory, local and temp dirs inside
``.perfbench_work/``), builds the inputs from ``--seed``, warms up, then
measures a closed loop with one client for ``--seconds`` (and at least the
workload's minimum number of operations).  The last stdout line is
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics.  With ``--trace 1`` the Spark event log is on, a short plain loop
is followed by a traced phase, and the per-layer metrics are printed
instead.  See NOTES.md.
"""

from __future__ import annotations

T_START = __import__("time").perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
SETUP_REPS = 3  # input generations per run; setup_s takes their median


def pin_environment(work: str, trace: bool) -> dict:
    """Environment for the program and its JVM, set before Spark starts.
    A traced run also turns the Spark event log on."""
    cpus = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    # the session default (16g) exceeds small hosts; a small heap also keeps
    # the JVM's resident size from wandering with heap-growth decisions
    mem_mb = min(1024, phys_mb // 4)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false"}
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # the JVM spark-submit starts first to build the driver's command
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": " ".join(
            ["--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")]
            + [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()]
            + ["pyspark-shell"]),
    })
    return {"cpus": cpus, "driver_mem_mb": mem_mb, "load1_before": os.getloadavg()[0]}


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def quantile(xs, q):
    """Inclusive linear-interpolation quantile (q in 0..1)."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def cpu_times():
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def run_loop(w, seconds, min_ops):
    lat, items = [], 0
    t_end = time.perf_counter() + seconds
    i = 0
    while i < min_ops or time.perf_counter() < t_end:
        inp = w.next_input(i)
        t0 = time.perf_counter()
        n = w.op(i, inp)
        lat.append(time.perf_counter() - t0)
        items += n
        i += 1
    return lat, items


def trace_phase(spark, w, args, work, untraced_p50):
    """After the plain loop of a traced run: run the workload's operation
    with each layer forced on its own inside spans, and return the
    per-layer metrics from the spans and the Spark event log."""
    from streamsum_spark.session import get_spark
    from spans import Tracer, event_log_by_group, total
    from workloads import build_caches, materialize

    tr = Tracer(spark)
    metrics = w.trace(tr)
    ops: dict[str, float] = {}
    for s in tr.spans:
        if s["name"] in w.op_spans:
            ops[s["op"]] = ops.get(s["op"], 0.0) + s["end"] - s["start"]
    metrics["trace.overhead_ratio"] = statistics.median(ops.values()) / untraced_p50
    if w.ingest_dir:
        # the same cache build on one core, for ingest.core_scaling
        spark.stop()
        os.environ["SPARK_GRAFT_CPUS"] = "1"
        spark = get_spark("perfbench-trace-1core")
        spark.sparkContext.setLogLevel("ERROR")
        tr.rebind(spark)
        for _ in range(2):  # the first build on a new context is cold
            with tr.span("ingest.local1", "local1"):
                for df in build_caches(spark, w.ingest_dir).values():
                    materialize(df)
        metrics["ingest.core_scaling"] = (tr.durations("ingest.local1")[-1]
                                          / tr.durations("ingest.build")[-1])
    spark.stop()
    tr.dump(os.path.join(WORK_ROOT, f"trace-{w.name}-{args.seed}.json"))
    groups = event_log_by_group(os.path.join(work, "eventlog"))
    metrics.update(w.trace_log(tr, groups))
    ids = [s["id"] for s in tr.spans if s["op"].startswith("op")]
    n_ops = max(1, len({s["op"] for s in tr.spans if s["op"].startswith("op")}))
    t = total(groups, ids)
    metrics.update({"spark.task_s": t["task_s"] / n_ops, "spark.gc_s": t["gc_s"] / n_ops,
                    "spark.shuffle_bytes": t["shuffle_bytes"] / n_ops,
                    "spark.spill_bytes": t["spill_bytes"] / n_ops})
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "streamsum_spark", "__init__.py")):
        print(f"perfbench: no streamsum_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = pin_environment(work, bool(args.trace))
    spark = None
    try:
        from streamsum_spark.session import get_spark
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; known: "
                  f"{sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        jvm_pid = spark.sparkContext._gateway.proc.pid
        t_session = time.perf_counter() - T_START

        w = WORKLOADS[args.workload](spark, work, args.seed)
        gens = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            w.generate(rep)
            gens.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        w.prepare()
        t_prep = time.perf_counter() - t0
        w.warm()
        t_warm = time.perf_counter() - t0 - t_prep
        setup_s = t_session + statistics.median(gens) + t_prep + t_warm

        env["load1_at_loop"] = os.getloadavg()[0]
        cpu0 = cpu_times()
        t0 = time.perf_counter()
        # a traced run's plain loop only gives the reference for the overhead
        lat, items = (run_loop(w, 0, w.trace_ops) if args.trace
                      else run_loop(w, args.seconds, w.min_ops))
        loop_s = time.perf_counter() - t0
        cpu = [b - a for a, b in zip(cpu0, cpu_times())]
        env["cpu_steal_share_in_loop"] = cpu[7] / max(1, sum(cpu))
        failed = w.verify()
        rss_mb = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)
        py_peak = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        info = {"workload": w.name, "why": w.why, "seed": args.seed, "env": env,
                "inputs": w.info, "ops": len(lat), "op_unit": w.unit,
                "op_s": [round(x, 3) for x in lat],
                "loop_s": round(loop_s, 3),
                "setup_parts_s": {"session": round(t_session, 3),
                                  "generate": [round(p, 3) for p in gens],
                                  "prepare": round(t_prep, 3), "warm": round(t_warm, 3)},
                "python_peak_rss_mb": round(py_peak, 1)}
        print("perfbench-info " + json.dumps(info, default=str), flush=True)
        p50 = statistics.median(lat)
        if args.trace:
            from spans import LAYER_METRICS

            traced = trace_phase(spark, w, args, work, p50)
            spark = None
            metrics = {k: traced.get(k, 0) for k, _, _ in LAYER_METRICS}
            units = {k: u for k, u, _ in LAYER_METRICS}
        else:
            metrics = {
                "latency_p50_ms": 1000 * p50,
                "latency_p90_ms": 1000 * quantile(lat, 0.9),
                "throughput_per_s": items / sum(lat),
                "setup_s": setup_s,
                "peak_rss_mb": rss_mb,
            }
            units = {"latency_p50_ms": "ms", "latency_p90_ms": "ms",
                     "throughput_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB"}
        # checks of layers a traced run forces outside the loop count as
        # operations too
        attempted = len(lat) + len(w.trace_checks)
        failed += w.trace_checks.count(False)
        result = {"correct": failed == 0, "attempted": attempted, "failed": int(failed),
                  "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
        print(json.dumps(result), flush=True)
        return 0
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


if __name__ == "__main__":
    sys.exit(main())
