"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}.  With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, taken from spans and the
Spark event log of a traced run.  Lines before it are a readable report.
See perfbench/README.md for workloads, metrics and sizes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
# set-ups after the first (JVM launch) one; setup_s is their median
SETUP_RESTARTS = 3


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the smoke test")
    ap.add_argument("--prepare", action="store_true",
                    help="only build the cached inputs and references")
    return ap.parse_args(argv)


def configure_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the package from it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher's included
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        # keep every JIT compiler thread alive, so their CPU can be told apart
        " -XX:-UseDynamicNumberOfCompilerThreads"
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the inputs are small; the default 8g heap only lets peak RSS wander
    os.environ.setdefault("SOURMASH_SPARK_DRIVER_MEM", "1g")


def new_session(work: str, event_dir: str | None):
    from sourmash_spark.session import get_spark

    n = len(os.sched_getaffinity(0))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                # Spark 4 compresses with zstd by default, which Python
                # cannot read without the zstandard module
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + event_dir,
            }
        )
    spark = get_spark(
        "perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """End the session's JVM and wait until it and every other process
    the run started have exited.  PySpark leaves the JVM to notice that
    this process is gone; one still shutting down would run into the
    next run's measurements."""
    from pyspark import SparkContext

    from perfbench.procrss import wait_descendants

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.close()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()  # the JVM exits at the end of its stdin
    wait_descendants()


def start_prepare(args) -> subprocess.Popen | None:
    """Start building the seed's cached inputs in a child process (None
    when they are cached already), so the measured process starts from
    the same state on every seed.  It runs while the JVM launches."""
    from perfbench import inputs

    if inputs.is_ready(inputs.cache_dir(args.workload, args.size, args.seed)):
        return None
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--prepare",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", "1", "--size", args.size,
    ]
    return subprocess.Popen(cmd, stdout=sys.stderr)


def finish_prepare(proc: subprocess.Popen | None) -> None:
    if proc is None:
        return
    try:
        code = proc.wait(timeout=150)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0:
        raise RuntimeError(f"building the inputs failed with exit code {code}")


def host_calibration() -> float:
    import bench  # the repository's frozen suite; its CPU probe

    return bench.host_calibration()


def report_path(args, trace: int) -> str:
    from perfbench import inputs

    return os.path.join(
        inputs.WORK, f"report-{args.workload}-{args.size}-seed{args.seed}-trace{trace}.json"
    )


def run(args, spec: dict, work: str) -> dict:
    from perfbench import eventlog, inputs
    from perfbench.procrss import PeakRss, tree_cpu_seconds
    from perfbench.spans import Tracer, install_layer_spans
    from perfbench.stats import median, summarize
    from perfbench.workloads import WORKLOADS, Ledger

    event_dir = os.path.join(work, "eventlog") if args.trace else None
    cal_before = host_calibration()
    rss = PeakRss().start()
    spark = None
    proc = start_prepare(args)
    try:
        # the first set-up launches the JVM (timed apart from waiting for
        # the inputs); the others restart the context in it
        t0 = time.perf_counter()
        spark = new_session(work, event_dir)
        launch = time.perf_counter() - t0
        finish_prepare(proc)
        wl = WORKLOADS[args.workload](
            inputs.cache_dir(args.workload, args.size, args.seed), work
        )
        t0 = time.perf_counter()
        wl.load(spark)
        launch += time.perf_counter() - t0
        # per restart: wall, process-tree CPU (all, without JIT) and the
        # session start's wall
        setups: list[dict] = []
        for _ in range(SETUP_RESTARTS):
            wl.unload()
            spark.stop()
            t0, (c0, w0) = time.perf_counter(), tree_cpu_seconds()
            spark = new_session(work, event_dir)
            t1 = time.perf_counter()
            wl.load(spark)
            t2, (c2, w2) = time.perf_counter(), tree_cpu_seconds()
            setups.append({"wall": t2 - t0, "cpu": c2 - c0, "work_cpu": w2 - w0,
                           "start": t1 - t0})
        ledger = Ledger()
        # per measured cycle, summed over its operations
        cycles: list[dict] = []

        def one_cycle(tracer, traced):
            before = (ledger.op_wall, ledger.op_cpu, ledger.op_work_cpu)
            with tracer.span("cycle"):
                wl.cycle(spark, tracer, ledger, traced)
            after = (ledger.op_wall, ledger.op_cpu, ledger.op_work_cpu)
            return dict(zip(("wall", "cpu", "work_cpu"),
                            (b - a for a, b in zip(before, after))))

        tracer = Tracer(spark.sparkContext) if args.trace else Tracer()
        if args.trace:
            install_layer_spans(tracer)
        t_start = time.perf_counter()
        try:
            while True:
                cycles.append(one_cycle(tracer, bool(args.trace)))
                if time.perf_counter() - t_start >= args.seconds:
                    break
        finally:
            tracer.uninstall()
        if args.trace:
            wl.after_trace(spark, ledger)
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        if spark is not None:
            spark.stop()
        rss.stop()
        stop_jvm()
    cal_after = host_calibration()

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host_calibration_s": {"before": cal_before, "after": cal_after},
        "setup_launch_s": launch,
        "setup_restart": setups,
        "cycles": cycles,
        "peak_rss_mb": rss.peak_mb,
        "ops": {k: summarize(v) for k, v in ledger.samples.items()},
        "workload_metrics": {
            k: {"unit": u, **summarize(v)} for k, (u, v) in wl.report(ledger).items() if v
        },
        "problems": ledger.problems,
    }
    if args.trace:
        folded = eventlog.fold_dir(event_dir)
        layers = {name: 0.0 for name in (m["name"] for m in spec["per_layer"])}
        layers["session.start_s"] = median([s["start"] for s in setups])
        layers.update(wl.layers(tracer, folded, ledger))
        cyc_groups = set()
        for cyc in tracer.named("cycle"):
            cyc_groups |= tracer.groups(cyc)
        layers["jvm.gc_s"] = eventlog.total(folded, cyc_groups).gc_ms / 1e3 / len(cycles)
        layers["trace.overhead_s"] = tracer.overhead / len(cycles)
        report["per_layer"] = layers
        metrics = {m["name"]: (layers[m["name"]], m["unit"]) for m in spec["per_layer"]}
    else:
        values = {
            "setup_s": median([s["work_cpu"] for s in setups]),
            "cycle_cpu_s": median([c["work_cpu"] for c in cycles]),
        }
        metrics = {m["name"]: (values[m["name"]], m["unit"]) for m in spec["end_to_end"]}
    return {
        "report": report,
        "result": {
            "correct": ledger.failed == 0,
            "attempted": ledger.attempted,
            "failed": ledger.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        },
    }


def print_report(report: dict, metrics: dict) -> None:
    r = report
    print(f"# workload {r['workload']} seed {r['seed']} trace {r['trace']}")
    print(f"# host_calibration_s before {r['host_calibration_s']['before']} "
          f"after {r['host_calibration_s']['after']}")
    print(f"{'peak_rss_mb':<40} {r['peak_rss_mb']:>12.1f} MB")
    for key, label in (("wall", "cycle_s"), ("cpu", "cycle_cpu_with_jit_s")):
        print(f"{label:<40} {statistics.median(c[key] for c in r['cycles']):>12.4f} s")
    print(f"{'setup_launch_s':<40} {r['setup_launch_s']:>12.4f} s")
    for key, label in (("wall", "setup_restart_s"), ("cpu", "setup_cpu_with_jit_s")):
        print(f"{label:<40} {statistics.median(s[key] for s in r['setup_restart']):>12.4f} s")
    for name, s in r["workload_metrics"].items():
        tail = (f"  p{s['tail_p']:g} {s['tail']:.4f}" if "tail" in s
                else "  (too few samples for a tail)")
        print(f"{name:<40} {s['median']:>12.4f} {s['unit']:<6} n={s['n']}{tail}")
    for name, m in metrics.items():
        print(f"{name:<40} {m['value']:>12.4f} {m['unit']}")
    for p in r["problems"]:
        print(f"# FAILED {p}")


def main(argv=None) -> int:
    args = parse(argv)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "sourmash_spark")) or not os.path.exists(spec_path):
        print("perfbench: run from the repository root (needs sourmash_spark/ "
              "and BENCHMARK.json)", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import inputs

    # this process's scratch dir: checkpoints, Spark local dirs, temp files
    work = os.path.join(inputs.WORK, f"{args.workload}-{os.getpid()}")
    configure_env(work)
    try:
        if args.prepare:
            inputs.prepare(args.workload, args.size, args.seed)
            return 0
        out = run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print_report(out["report"], out["result"]["metrics"])
    os.makedirs(inputs.WORK, exist_ok=True)
    with open(report_path(args, args.trace), "w") as f:
        json.dump(out["report"], f, indent=1, default=str)
    print(json.dumps(out["result"]))
    return 0 if out["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
