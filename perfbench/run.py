"""One benchmark run: a named workload with a given seed, measured for about
`--seconds`, its outputs checked, its metrics printed.

    python3 perfbench/run.py --workload bm25_lifecycle --seed 1 --seconds 6 --trace 0

Run it from the root of a checkout. The last line of standard output is one
JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``; the per-layer
metrics with ``--trace 1``. The lines before it report the workload's input
properties, its named metrics and the hardware calibration probe.

``--trace 1`` also reports each end-to-end metric as measured under tracing,
and its tracing overhead against the untraced run of the same workload, seed
and window, when one ran earlier in this checkout over the same source (run
``--trace 0`` first). The exit code is 0 only when every correctness check
passed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def load_spec() -> dict:
    """BENCHMARK.json: the metric names, units and the window."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _driver_memory() -> str:
    """A fifth of physical memory, between 2 and 8 GiB."""
    with open("/proc/meminfo") as f:
        kib = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{min(max(kib // (5 << 20), 2), 8)}g"


def start_spark(work: str):
    from pyspark.sql import SparkSession

    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    retained = "1000000"
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # keep the JVM's scratch files (and no hsperfdata) inside the checkout
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        # the traced run reads every job, stage and SQL execution back from
        # the status store; keep all of them
        .config("spark.ui.retainedJobs", retained)
        .config("spark.ui.retainedStages", retained)
        .config("spark.sql.ui.retainedExecutions", retained)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for all of them."""
    from pyspark import SparkContext

    from perfbench.measure import process_tree

    me = os.getpid()
    procs = [p for p in process_tree(me) if p != me]
    gateway = SparkContext._gateway
    jvm_proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if jvm_proc is not None:
        jvm_proc.terminate()
        try:
            jvm_proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            jvm_proc.kill()
            jvm_proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(_alive(p) for p in procs):
        time.sleep(0.1)
    for p in procs:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


def _result_path(args) -> str:
    """Where an untraced run of this workload, seed and window stores its
    result, keyed by the source of the program and the benchmark, for the
    traced run to compare against."""
    h = hashlib.sha256()
    for top in ("pysearch", "perfbench"):
        for dirpath, dirnames, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirnames.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(dirpath, f), "rb") as fh:
                        h.update(f.encode() + fh.read())
    name = f"{args.workload}-{args.seed}-{args.seconds:g}-{h.hexdigest()[:16]}.json"
    return os.path.join(WORK_ROOT, "results", name)


def _stored_untraced(args) -> dict | None:
    """End-to-end metrics of an earlier untraced run of this workload, seed
    and window over the same source, if one ran in this checkout."""
    path = _result_path(args)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)["metrics"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pysearch", "__init__.py")):
        _fail(f"no pysearch package under {ROOT}; run from a checkout of the repository")
    sys.path.insert(0, ROOT)
    try:
        from perfbench import layers
        from perfbench.measure import PeakRss, check_metric_name
        from perfbench.trace import Tracer
        from perfbench.workloads import RUNNERS, Context, input_seed
        from bench import _hw_calibration
    except ImportError as e:
        _fail(f"cannot import the benchmark or the program: {e}")
    try:
        spec = load_spec()
    except (OSError, ValueError) as e:
        _fail(f"cannot read BENCHMARK.json: {e}")
    if args.workload not in RUNNERS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(RUNNERS)}")
    if args.seconds <= 0:
        _fail("--seconds must be positive")

    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the short-lived JVM spark-submit starts to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"

    spark = None
    overhead = None  # traced runs only, when the untraced run is stored
    try:
        spark = start_spark(work)
        tracer = Tracer(spark.sparkContext) if args.trace else None
        if tracer is not None:
            layers.install(tracer, spark)
        ctx = Context(spark=spark, seed=input_seed(args.seed), seconds=args.seconds, work=work, tracer=tracer)
        calibration = [_hw_calibration()]
        with PeakRss() as rss:
            e2e = RUNNERS[args.workload](ctx)
        calibration.append(_hw_calibration())
        # reported, not gated: how many Python workers are alive and how far
        # the JVM heap has grown at the peak vary with timing; over ten seeds
        # the peak of vector_dedup_ops spread 0.41 of its median
        ctx.detail["peak_rss_mb"] = (rss.peak_mb, "MB")

        if tracer is not None:
            tracer.restore()
            census = tracer.harvest(spark)
            values = layers.layer_metrics(tracer, census, ctx.extra)
            untraced = _stored_untraced(args)
            for name in e2e:
                values[f"traced.{name}"] = e2e[name]
            if untraced is not None:
                overhead = {name: e2e[name] / untraced[name]["value"] - 1.0 for name in e2e}
            names = {op.span_id: op.name for op in tracer.ops()}
            low = sorted((c, names[i]) for i, c in tracer.coverage().items() if c < 0.9)
            if low:
                ctx.failures.append(f"trace: spans cover < 90% of operations {low}")
            if census["unattributed_jobs"]:
                ctx.failures.append(f"trace: {census['unattributed_jobs']} jobs ran outside any span")
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        else:
            values = e2e
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics = {check_metric_name(k): {"value": float(values[k]), "unit": units[k]} for k in units}

        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "input_seed": ctx.seed, "inputs": ctx.inputs,
        }))
        print(json.dumps({
            "workload": args.workload,
            "named_metrics": {k: {"value": v, "unit": u} for k, (v, u) in ctx.detail.items()},
            "error_rate": ctx.failed / max(ctx.attempted, 1),
            "hw_calibration_s": calibration,
            "samples_s": ctx.samples,
            "phases_s": ctx.phases,
            "tracing_overhead": overhead,
            "failures": ctx.failures,
        }))
        correct = not ctx.failures and ctx.failed == 0
        result = {"correct": correct, "attempted": ctx.attempted, "failed": ctx.failed, "metrics": metrics}
        if correct and not args.trace:
            path = _result_path(args)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as f:
                json.dump(result, f)
        print(json.dumps(result))
        sys.stdout.flush()
        return 0 if correct else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
