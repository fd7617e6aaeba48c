"""Replication benchmark of tiflow_spark.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload cdc_catchup --seed 1 --seconds 8 --trace 0

One run is one workload in its own fresh Spark JVM. It builds seeded inputs
(``gen``), sets up several times and keeps the median as ``setup_s``, warms,
measures for ``--seconds``, checks every output against the DuckDB oracle
(``oracle``) and prints, as the last line of stdout, one JSON object::

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` is the separate traced run that reports the per-layer metrics
(spans, Spark event log per job group, prefix differencing), with zero for
the layers a workload does not run. It first makes an untraced run of the
same workload and seed in a child process, for the latency tail and the
tracing overhead. ``perfbench/README.md`` lists the metrics and what each
workload exercises.

Everything the run writes stays under ``.perfbench_work/`` in the checkout
(removed at exit) and ``.perfbench_out/`` (span dumps of traced runs).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import workloads as wl
from tracing import Tracer, engine_totals

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3
CHILD_TIMEOUT_S = 90


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _configure_env(work: str, event_log: str | None) -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout;
    use at most 4 cores and a fixed 1 GB driver heap. With the session's
    default (8 GB maximum, resized by the collector) peak RSS of five
    cdc_live seeds spread from 2.0 to 2.9 GB, too wide to bound; a fixed
    heap pins RSS near its size, so ``heap_retained_mb`` is the memory
    figure that moves with the program."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(min(4, os.cpu_count() or 1)))
    heap = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    java = (
        f"-Xms{heap} -Djava.io.tmpdir={tmp} -Dderby.system.home={work} "
        "-XX:-UsePerfData"
    )
    conf = [
        f"--driver-java-options '{java}'",
        f"--conf spark.hadoop.hadoop.tmp.dir={tmp}",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if event_log:
        os.makedirs(event_log)
        conf += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{event_log}",
            "--conf spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf) + " pyspark-shell"


def _retained_heap_mb(spark) -> float:
    """JVM heap in use after full collections: what the run left live. The
    lowest of three readings, each after a collection and a finalizer pass,
    so objects freed only once finalized do not count."""
    jvm = spark.sparkContext._jvm
    memory = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = []
    for _ in range(3):
        jvm.java.lang.System.gc()
        jvm.java.lang.System.runFinalization()
        used.append(memory.getHeapMemoryUsage().getUsed() / 2**20)
    return min(used)


def _stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(30)


def _untraced(args, work: str, seconds: float, cpus: int | None = None) -> dict:
    """An untraced run of the same workload and seed in a child process
    (``cpus`` cores if given): its end-to-end values, with the latency tail
    it writes to the file named by ``PERFBENCH_DETAIL``. With ``seconds``
    0 the child sets up once and times one operation."""
    detail = os.path.join(work, f"untraced-{cpus or 'all'}.json")
    env = dict(os.environ, PERFBENCH_DETAIL=detail)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    if cpus:
        env["SPARK_GRAFT_CPUS"] = str(cpus)
    cmd = [
        sys.executable,
        os.path.join(HERE, "run.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(seconds),
        "--trace", "0",
    ]
    # own process group, so a timeout also ends the child's JVM
    child = subprocess.Popen(
        cmd, env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, start_new_session=True,
    )
    try:
        out, _ = child.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        raise
    if child.returncode != 0:
        raise RuntimeError(f"untraced {args.workload} run exited {child.returncode}")
    values = {
        k: m["value"] for k, m in json.loads(out.strip().splitlines()[-1])["metrics"].items()
    }
    with open(detail) as f:
        values.update(json.load(f))
    return values


def measure(args, root: str, work: str) -> dict:
    sys.path.insert(0, root)
    if args.trace:
        # before this run's own JVM starts: one session at a time
        ref = _untraced(args, work, args.seconds)
        if args.workload == "cdc_catchup":
            one_cpu = _untraced(args, work, 0, cpus=1)  # one timed operation
    event_log = os.path.join(work, "eventlog") if args.trace else None
    _configure_env(work, event_log)
    from tiflow_spark.session import get_spark

    started = time.perf_counter()

    def log(msg: str) -> None:
        el = time.perf_counter() - started
        print(f"# [{el:6.1f}s] {msg}", file=sys.stderr, flush=True)

    workload = wl.WORKLOADS[args.workload]
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    session_s = time.perf_counter() - t0
    try:
        ctx = wl.Ctx(
            spark=spark,
            seed=args.seed,
            seconds=args.seconds,
            tracer=Tracer(spark, enabled=False),
            log=log,
            traced=bool(args.trace),
        )
        # setup_s is the median of several set-ups
        reps = SETUP_REPS if args.seconds else 1
        datagen, fixture, prep = [], [], None
        for k in range(reps):
            if prep is not None:
                shutil.rmtree(prep["dir"], ignore_errors=True)
            prep, dg, fx = workload.prepare(ctx, os.path.join(work, f"prep{k}"))
            datagen.append(dg)
            fixture.append(fx)
        setup_s = session_s + statistics.median(d + f for d, f in zip(datagen, fixture))
        log(f"session {session_s:.2f} s, datagen {datagen}, fixture {fixture}")
        ctx.tracer.enabled = ctx.traced
        outcome = workload.run(ctx, prep)
        log("measured and checked")
        ctx.tracer.enabled = False
        ctx.tracer.unwrap_all()
        heap_mb = _retained_heap_mb(spark)
        rss_mb = _hwm_mb("self")
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        if jvm is not None:
            rss_mb += _hwm_mb(jvm.pid)
    finally:
        _stop_spark(spark)
    log("session stopped")

    lat = outcome.latencies_ms
    samples = outcome.samples or len(lat)
    e2e = {
        "setup_s": (setup_s, "s"),
        "rows_s": (outcome.rows_s, "rows/s"),
        "latency_p50_ms": (statistics.median(lat), "ms"),
        "peak_rss_mb": (rss_mb, "MB"),
        "heap_retained_mb": (heap_mb, "MB"),
    }
    for name, (value, unit) in e2e.items():
        log(f"{args.workload} {name} = {value:.4f} {unit}")
    # too few independent samples (micro-batches, operations) behind a tail
    # percentile for a bounded metric: reported, with its count, per layer
    p99 = wl.percentile(lat, 99)
    log(f"{args.workload} latency_p99_ms = {p99:.4f} ms")
    if os.environ.get("PERFBENCH_DETAIL") and not args.trace:
        with open(os.environ["PERFBENCH_DETAIL"], "w") as f:
            json.dump({"latency.p99_ms": p99, "latency.samples": samples}, f)
    log(
        f"{args.workload} failed_ops_ratio = "
        f"{outcome.failed / outcome.attempted:.4f} "
        f"({outcome.failed}/{outcome.attempted}); latency samples {samples}"
    )
    if args.trace:
        layer = {name: 0.0 for name, _ in wl.PER_LAYER}
        layer.update(ctx.layer)
        layer.update(engine_totals(event_log))
        layer.update(
            {
                "setup.session_ms": session_s * 1e3,
                "setup.datagen_ms": statistics.median(datagen) * 1e3,
                "setup.fixture_ms": statistics.median(fixture) * 1e3,
                "latency.samples": ref["latency.samples"],
                "latency.p99_ms": ref["latency.p99_ms"],
                "trace.overhead_pct": 100.0
                * (statistics.median(lat) / ref["latency_p50_ms"] - 1.0),
            }
        )
        if args.workload == "cdc_catchup":
            layer["catchup.rows_s_1cpu"] = one_cpu["rows_s"]
            layer["catchup.cpu_scaling"] = ref["rows_s"] / one_cpu["rows_s"]
        ctx.tracer.dump(
            os.path.join(root, ".perfbench_out", f"{args.workload}-{args.seed}-spans.json")
        )
        units = dict(wl.PER_LAYER)
        metrics = {
            k: {"value": float(layer[k]), "unit": units[k]} for k, _ in wl.PER_LAYER
        }
    else:
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in e2e.items()}
    return {
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": metrics,
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument(
        "--workload",
        required=True,
        choices=sorted(wl.WORKLOADS),
    )
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "tiflow_spark", "__init__.py")):
        print(
            "perfbench: run from the repository root (tiflow_spark/ not found)",
            file=sys.stderr,
        )
        return 2
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = measure(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
