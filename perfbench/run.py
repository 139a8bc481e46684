"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload archive_batch --seed 1 --seconds 8 --trace 0

Run from the repository root. The engine (``cir_duplicate_detector_spark``)
is imported from the directory above this file; without it the run exits
non-zero before printing a result.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end metrics of BENCHMARK.json, measured with
tracing off. With ``--trace 1`` the run measures the untraced loop first,
then the same loop traced, and the metrics are the per-layer ones; the
span file and a full result file go to ``.perfbench_out/``. The lines
before it print every metric by name with its unit, including those that
only some workloads have.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
DRIVER_HEAP_MB = 3072
# Traced operations per traced loop, at least. Per-layer metrics carry
# no bound, so three (a median that one slow call cannot move) suffice.
TRACED_MIN_OPS = 3


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def driver_heap() -> str:
    """A heap that fits the host: 3 GiB, or a quarter of RAM if less."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return f"{min(DRIVER_HEAP_MB, total_kb // 4096)}m"


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for ln in f:
            if ln.startswith("VmHWM:"):
                return int(ln.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def start_session(work: str, cores: int):
    from cir_duplicate_detector_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", driver_heap())
    confs = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": work,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # get_spark's code-cache flag, plus: no hsperfdata file in /tmp.
        "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize="
        + os.environ.get("SPARK_GRAFT_CODE_CACHE", "2g")
        + f" -XX:-UsePerfData -Djava.io.tmpdir={work}",
        # Keep every job and stage of a run in the status store, where
        # the tracer reads task metrics.
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_confs=confs,
    )
    spark.sparkContext.setLogLevel("ERROR")
    pins = {
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "ui": spark.sparkContext.getConf().get("spark.ui.enabled"),
        "console_progress": spark.sparkContext.getConf().get(
            "spark.ui.showConsoleProgress"
        ),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "spark_version": spark.version,
    }
    return spark, pins


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM the session launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def jvm_gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def run_loop(wl, inp, seconds: float, min_ops: int, traced: bool, release, log) -> dict:
    """Closed loop with one client: run ops until ``seconds`` of loop
    time have passed and at least ``min_ops`` ran. Only the op itself is
    timed."""
    lat, results, failed = [], [], 0
    t_loop = time.perf_counter()
    i = 0
    while True:
        release()
        t0 = time.perf_counter()
        try:
            wl.op(inp, f"{'t' if traced else 'r'}{i}", traced)
            elapsed = time.perf_counter() - t0
            problems, extra = wl.check(inp)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            elapsed, problems, extra = None, ["raised"], {}
        if problems:
            failed += 1
            log(f"# op {i} failed: {problems[:3]}")
        elif elapsed is not None:
            lat.append(elapsed)
            results.append(extra)
        i += 1
        if i >= min_ops and time.perf_counter() - t_loop >= seconds:
            break
    return {
        "latencies": lat,
        "extras": results,
        "attempted": i,
        "failed": failed,
        "wall": time.perf_counter() - t_loop,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))

    import numpy as np

    import cir_duplicate_detector_spark as cds
    import metrics
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    work = str(ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    # Spark, py4j and the engine's temp dirs all stay inside the checkout.
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = work
    # The JVM spark-submit starts to build the driver's command line.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}"
    tempfile.tempdir = work

    def log(msg):
        print(msg, flush=True)

    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    try:
        with tracer.span("session.start", "setup"):
            spark, pins = start_session(work, cores)
        tracer.attach(spark, cores)
        wl = WORKLOADS[args.workload](spark, tracer, work)
        with tracer.span("gen", "setup"):
            inp = wl.generate(np.random.default_rng(args.seed))
        wl.load(inp)
        warm = run_loop(wl, inp, 0, 1, False, lambda: None, log)
        release = lambda: cds.release_cached(spark)  # noqa: E731
        setup_s = time.perf_counter() - PROCESS_START
        log(f"# setup done in {setup_s:.2f} s; measuring {args.seconds:g} s")
        untraced = run_loop(wl, inp, args.seconds, wl.min_ops, False, release, log)
        traced = None
        if args.trace:
            gc0 = jvm_gc_seconds(spark)
            traced = run_loop(wl, inp, args.seconds, TRACED_MIN_OPS, True, release, log)
            traced["gc_s"] = jvm_gc_seconds(spark) - gc0
        peak_rss = vm_hwm_mb(spark._jvm.ProcessHandle.current().pid()) + (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        )
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    sizes = dict(wl.sizes)
    if hasattr(inp, "n_hashes"):
        sizes["hashes"] = inp.n_hashes
    loops = [warm, untraced] + ([traced] if traced else [])
    attempted = sum(lp["attempted"] for lp in loops)
    failed = sum(lp["failed"] for lp in loops)
    e2e = metrics.end_to_end(
        args.workload, setup_s, untraced, attempted, failed, peak_rss
    )
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sizes": sizes,
        "session": pins,
        "end_to_end": e2e,
        "latencies_s": untraced["latencies"],
        "warmup_s": warm["latencies"],
    }
    for name, (value, unit, note) in e2e.items():
        log(f"metric {name} = {value} {unit}{'  # ' + note if note else ''}")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        layers = metrics.per_layer(tracer, traced, untraced)
        report["per_layer"] = layers
        tracer.write(str(out_dir / f"{tag}-spans.jsonl"))
        for name, (value, unit) in layers.items():
            log(f"layer {name} = {value} {unit}")
        chosen = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        chosen = metrics.benchmark_metrics(e2e)
    (out_dir / f"{tag}.json").write_text(json.dumps(report, indent=1, default=str))
    log(f"# session {json.dumps(pins)}; sizes {json.dumps(sizes)}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": chosen,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
