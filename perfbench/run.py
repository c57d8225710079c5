"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. Inputs are generated from
--seed and cached under .bench_work/inputs/ by (seed, size). --trace 0
measures the end-to-end metrics; --trace 1 is a separate run that wraps the
engine's public functions in spans and reports per-layer metrics instead.
The last line of standard output is the JSON result; the lines before it are
a readable report. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
SIZES = {"default": 8400, "tiny": 1600}  # turns in the corpus

LOG4J = """\
rootLogger.level = error
rootLogger.appenderRef.stderr.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n
"""


def size_to_host() -> dict:
    """Size the engine to the host through the environment `get_spark`
    reads: one executor thread per usable CPU and a JVM heap of a quarter of
    RAM, between 1 and 4 GiB."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_gb = max(1, min(4, mem_kb // (4 * 1024 * 1024)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_gb}g"
    return {"nproc": cpus, "mem_total_gb": round(mem_kb / 1024 / 1024, 1),
            "SPARK_GRAFT_CPUS": cpus, "SPARK_DRIVER_MEM": f"{heap_gb}g"}


def keep_spark_inside(work: str) -> None:
    """Point every file Spark, the JVM and Python workers write into `work`,
    keep the job/stage history the tracer reads, and quiet the logs."""
    conf = os.path.join(work, "conf")
    tmp = os.path.join(work, "tmp")
    for d in (conf, tmp):
        os.makedirs(d, exist_ok=True)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write(
            "spark.ui.showConsoleProgress false\n"
            "spark.ui.retainedJobs 100000\n"
            "spark.ui.retainedStages 100000\n"
            f"spark.sql.warehouse.dir {os.path.join(work, 'warehouse')}\n"
        )
    with open(os.path.join(conf, "log4j2.properties"), "w") as f:
        f.write(LOG4J)
    os.environ.update(
        SPARK_CONF_DIR=conf,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # every JVM, the spark-submit launcher's included: no perf-data files
        # in the system temp dir
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit
    (it exits when its stdin closes; its Python workers follow)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description="lucenenet_spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="default")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "lucenenet_spark", "__init__.py")):
        print(f"no lucenenet_spark package under {ROOT}", file=sys.stderr)
        return 2
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    host = size_to_host()
    keep_spark_inside(WORK)
    from inputs import ensure
    from layers import CONTRACT, Layers
    from lucenenet_spark.session import get_spark
    from workloads import Ctx

    inputs, meta = ensure(WORK, args.seed, SIZES[args.size], host["nproc"])
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_start_s = time.perf_counter() - t0
    try:
        ctx = Ctx(spark=spark, inputs=inputs, meta=meta, run_dir=run_dir,
                  seed=args.seed, seconds=args.seconds, cpus=host["nproc"],
                  session_start_s=session_start_s)
        layers = Layers(ctx) if args.trace else None
        res = WORKLOADS[args.workload](ctx)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
        per_layer = layers.finish(res) if layers else {}
    finally:
        stop_spark(spark)

    print(f"# workload {args.workload} seed {args.seed} seconds {args.seconds:g} "
          f"trace {args.trace} size {args.size} corpus_turns {meta['rows']}")
    print("# host " + " ".join(f"{k}={v}" for k, v in host.items()))
    shown = {**res.metrics, **res.report, "peak_rss_mb": (peak, "MB"),
             "failed_frac": (res.failed / res.attempted, "ratio"),
             "attempted": (res.attempted, "count"), "failed": (res.failed, "count"),
             **per_layer}
    for name, (value, unit) in shown.items():
        print(f"{name} = {value:.6g} {unit}")
    chosen = res.metrics
    if args.trace:  # the contract's per-layer set; the rest is report-only
        chosen = {k: per_layer[k] for k in CONTRACT if k in per_layer}
        traces = os.path.join(WORK, "traces")
        os.makedirs(traces, exist_ok=True)
        layers.tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
