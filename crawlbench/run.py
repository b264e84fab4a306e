"""Crawl + query benchmark for boris_spark.

    python3 crawlbench/run.py --workload crawl_bulk --seed 1 --seconds 1 --trace 0

Run from the repository root. Workloads (see ``workloads.py``):
``crawl_bulk`` and ``gate_queries``; timed operations repeat until they
add up to ``--seconds``. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports the
end-to-end metrics of ``BENCHMARK.json`` and ``--trace 1`` turns on the
Spark event log and the layer timers and reports its per-layer metrics
instead. The line before it is the run record: seed, nproc, source commit,
the host-speed probe before and after timing, and the raw per-operation
numbers behind the metrics.

Spark runs at ``local[nproc]`` with the driver heap sized to the host and
every ``BORIS_*`` switch cleared, so the shipped defaults are measured. All
files go under ``.crawlbench_work/`` in the root and are deleted on exit.
Every process the run starts (the JVM, its Python workers, the probe's
pool and resource tracker) has ended before it exits, on every path out.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def driver_mem() -> str:
    """A quarter of the host's memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{max(1, min(4, kb // (4 << 20)))}g"


def configure_env(work: str) -> None:
    for k in [k for k in os.environ if k.startswith("BORIS_")]:
        del os.environ[k]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = driver_mem()
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    # Python workers import the program and the benchmark's own modules
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, ROOT)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit
    (the gateway JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(args, work: str):
    """Set up, time and check one workload; returns (run record, metrics,
    workload)."""
    from layers import EVENT_LOG_CONF, kernel_layers, spark_layers
    from measure import median, probe_pages_per_s, source_id, tree_peak_rss_mb
    from workloads import WORKLOADS

    cores = os.cpu_count() or 1
    record = {
        "workload": args.workload, "seed": args.seed, "nproc": cores,
        "trace": args.trace, "source": source_id(ROOT),
        "driver_mem": os.environ["SPARK_DRIVER_MEM"],
    }
    t = time.time()
    record["probe_before_pages_per_s"] = probe_pages_per_s(cores)
    probe_s = time.time() - t

    extra = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        extra.update(EVENT_LOG_CONF, **{"spark.eventLog.dir": log_dir})

    from boris_spark.engine.session import get_spark

    wl = spark = None
    layer: dict = {}
    try:
        spark = get_spark(f"crawlbench-{args.workload}", cores=cores, extra=extra)
        wl = WORKLOADS[args.workload](spark, args.seed, work, bool(args.trace))
        t_session = time.time()
        # input set-up is repeated and its median taken; the JVM start and
        # the warm-up operation happen once per process
        prep = []
        for _ in range(3):
            t = time.time()
            wl.prepare()
            prep.append(time.time() - t)
        t = time.time()
        wl.warm_up()
        record["setup_parts_s"] = [t_session - T_START - probe_s, median(prep), time.time() - t]

        timed = 0.0
        while timed < args.seconds:
            wl.step()
            timed += wl.windows[-1][1] - wl.windows[-1][0]
        # the driver and the Python workers are all the tree but the JVM
        peaks = tree_peak_rss_mb(os.getpid())
        record["peak_rss_by_process_mb"] = peaks
        jvm_mb = sum(peaks.get("java", []))
        metrics = dict(
            wl.metrics(), setup_s=sum(record["setup_parts_s"]),
            py_peak_rss_mb=sum(map(sum, peaks.values())) - jvm_mb,
        )
        if args.trace:
            layer = wl.layers()
            layer["memory.jvm_peak_rss_mb"] = jvm_mb
        stop_spark(spark)
        spark = None
    finally:
        if spark is not None:
            stop_spark(spark)
    record["probe_after_pages_per_s"] = probe_pages_per_s(cores)
    record["op_walls_s"] = [hi - lo for lo, hi in wl.windows]
    record["cpu_s"] = wl.cpu_s
    record["step_walls_s"] = wl.step_walls
    if not args.trace:
        return record, metrics, wl

    # event-log totals become means per timed operation (one crawl, or one
    # pass over the queries); the skew is a ratio and stays as it is
    n_ops = len(wl.windows)
    sl = spark_layers(log_dir, wl.windows, cores)
    skew = sl.pop("spark.task_skew")
    layer.update({k: v / n_ops for k, v in sl.items()}, **{"spark.task_skew": skew})
    gap, covered = layer.pop("window.driver_gap_s"), layer.pop("window.job_covered_s")
    if "crawler.rounds" in layer:
        layer["crawler.driver_gap_s"] = gap
        layer["crawler.job_covered_s"] = covered
        layer["crawler.jobs_per_round"] = layer["spark.jobs"] / max(1e-9, layer["crawler.rounds"])
    layer.update(kernel_layers(layer.pop("_pages")))
    layer["traced.work_per_s"] = metrics["work_per_s"]
    layer["traced.cpu_ms_per_item"] = metrics["cpu_ms_per_item"]
    layer["host.probe_before_pages_per_s"] = record["probe_before_pages_per_s"]
    layer["host.probe_after_pages_per_s"] = record["probe_after_pages_per_s"]
    return record, layer, wl


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "boris_spark")):
        print(f"error: no boris_spark package under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    from measure import become_subreaper, reap_descendants, stop_resource_tracker

    become_subreaper()
    work = os.path.join(ROOT, ".crawlbench_work", str(os.getpid()))
    os.makedirs(work)
    try:
        configure_env(work)
        record, values, wl = run(args, work)
    finally:
        stop_resource_tracker()
        killed = reap_descendants()
        if killed:
            print(f"warning: signalled leftover processes {killed}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    unknown = set(values) - {m["name"] for m in wanted}
    if unknown:
        print(f"error: metrics missing from BENCHMARK.json: {sorted(unknown)}", file=sys.stderr)
        return 3
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    print(json.dumps({"record": record, "failures": wl.failures}))
    print(json.dumps({
        "correct": not wl.failures,
        "attempted": wl.attempted,
        "failed": len(wl.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
