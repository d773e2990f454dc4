"""Transit benchmark: batch query latency and stream backfill throughput
of ``ue_big_data_project_spark``.

Run from the root of a checkout:

    python3 perfbench/run.py --workload batch_transit --seed 1 --seconds 23 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics
with ``--trace 1``. The line before it records the machine, Spark version
and seed. See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("batch_transit", "stream_backfill")
SETUP_REPEATS = 3
DRIVER_MEM = "2g"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None, help="local[N] threads (default: all cores)")
    return ap.parse_args(argv)


def declared_metrics(mode: str, root: str = ROOT) -> dict[str, str]:
    """``{name: unit}`` for ``end_to_end`` or ``per_layer``."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[mode]}


def select_metrics(computed: dict, mode: str, root: str = ROOT) -> dict:
    """Every metric ``mode`` declares, with its unit.

    A computed metric that ``BENCHMARK.json`` does not declare is an
    error; a declared per-layer metric of a layer the workload does not
    use reads 0.
    """
    everything = declared_metrics("end_to_end", root) | declared_metrics("per_layer", root)
    unknown = sorted(set(computed) - set(everything) - {"attempted", "failed"})
    if unknown:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {unknown}")
    return {n: {"value": float(computed.get(n, 0.0)), "unit": u} for n, u in declared_metrics(mode, root).items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ue_big_data_project_spark", "__init__.py")):
        print("perfbench: run from the repository root (ue_big_data_project_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import procs

    cores = args.cores or os.cpu_count() or 1
    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": os.path.join(work, "tmp"),
            # Keeps the JVMs from writing /tmp/hsperfdata_<user>.
            "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        }
    )
    import tempfile

    tempfile.tempdir = os.path.join(work, "tmp")
    procs.adopt_orphans()
    procs.exit_on_sigterm()
    try:
        return run(args, cores, work, out_dir)
    finally:
        # The JVM and its workers end before the run does, on every path.
        procs.stop_jvm()
        procs.reap_children()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def run(args, cores: int, work: str, out_dir: str) -> int:
    phase = {"start": time.perf_counter()}
    import pyspark

    import sparkstats
    from tracing import Tracer

    from ue_big_data_project_spark.session import get_spark

    tracer = Tracer(bool(args.trace))
    if args.workload == "batch_transit":
        from batch import BatchTransit

        wl = BatchTransit(os.path.join(work, "feeds"), args.seed, tracer)
    else:
        from stream import StreamWorkload

        wl = StreamWorkload(work, args.seed, tracer)

    # Set-up, repeated: the first round also launches the JVM; set-up time
    # is the median of the later rounds (get_spark + the untimed warm pass),
    # a restart on a running JVM; the launch is session.jvm_launch_s. Shuffle
    # partitions follow the local[N] thread count: at the session default
    # of 32, every micro-batch of the three concurrent streams commits 128
    # RocksDB stores on N cores and takes 5-15 s, too few batches per run.
    extra = {
        # A fixed-size heap: peak RSS then follows what the program touches,
        # not when the JVM decided to grow its heap.
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    phase["inputs_s"] = time.perf_counter() - phase.pop("start")
    enabled, tracer.enabled = tracer.enabled, False
    get_s, warm_s = [], []
    spark = None
    t_setup = time.perf_counter()
    try:
        for _ in range(SETUP_REPEATS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark(app_name="perfbench", shuffle_partitions=cores, extra_conf=extra)
            t1 = time.perf_counter()
            wl.warm(spark)
            get_s.append(t1 - t0)
            warm_s.append(time.perf_counter() - t1)
        tracer.enabled = enabled
        setup = [g + w for g, w in zip(get_s, warm_s)][1:]
        pid = sparkstats.jvm_pid(spark)
        gc0, cpu0 = sparkstats.jvm_gc_s(spark), time.process_time()
        # Peak RSS covers the measured window only: inputs, set-up and the
        # checks after the window are the benchmark's, not the program's.
        sparkstats.reset_peak_rss(pid)
        t_measure = time.perf_counter()
        phase["setup_total_s"] = t_measure - t_setup
        res = wl.measure(spark, args.seconds)
        gc1, cpu1 = sparkstats.jvm_gc_s(spark), time.process_time()
        peak_rss = sparkstats.peak_rss_mb(pid)
        phase["measure_s"] = time.perf_counter() - t_measure
        m = wl.metrics(spark, res, wl.check(spark, res))
        phase["check_s"] = time.perf_counter() - t_measure - phase["measure_s"]
        m.update(
            {
                "setup_s": statistics.median(setup),
                "success_ratio": 1.0 - min(1.0, m["failed"] / max(1, m["attempted"])),
                "error_ratio": min(1.0, m["failed"] / max(1, m["attempted"])),
                "peak_rss_mb": peak_rss,
                "session.jvm_launch_s": get_s[0],
                "session.get_spark_s": statistics.median(get_s[1:]),
                "session.warm_pass_s": statistics.median(warm_s[1:]),
                "jvm.gc_s": gc1 - gc0,
                "python.driver_cpu_s": cpu1 - cpu0,
                "gen.rows_offered": wl.rows_generated(),
            }
        )
        if tracer.enabled:
            for layer, s in tracer.self_times().items():
                m[f"span.{layer}.self_s"] = s
            m["trace.spans"] = len(tracer.spans)
            m["trace.bookkeeping_s"] = tracer.bookkeeping_s
        env = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cores": cores,
            **sparkstats.machine(),
            "spark": pyspark.__version__,
            "python": sys.version.split()[0],
            "phases": phase,
        }
        if tracer.enabled:
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"), {"env": env})
    finally:
        if spark is not None:
            spark.stop()
    metrics = select_metrics(m, "per_layer" if args.trace else "end_to_end")
    print(json.dumps({"env": env}))
    print(
        json.dumps(
            {
                "correct": m["failed"] == 0,
                "attempted": int(m["attempted"]),
                "failed": int(m["failed"]),
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
