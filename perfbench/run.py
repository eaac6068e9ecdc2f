"""Benchmark of sedona_db_spark: one seeded workload per run, timed from
outside the program.

    python3 perfbench/run.py --workload pip_polygons --seed 1 --seconds 20 --trace 0

Prints a table of every metric by name and unit, then, as the last line,
one JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones (medians over the timed
iterations); with ``--trace 1`` they are the per-layer ones, taken from
spans around the calls into each layer and from Spark's status stores.
See perfbench/README.md for the workloads and the metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".perfbench_run")  # every file a run writes

MATERIALISE_REPEATS = 3  # set-up builds of the inputs; setup_s takes the median
MIN_ITERATIONS = 3  # so that query_p50_s is a true median
# The workloads hold a few MB in the driver; a larger heap lets G1 grow it by
# a different amount each run (JVM RSS 1.3-2.0 GB at 3 GiB), which swamped
# peak_rss_mb.
DRIVER_MEMORY = "1g"


def host_parallelism() -> int:
    """Each Spark task thread drives its own Python worker process, so half
    the cores keep a worker per core for the numpy kernels."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def prepare_environment() -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and let the workers import the program."""
    tmp = os.path.join(RUN_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(RUN_DIR, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no hsperfdata files in the system temp dir from the launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = (os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData").strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = tmp


def start_spark(parallelism: int):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{parallelism}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.sql.warehouse.dir", os.path.join(RUN_DIR, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(parallelism))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, wait for the JVM, then end and wait for every process it
    left (the Python daemon and workers)."""
    from probes import alive, descendants

    children = [p for p in descendants(os.getpid()) if p != os.getpid()]
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    for sig, patience in ((signal.SIGTERM, 30.0), (signal.SIGKILL, 10.0)):
        deadline = time.time() + patience
        for p in children:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        while time.time() < deadline and any(alive(p) for p in children):
            time.sleep(0.05)
        children = [p for p in children if alive(p)]
        if not children:
            return


def kernel_timings(wl) -> dict:
    """Driver-side timings of the geometry kernels on batches drawn from the
    workload's inputs, each with its operation count."""
    from sedona_db_spark.geometry import algos, wkb

    def median_time(fn, repeats=5):
        ts = []
        for _ in range(repeats):
            t = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t)
        return statistics.median(ts)

    x, y, bufs, polys = wl.kernel_batches()
    m = {
        "geometry.wkb_decode_rows": len(bufs),
        "geometry.wkb_decode_ns_per_row": median_time(lambda: wkb.decode_points_xy(bufs)) / len(bufs) * 1e9,
        "geometry.wkb_encode_rows": len(x),
        "geometry.wkb_encode_ns_per_row": median_time(lambda: wkb.encode_points_xy(x, y)) / len(x) * 1e9,
        "geometry.pip_pairs": 0,
        "geometry.pip_ns_per_pair": 0.0,
    }
    if polys:
        geoms = [wkb.parse(p) for p in polys]
        px, py = x[:20_000], y[:20_000]
        segments = sum(len(ring) - 1 for g in geoms for ring in g.coords)
        t = median_time(lambda: [algos.locate_points_in_geometry(px, py, g) for g in geoms], 3)
        m["geometry.pip_pairs"] = len(px) * segments
        m["geometry.pip_ns_per_pair"] = t / (len(px) * segments) * 1e9
    return m


def run(args) -> dict:
    import probes
    from sedona_db_spark.context import SedonaContext
    from spans import Tracer
    from workloads import WORKLOADS

    wl_cls = WORKLOADS[args.workload]
    report = {"parallelism": host_parallelism()}
    with probes.RssSampler() as rss:
        spark = start_spark(report["parallelism"])
        try:
            tracer = Tracer(spark)
            if args.trace:
                import sedona_db_spark.operators.knn_join as knn_mod
                import sedona_db_spark.operators.spatial_join as sj_mod
                from spans import PLAN

                tracer.wrap(sj_mod, "spatial_join", PLAN)
                tracer.wrap(knn_mod, "knn_join", PLAN)
            t = time.perf_counter()
            con = SedonaContext(spark)
            report["context_s"] = time.perf_counter() - t
            report["session_s"] = t - T_START
            wl = wl_cls(args.seed, spark, con, tracer, RUN_DIR)
            report["materialise_s"] = wl.materialise(MATERIALISE_REPEATS)
            t = time.perf_counter()
            wl.iteration()  # warm-up: Python workers start, Spark generates code
            report["warmup_s"] = time.perf_counter() - t
            setup_s = report["session_s"] + report["context_s"] + report["materialise_s"] + report["warmup_s"]
            t = time.perf_counter()
            wl.oracle()
            report["oracle_s"] = time.perf_counter() - t
            t = time.perf_counter()
            res = measure(args, wl, tracer)
            report["measure_s"] = time.perf_counter() - t
            res["setup_s"] = setup_s
            if args.trace:
                res["layers"].update(kernel_timings(wl))
                tracer.write(os.path.join(RUN_DIR, f"spans-{args.workload}-seed{args.seed}.jsonl"))
        finally:
            t = time.perf_counter()
            stop_spark(spark)
            report["teardown_s"] = time.perf_counter() - t
    res["peak_rss_mb"] = rss.peak_mb
    report.update({f"peak_rss_{k}_mb": v for k, v in rss.peak_by_kind.items()})
    res["report"] = report
    return res


def measure(args, wl, tracer) -> dict:
    """The timed loop: iterations until ``--seconds`` of iteration time, and
    at least MIN_ITERATIONS.

    With tracing, iterations alternate traced / untraced, so the same run
    also gives the tracing overhead."""
    import probes

    calib = [probes.calibrate_ms()]
    jiffies = probes.cpu_jiffies()
    times, traced_times, untraced_times, layers = [], [], [], []
    attempted = failed = 0
    min_iterations = MIN_ITERATIONS + args.trace  # traced: two of each kind
    while sum(times) < args.seconds or len(times) < min_iterations:
        it = attempted
        traced = bool(args.trace) and it % 2 == 0
        tracer.enabled, tracer.iteration = traced, it
        first_execution = tracer.status.execution_count() if traced else 0
        attempted += 1
        t = time.perf_counter()
        try:
            with tracer.span("iteration"):
                out = wl.iteration()
        except Exception:
            traceback.print_exc()
            failed += 1
            out = None
        finally:
            times.append(time.perf_counter() - t)
            tracer.enabled = False
        if out is None:
            continue
        (traced_times if traced else untraced_times).append(times[-1])
        failed += not wl.check(out)
        if traced:
            m = tracer.iteration_metrics(it, first_execution)
            m.update(wl.layer_metrics(out, m))
            layers.append(m)
    host = {
        "host.steal_pct": probes.steal_pct(jiffies, probes.cpu_jiffies()),
        "host.loadavg1": probes.loadavg1(),
    }
    calib.append(probes.calibrate_ms())
    host["host.calib_ms"] = statistics.median(calib)
    host["host.calib_drift_pct"] = 100.0 * (calib[1] - calib[0]) / calib[0]
    res = {
        "attempted": attempted,
        "failed": failed,
        "query_p50_s": statistics.median(times),
        "success_rate": 1.0 - failed / attempted,
        "iterations": len(times),
        "iteration_s": times,
        "host": host,
    }
    if args.trace:
        keys = sorted({k for m in layers for k in m})
        lay = {k: statistics.median([m.get(k, 0.0) for m in layers]) for k in keys}
        lay["trace.overhead_pct"] = (
            100.0 * (statistics.median(traced_times) / statistics.median(untraced_times) - 1.0)
            if traced_times and untraced_times else 0.0)
        lay["trace.iterations"] = len(layers)
        lay.update(host)
        res["layers"] = lay
    return res


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            benchmark = json.load(f)
    except OSError as e:
        print(f"perfbench: cannot read BENCHMARK.json at the checkout root: {e}", file=sys.stderr)
        return 2
    prepare_environment()
    sys.path.insert(0, HERE)
    try:
        import sedona_db_spark
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(sedona_db_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: sedona_db_spark comes from {sedona_db_spark.__file__}, "
              f"not from this checkout", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    res = run(args)
    declared = benchmark["per_layer" if args.trace else "end_to_end"]
    source = res["layers"] if args.trace else res
    # a layer the workload never enters reads 0
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]} for m in declared}

    print(f"# perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"parallelism={res['report']['parallelism']} iterations={res['iterations']}")
    print("#   iteration_s " + " ".join(f"{t:.3f}" for t in res["iteration_s"]))
    for k, v in sorted(res["report"].items()):
        print(f"#   run.{k:<30} {v:.4f}")
    for k, v in sorted(res["host"].items()):
        print(f"#   {k:<34} {v:.4f}")
    print(f"#   {'error_rate':<34} {res['failed'] / res['attempted']:.4f} fraction")
    for name, m in metrics.items():
        print(f"#   {name:<34} {m['value']:.6g} {m['unit']}")
    for name, v in sorted(res.get("layers", {}).items()):
        if name not in metrics:
            print(f"#   {name:<34} {v:.6g}")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
