"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Generates the workload's inputs from the
seed, starts a local[nproc] SparkSession, warms it, measures for S seconds,
checks every output against the registry's DuckDB oracles, and prints one
JSON line last: `correct`, `attempted`, `failed` and `metrics`. With
`--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json; with
`--trace 1` a traced run yields its per-layer metrics instead. Everything a
run measured, spans included, goes to `.perfbench_out/`.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
DRIVER_MEM = "2g"


def _echo_udf():
    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def echo(s: pd.Series) -> pd.Series:
        return s

    return echo


def start_spark(work: str, cores: int):
    """get_spark as the program ships it, with scratch space kept inside
    the run's work directory. Returns (spark, jvm pid)."""
    from pyspark import SparkContext

    from beats_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    })
    return spark, SparkContext._gateway.proc.pid


def first_udf(spark, cores: int) -> float:
    """Seconds for the first pandas-UDF round trip, which starts the Python
    daemon and its workers."""
    t0 = time.perf_counter()
    spark.range(0, 4 * cores, numPartitions=cores).select(
        _echo_udf()("id")).collect()
    return time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM and its Python workers."""
    import spans
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    tree = spans.process_tree(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits at EOF on stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in tree[1:]:
        while _alive(pid):
            if time.time() > deadline:
                os.kill(pid, 9)
                deadline = time.time() + 5
            time.sleep(0.05)
    SparkContext._gateway = SparkContext._jvm = None


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def summary(spec: dict, values: dict, trace: int, attempted: int,
            failed: int) -> dict:
    """The result line: the end-to-end metrics of BENCHMARK.json, or with
    tracing its per-layer metrics. A layer the workload does not exercise
    reads 0."""
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                                    "unit": m["unit"]} for m in wanted}}


# every end-to-end metric the benchmark reports, gated or not, with its unit
REPORTED = (("setup_s", "s"), ("rows_per_s", "rows/s"),
            ("event_latency_p50_s", "s"), ("event_latency_p90_s", "s"),
            ("backlog_end_files", "files"), ("peak_rss_mb", "MB"),
            ("cpu_s", "s"), ("failed_frac", "ratio"))


def report(values: dict) -> str:
    """One readable line of every reported metric by name, with its unit.
    A metric the workload does not have (a backlog without a stream)
    reads 0."""
    return " ".join(f"{n}={values.get(n, 0.0):.6g} {u}" for n, u in REPORTED)


def run(args, work: str, cores: int) -> dict:
    import spans
    import workloads as W

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wl = W.WORKLOADS[args.workload](work, args.seed, cores, args.seconds)
    load_before = spans.loadavg()
    wl.generate()
    t0 = time.perf_counter()
    spark, jvm = start_spark(work, cores)
    session = {"session.get_spark_s": time.perf_counter() - t0}
    try:
        # the round trip runs on its own thread beside the warm-up: worker
        # start-up waits on forks and imports that overlap the warm-up's
        # planning and code generation
        with ThreadPoolExecutor(1) as pool:
            echo = pool.submit(first_udf, spark, cores)
            wl.warm(spark)
            session["session.first_udf_s"] = echo.result()
        setup_s = time.perf_counter() - t0
        jiffies = spans.cpu_jiffies()
        res = wl.measure(spark, jvm)
        rss = spans.peak_rss_mb(jvm)
        if args.trace:
            # the traced repetition runs after the untraced one it is
            # compared with, so tracing never touches the end-to-end numbers
            store = spans.StatusStore(spark)
            tracer = spans.Tracer(store)
            before = store.mark()
            t1 = time.perf_counter()
            layers = wl.trace(spark, tracer, jvm)
            traced_s = time.perf_counter() - t1
            layers.update(store.window(before, store.mark()).spark_totals())
            layers["trace.overhead_s"] = traced_s - res["op_s"]
        host = spans.host_pct(jiffies, spans.cpu_jiffies())
    finally:
        stop_spark(spark)
    host["host.loadavg_before"] = load_before
    lat = res["latencies"]
    values = {
        "setup_s": setup_s,
        "rows_per_s": res["rows_per_s"],
        "event_latency_p50_s": spans.quantile(lat, 0.5),
        "event_latency_p90_s": spans.quantile(lat, 0.9),
        "peak_rss_mb": rss,
        "cpu_s": res["cpu_s"],
        "backlog_end_files": res.get("backlog", 0),
        "failed_frac": res["failed"] / res["attempted"],
        **session, **host,
    }
    if args.trace:
        values.update(layers)
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores,
        "latency_samples": len(lat), "values": values,
        "detail": res["detail"],
        "summary": summary(spec, values, args.trace, res["attempted"],
                           res["failed"]),
    }
    if args.trace:
        artifact["spans"] = tracer.spans
    return artifact


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "beats_spark")):
        print(f"no beats_spark package under {ROOT}: run from a checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    cores = len(os.sched_getaffinity(0))
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
    })
    sys.path.insert(0, ROOT)
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}",
              file=sys.stderr)
        return 2
    try:
        artifact = run(args, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(OUT_DIR, exist_ok=True)
    name = f"{args.workload}_seed{args.seed}_trace{args.trace}.json"
    with open(os.path.join(OUT_DIR, name), "w") as f:
        json.dump(artifact, f, indent=1)
    print(report(artifact["values"]))
    print(json.dumps(artifact["summary"], separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
