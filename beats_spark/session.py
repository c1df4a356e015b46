"""SparkSession factory tuned for this engine.

Local-mode testing uses local[N]; the same config block is what we'd ship to
a multi-executor cluster via spark-submit --py-files (minus master).
"""

from __future__ import annotations

import atexit
import os

from pyspark.sql import SparkSession

# Driver JVM flags: C2 (tier-4) promotion thresholds at 10x the JDK 17
# defaults (5000 / 600 / 15000). On small batches most driver CPU went to C2
# compiling planner, scheduler and commit code that runs only a few thousand
# times per pass; at 10x that code stays at C1, per-row methods still cross
# the bar early, and hot loops reach C2 through OSR (Tier4BackEdgeThreshold
# keeps its default). Set through spark.driver.defaultJavaOptions so that a
# caller's spark.driver.extraJavaOptions adds to them instead of replacing
# them; under spark-submit pass them with --conf (jobs/run_pipeline.py).
DRIVER_JAVA_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000 "
    "-XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000"
)


def get_spark(
    app_name: str = "beats_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Defaults follow the north rule: AQE on (runtime re-plan + skew-join
    handling), Arrow on (vectorized pandas UDFs), UTC session timezone
    (deterministic timestamp rendering), shuffle partitions sized to the
    parallelism level rather than the 200 default.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[%s]" % (
        os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    if shuffle_partitions is None:
        # 3 tasks per core: with exactly 1 task/core a single straggler
        # idles the whole stage (measured ~25% utilization loss at 16
        # cores); AQE coalesces the surplus partitions when they're small
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        cores = 32 if n == "*" else int(n)
        shuffle_partitions = max(3 * cores, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.driver.defaultJavaOptions", DRIVER_JAVA_OPTIONS)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # keep plan strings complete for the plan-regression gates
        .config("spark.sql.debug.maxToStringFields", "200")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make `beats_spark` importable on executors regardless of launch cwd.

    pandas-UDF closures reference this package; workers only see it if it's
    installed, on PYTHONPATH, or shipped. spark-submit --py-files covers
    production; for ad-hoc drivers (notebook, scripts run from anywhere) we
    zip the package once and addPyFile it."""
    import tempfile
    import zipfile

    # guard keyed on the live application, not the process: after
    # spark.stop() a fresh SparkContext needs its own addPyFile
    app_id = spark.sparkContext.applicationId
    if getattr(_ship_package, "_app_id", None) == app_id:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if "site-packages" in pkg_dir or "dist-packages" in pkg_dir:
        _ship_package._app_id = app_id
        return  # properly installed — workers resolve it themselves
    fd, zip_path = tempfile.mkstemp(suffix="_beats_spark.zip")
    os.close(fd)
    # removed at exit, not after addPyFile: the file server keeps serving
    # this path to executors that start later
    atexit.register(_remove, zip_path)
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _, files in os.walk(pkg_dir):
            if "__pycache__" in dirpath:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    rel = os.path.join(
                        "beats_spark", os.path.relpath(full, pkg_dir)
                    )
                    z.write(full, rel)
    spark.sparkContext.addPyFile(zip_path)
    _ship_package._app_id = app_id


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass
