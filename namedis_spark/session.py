"""SparkSession factory tuned for the transcript-linkage workload.

Local-mode defaults stand in for a multi-executor cluster; the knobs we
set here (AQE, skew-join handling, Arrow batching, shuffle partitions)
are exactly the ones that matter at 100 TB / 1000 executors. The caller
can override any of them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from namedis_spark.state import state

# Defaults chosen for scale-out behavior, not just local speed:
#  - AQE on: runtime coalescing + skew-join splitting (hot blocking keys).
#  - Arrow on: every Python-side op is an Arrow-batched pandas UDF; no
#    per-row Python anywhere (BASELINE.json input_hint).
#  - maxRecordsPerBatch bounds pandas UDF memory per Arrow batch.
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # AQE coalescing keeps parallelismFirst=true (the default): several of
    # our small-byte shuffles are CPU-heavy (feature-map aggregation,
    # pair scoring), so coalescing them down to the 64MB byte target would
    # serialize them. The Python scoring kernels additionally group by
    # their own salted bucket grid (see blocking._replicate_to_grid) because
    # their cost is Python CPU and they must also break hot-block skew.
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE's coalescing targets bytes, but our hot stages are Arrow-batched
    # Python scoring where CPU-per-byte is ~10-30x a JVM stage's: a 64MB
    # partition is minutes of Python. 4MB advisory keeps those stages at
    # task granularities that ride out stragglers; byte-light JVM shuffles
    # still coalesce (minPartitionSize floor applies).
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
    # the pipeline launches its independent side-table jobs from driver
    # threads; FAIR round-robins task slots across them so one long job
    # can't convoy the small ones behind it (FIFO would)
    "spark.scheduler.mode": "FAIR",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Input-scan granularity: the default 128MB of COMPRESSED parquet per
    # split is minutes of decode+tokenize CPU — a medium table then yields
    # fewer splits than the cluster has cores and the scan stages cap out
    # at a fraction of the fleet (observed: 9 splits feeding 16 cores).
    # 32MB keeps scans fine-grained enough to fill every core; when a huge
    # table would over-split, AQE's size-based coalescing soaks up the
    # excess — too MANY splits is recoverable, too FEW is not.
    "spark.sql.files.maxPartitionBytes": "32m",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    # local mode = one JVM for driver + all executor threads; size it for
    # the box (override with SPARK_GRAFT_DRIVER_MEM). On a real cluster
    # executors carry their own spark.executor.memory instead.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"),
}

# extra JVM flags (e.g. -XX:ActiveProcessorCount=N from scaling_bench's
# N-core confinement) ride through the environment; the EXEC variant lands
# on executor JVMs (local-cluster mode — real multi-executor emulation)
if os.environ.get("SPARK_GRAFT_JAVA_OPTS"):
    _DEFAULTS["spark.driver.extraJavaOptions"] = os.environ["SPARK_GRAFT_JAVA_OPTS"]
if os.environ.get("SPARK_GRAFT_EXEC_JAVA_OPTS"):
    _DEFAULTS["spark.executor.extraJavaOptions"] = os.environ[
        "SPARK_GRAFT_EXEC_JAVA_OPTS"
    ]


def get_spark(
    app_name: str = "namedis-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, fallback 32).
    shuffle_partitions defaults to the core count — right-sized for
    local mode; on a real cluster set it to ~2-3x total cores.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N], local[*], or local-cluster[numExec,coresPerExec,memMB]
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        if master.startswith("local-cluster"):
            n_exec, cores, _ = inner.split(",")
            shuffle_partitions = int(n_exec) * int(cores)
        else:
            shuffle_partitions = cpus if inner == "*" else int(inner)

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if master.startswith("local-cluster"):
        # real executor JVMs spawn their own Python workers, which do not
        # inherit the driver's sys.path — ship the package exactly as
        # `spark-submit --py-files` would (north rule)
        spark.sparkContext.addPyFile(package_zip())
    _warm_session(spark)
    return spark


def _warm_session(spark: SparkSession) -> None:
    """One-time, data-independent engine warm-up per session: a trivial
    aggregate job initializes the task scheduler / codegen / shuffle
    machinery, and a one-batch Arrow pandas exchange forks the Python
    worker pool (workers are reused afterwards —
    spark.python.worker.reuse). Heavyweight init belongs to session
    construction, not to whichever query happens to run first (guide
    §4.5); nothing here touches input data or caches any result."""
    st = state(spark)
    if st.warmed:
        return
    st.warmed = True
    try:
        import pyspark.sql.functions as F

        spark.range(0, 1000, 1, 4).agg(F.sum("id")).collect()

        def _echo(batches):
            yield from batches

        spark.range(0, 32, 1, 32).mapInPandas(_echo, "id long").count()
    except Exception:
        pass  # warm-up is best-effort; never block session creation


def close_session(spark: SparkSession) -> None:
    """Stop a session cleanly: release its state (unpersist the registry's
    feature tables and every ``tracked_persist`` intermediate, forget the
    views and probes; see ``namedis_spark.state``), then stop the JVM."""
    state(spark).release()
    spark.stop()


def package_zip(out_path: str | None = None) -> str:
    """Zip the ``namedis_spark`` package for ``spark-submit --py-files`` /
    ``addPyFile`` distribution to executors. Idempotent per process."""
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if out_path is None:
        out_path = os.path.join(
            os.environ.get("TMPDIR", "/tmp"), f"namedis_spark_pyfiles_{os.getpid()}.zip"
        )
    if not os.path.exists(out_path):
        with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(root, fn)
                    rel = os.path.join(
                        "namedis_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    return out_path
