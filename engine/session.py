"""SparkSession builders.

The reference sizes parallelism with a driver-side pre-pass
(/root/reference/src/main/scala/com/michaelsteffen/osm/historyanalysis/App.scala:52-72).
Here AQE replaces that heuristic; we still pin shuffle partitions to the core count in
local mode (SURVEY.md §4).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "spark-graft-engine",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_mem: str = "8g",
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a local SparkSession tuned for this engine.

    - AQE on (coalesce + skew join) — runtime re-plan replaces the reference's
      manual partition-count heuristic (App.scala:52-72).
    - Arrow on — all custom kernels are pandas/Arrow UDFs (no per-row Python).
    - UTC session timezone — required for DuckDB-oracle comparison.
    - Small Arrow batches — image rows carry MB-scale binary columns.
    - Modest default heap: this sandbox's hypervisor makes first-touch pages
      expensive (measured: the SAME 8M-image job takes 5.1s with an 8g heap and
      66s with a 48g heap at local[32] — GC region scans over a huge fresh heap
      turn into page-fault storms). Size the heap to the job, not the box.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = SparkSession.builder
    # under spark-submit the gateway JVM already carries --master (and
    # PythonRunner exports PYSPARK_GATEWAY_PORT); setting master here would
    # silently override the CLI — e.g. turn a local-cluster[4,4] submit back
    # into single-JVM local[32]. Respect the launcher.
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        b = b.master(f"local[{cores}]")
    b = (
        b.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # reliable-checkpoint support: operators that materialize mid-plan frames
    # (engine.textops ngram index) use .checkpoint() when a dir is configured —
    # unlike localCheckpoint, the blocks survive executor loss. The cleaner
    # releases checkpoint files when the frame is GC'd.
    b = b.config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if spark.sparkContext.getCheckpointDir() is None:
        _own_checkpoint_dir(spark.sparkContext)
    return spark


def _own_checkpoint_dir(sc) -> str:
    """Give `sc` a fresh checkpoint directory that is removed when the
    process exits (a directory the caller configured is never touched)."""
    path = tempfile.mkdtemp(prefix="spark_graft_ckpt_")
    sc.setCheckpointDir(path)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def truncate_lineage(df: DataFrame) -> DataFrame:
    """Materialize `df` and cut its lineage: a reliable checkpoint when the
    session has a checkpoint dir (get_spark always sets one; its blocks
    survive executor loss), an eager localCheckpoint otherwise — the
    engine-wide iteration discipline."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def optimize_parallelism(
    spark: SparkSession, row_count: int, executors: int = 1, cores: int = 32,
    rows_per_partition: int = 1_500_000,
) -> int:
    """Faithful rebuild of the reference's sizing heuristic
    (/root/reference/.../historyanalysis/App.scala:52-72):
    partitions = max(rows / 1.5e6, executors * cores * 4), applied to
    spark.sql.shuffle.partitions + spark.default.parallelism.

    Two rebuild differences: (a) feed `row_count` from iceberg_lite manifest
    metadata instead of a full scan (App.scala:30 scans+counts); (b) AQE remains
    on, so this sets the UPPER bound and AQE coalesces down at runtime.
    """
    partitions = max(row_count // rows_per_partition, executors * cores * 4)
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    return partitions
