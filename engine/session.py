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


def local_relation(spark: SparkSession, data, schema) -> DataFrame:
    """The one way the engine turns driver-side data into a DataFrame: the
    rows go through a pyarrow.Table, so the result is a LocalTableScan leaf
    with the same schema whether the session has Arrow conversion on or off.
    (A Python-list `createDataFrame` is a `Scan ExistingRDD` over a pickled
    Python RDD: every action over it starts Python workers to run an
    identity map; a pandas one changes types with the Arrow setting.)

    data: a pyarrow.Table, a pandas DataFrame, a {name: column} dict (any
    column pyarrow.array takes, or a pyarrow Array for explicit null masks),
    or a list of rows — tuples/Rows matched by position, or dicts by name;
    [] is an empty relation.
    schema: a StructType, a DDL string, or a list of column names (types
    then inferred by pyarrow: int -> bigint, float -> double, str -> string,
    lists -> arrays, naive datetime -> timestamp).

    Naive datetimes keep their session-timezone meaning (pyspark localizes
    naive Arrow timestamps from `spark.sql.session.timeZone`); pandas input
    keeps pandas null semantics (NaN/None -> null), as pyspark's own Arrow
    path does. The frame keeps its table (`local_table`)."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import (
        StructField, StructType, _parse_datatype_string,
    )

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    if isinstance(schema, StructType):
        schema = StructType(
            [StructField(f.name, _arrow_safe(f.dataType), f.nullable)
             for f in schema.fields]
        )
        # naive timestamps: pyspark then localizes them from the session
        # timezone instead of reading them as UTC
        arrow_schema = to_arrow_schema(schema, timestamp_utc=False)
        names, types = arrow_schema.names, arrow_schema.types
    else:
        arrow_schema = None
        names, types = list(schema), [None] * len(schema)
    if isinstance(data, pa.Table):
        cols = data.columns
    elif isinstance(data, pd.DataFrame):
        cols = [data.iloc[:, i] for i in range(data.shape[1])]
    elif isinstance(data, dict):
        cols = list(data.values())
    else:
        rows = list(data)
        if rows and isinstance(rows[0], dict):
            cols = [[r.get(n) for r in rows] for n in names]
        else:
            cols = [list(c) for c in zip(*rows)] or [[] for _ in names]
    arrays = [
        (c if t is None or c.type == t else c.cast(t))
        if isinstance(c, (pa.Array, pa.ChunkedArray))
        else pa.array(_arrow_values(c, t), type=t)
        for c, t in zip(cols, types)
    ]
    if arrow_schema is None:
        table = pa.Table.from_arrays(arrays, names)
        df = spark.createDataFrame(table, names)
    else:
        table = pa.Table.from_arrays(arrays, schema=arrow_schema)
        df = spark.createDataFrame(table, schema)
    df._local_table = table
    return df


def local_table(df: DataFrame):
    """The pyarrow.Table a `local_relation` frame was built from, or None
    for any other frame (a frame derived from it included): the one way a
    driver fast path finds rows the driver already holds."""
    return getattr(df, "_local_table", None)


def _arrow_safe(dt):
    """`dt` with the children of every struct that holds a nested child
    declared nullable: pyspark's Arrow path rebuilds such a struct with
    nullable children and then fails to cast it back to non-null ones."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    nested = (ArrayType, MapType, StructType)
    if isinstance(dt, ArrayType):
        return ArrayType(_arrow_safe(dt.elementType), dt.containsNull)
    if isinstance(dt, MapType):
        return MapType(
            _arrow_safe(dt.keyType), _arrow_safe(dt.valueType),
            dt.valueContainsNull,
        )
    if isinstance(dt, StructType):
        rebuilt = any(isinstance(f.dataType, nested) for f in dt.fields)
        return StructType([
            StructField(f.name, _arrow_safe(f.dataType), f.nullable or rebuilt)
            for f in dt.fields
        ])
    return dt


def _arrow_values(values, typ):
    """pyarrow takes a map column as lists of (key, value) pairs; rows
    carry dicts."""
    import pyarrow as pa

    if typ is not None and pa.types.is_map(typ):
        return [None if v is None else list(v.items()) for v in values]
    return values


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
