"""Per-partition row/byte/cell metrics (BASELINE.json north_rule: "emits
per-partition row/byte/cell metrics")."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _transfer_key(k, dt: T.DataType):
    """The key as a column the driver can dedupe exactly: integers stay int64
    with nulls zeroed (a nullable integer column would reach pandas as
    float64 and merge ids above 2^53); binary values travel as hex and nested
    ones as JSON text (bytearrays, lists and dicts are unhashable). The
    separate null flag keeps null one key of its own."""
    if isinstance(dt, T.IntegralType):
        return F.coalesce(k.cast("long"), F.lit(0))
    if isinstance(dt, T.BinaryType):
        return F.hex(k)
    if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        return F.to_json(k)
    return k


def partition_metrics(df: DataFrame, key_col: str | None = None) -> dict:
    """Rows, distinct keys, and the rows-per-Spark-partition distribution
    (max/median skew indicator) of `df`.

    One Spark action executes `df`'s plan once: `df` is grouped by (Spark
    partition id, key) — by partition id alone without a key — and the driver
    receives one row per distinct (partition, key) pair, from which it derives
    every figure in numpy. A `repartitionByRange` input also runs Spark's
    bounds-sampling job inside that action, which executes the plan below the
    range exchange once more. The median is the lower median of the
    per-partition counts (what `percentile_approx(n, 0.5)` returns), and a
    null key counts as one distinct key (as `distinct().count()` does).

    The per-partition figures describe this execution's partitioning. For a
    `repartitionByRange` input they can differ from the partitioning that a
    previous action over the same frame (e.g. `Table.append`) wrote, because
    Spark re-samples the range bounds on every execution; the manifest's
    per-file rows describe the committed layout."""
    pid = F.spark_partition_id().alias("pid")
    if key_col is not None and key_col in df.columns:
        # grouped on the key column itself (under a private name, so a key
        # called `pid` or `n` stays unambiguous): an input already clustered
        # by it (range or hash repartitioned on the key) needs no second
        # shuffle
        dt = df.schema[key_col].dataType
        k = F.col("__key")
        groups = (
            df.select(pid, F.col(key_col).alias("__key"))
            .groupBy("pid", "__key").agg(F.count("*").alias("n"))
            .select("pid", k.isNull().alias("null"),
                    _transfer_key(k, dt).alias("key"), "n")
        )
    else:
        groups = df.select(pid).groupBy("pid").agg(F.count("*").alias("n"))
    groups = groups.toPandas()
    per_part = np.sort(
        groups.groupby("pid")["n"].sum().to_numpy(dtype=np.int64)
    )
    p = len(per_part)
    out = {
        "rows": int(per_part.sum()),
        "partitions": p,
        "max_partition_rows": int(per_part[-1]) if p else 0,
        "median_partition_rows": int(per_part[(p + 1) // 2 - 1]) if p else 0,
    }
    if out["median_partition_rows"]:
        out["skew_ratio"] = round(
            out["max_partition_rows"] / out["median_partition_rows"], 2
        )
    if "key" in groups.columns:
        out["distinct_keys"] = len(groups[["null", "key"]].drop_duplicates())
    return out


def _row_size_expr(df: DataFrame):
    """Approximate per-row byte size from the schema: octet_length for
    strings/binary, fixed widths for numerics/timestamps, recursive-ish
    flat treatment for everything else (arrays/maps/structs estimated via
    their JSON length — still a single Column expression, no extra pass)."""
    parts = []
    for f in df.schema.fields:
        c = F.col(f.name)
        t = f.dataType
        if isinstance(t, (T.StringType,)):
            parts.append(F.coalesce(F.octet_length(c), F.lit(0)))
        elif isinstance(t, T.BinaryType):
            parts.append(F.coalesce(F.length(c), F.lit(0)))
        elif isinstance(t, (T.LongType, T.DoubleType, T.TimestampType,
                            T.TimestampNTZType)):
            parts.append(F.lit(8))
        elif isinstance(t, (T.IntegerType, T.FloatType, T.DateType)):
            parts.append(F.lit(4))
        elif isinstance(t, (T.BooleanType, T.ByteType)):
            parts.append(F.lit(1))
        else:  # arrays/maps/structs: JSON length as an upper-bound estimate
            parts.append(F.coalesce(F.octet_length(F.to_json(c)), F.lit(0)))
    out = parts[0]
    for p in parts[1:]:
        out = out + p
    return out


def partition_byte_metrics(df: DataFrame) -> dict:
    """Per-partition BYTE distribution (north_rule: row/byte/cell metrics):
    one pass, schema-derived row-size estimate summed per Spark partition."""
    per_part = (
        df.select(
            F.spark_partition_id().alias("pid"),
            _row_size_expr(df).alias("sz"),
        )
        .groupBy("pid")
        .agg(F.sum("sz").alias("b"))
    )
    stats = per_part.agg(
        F.sum("b").alias("total"),
        F.max("b").alias("mx"),
        F.expr("percentile_approx(b, 0.5)").alias("md"),
    ).first()
    return {
        "approx_bytes": int(stats["total"] or 0),
        "max_partition_bytes": int(stats["mx"] or 0),
        "median_partition_bytes": int(stats["md"] or 0),
    }
