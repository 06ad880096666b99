"""Temporal parent tree — rebuild of the reference's parent-ref machinery
(/root/reference/src/main/scala/com/michaelsteffen/osm/parentrefs/RefUtils.scala)
as unions + window functions (SURVEY.md §2.3 A4-A7).

Three operators:

- ref_changes: per parent (way/relation), consecutive-version child-set diff ->
  ADD/DELETE RefChange events (RefUtils.generateRefChanges, RefUtils.scala:11-42).
  The reference relies on input order (SparkJobs.scala:17 comment); we sort
  explicitly by (timestamp, version) — SURVEY.md §2.9 Q2/Q4.
- geometry_statuses: (id, timestamp, hasGeometry) per way/relation version
  (SparkJobs.scala:21-26).
- ref_tree: the versioned containment table — per child, one row per distinct event
  timestamp with the parent-set and geometry flag in effect AT that boundary.

ref_tree implements the *intended* merge semantics (SURVEY.md §2.9 Q1): the
reference's BufferedIterator walk (RefUtils.scala:62-88) drops boundary-equal events
via a strict takeWhile; the spec'd behavior (ignored tests RefUtilsTest.scala:21-35)
is one version per distinct timestamp with all events ts <= boundary applied, and
the latest geometry status <= boundary. Window functions make the off-by-one
impossible here: membership is "last ADD/DELETE event for (child, parent) at or
before the boundary is an ADD", geometry is last(hasGeometry, ignorenulls).

Output is EXPLODED rows (id, timestamp, hasGeometry, parents array) rather than the
reference's array-of-versions struct — rows join/propagate without re-exploding and
keep the shuffle narrow (SURVEY.md §1.2 note on RefHistory).

Within one (child, parent, timestamp): ADD applies before DELETE, so a simultaneous
add+remove nets to absent — the deterministic resolution of the reference's
input-order-dependent fold (RefUtils.scala:94-99).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType

from . import cells, diff


def epoch_us(df: DataFrame, name: str) -> Column:
    """Epoch microseconds of the timestamp column `name` of `df`, the same
    in every session timezone: a TIMESTAMP_NTZ value is read as a UTC wall
    clock (the DuckDB oracle's naive timestamps), a TIMESTAMP is an instant
    already. (Casting NTZ to TIMESTAMP would read it in the session zone.)"""
    if isinstance(df.schema[name].dataType, TimestampNTZType):
        return F.timestamp_diff(
            "MICROSECOND", F.expr("TIMESTAMP_NTZ'1970-01-01 00:00:00'"),
            F.col(name),
        )
    return F.unix_micros(F.col(name))


REF_ADD = 0
REF_DELETE = 1


def ref_changes(objs: DataFrame) -> DataFrame:
    """OBJECT_VERSIONS rows -> RefChange events
    (childID, parentID, changeset, timestamp, changeType)."""
    parents = objs.filter(F.col("type").isin("way", "relation"))
    w = Window.partitionBy("id").orderBy("timestamp", "version")
    children = F.array_distinct(F.coalesce(F.col("children"), F.array()))
    d = (
        parents.withColumn("_children", children)
        .withColumn(
            "_prev_children",
            F.coalesce(
                F.lag("_children").over(w),
                F.array().cast(parents.schema["children"].dataType),
            ),
        )
        .select(
            F.col("id").alias("parentID"),
            "changeset",
            "timestamp",
            F.array_union(
                F.transform(
                    F.array_except("_children", "_prev_children"),
                    lambda m: F.struct(m.alias("m"), F.lit(REF_ADD).alias("ct")),
                ),
                F.transform(
                    F.array_except("_prev_children", "_children"),
                    lambda m: F.struct(m.alias("m"), F.lit(REF_DELETE).alias("ct")),
                ),
            ).alias("_events"),
        )
        .select("parentID", "changeset", "timestamp", F.explode("_events").alias("e"))
        .select(
            cells.pack_feature_id(
                F.col("e.m.ref"), F.col("e.m.type")
            ).alias("childID"),
            "parentID",
            "changeset",
            "timestamp",
            F.col("e.ct").alias("changeType"),
        )
    )
    return d


def geometry_statuses(objs: DataFrame) -> DataFrame:
    """(id, timestamp, hasGeometry) for every way/relation version
    (SparkJobs.scala:21-26 + ObjectVersion.hasGeometry)."""
    return objs.filter(F.col("type").isin("way", "relation")).select(
        F.col("id"),
        "timestamp",
        diff.has_geometry(F.col("tags"), F.col("type")).alias("hasGeometry"),
    )


def ref_tree(refs: DataFrame, geoms: DataFrame, drop_rootless: bool = True) -> DataFrame:
    """Merge the two event streams into the exploded temporal parent tree:
    (id, timestamp, hasGeometry, parents: array<long>).

    drop_rootless=True (reference parity): children with no ref events are dropped
    (RefUtils.scala:45-48). Consequence faithfully preserved: ways/relations that
    are nobody's member have no tree entry, so changes propagating INTO them are
    lost in the propagation join — e.g. a standalone way never surfaces its nodes'
    moves. drop_rootless=False keeps geometry-only entries (empty parent sets) so
    top-level features receive propagated changes — a documented improvement over
    the reference.

    Plan shape: one shuffle keyed by child id (and one by (child, parent) for
    membership) — the cogroup of the reference becomes two window passes + an
    aggregation; no per-group Python.
    """
    # version boundaries: every distinct event timestamp per child
    bounds = (
        refs.select(F.col("childID").alias("id"), "timestamp")
        .unionByName(geoms.select("id", "timestamp"))
        .distinct()
    )
    if drop_rootless:
        bounds = bounds.join(
            refs.select(F.col("childID").alias("id")).distinct(), "id", "left_semi"
        )

    # membership: last event for (child, parent) at/<= boundary is an ADD.
    ev = refs.select(
        F.col("childID").alias("id"),
        F.col("parentID"),
        "timestamp",
        F.col("changeType").alias("_ct"),
        F.lit(0).alias("_probe"),
    )
    probes = (
        bounds.join(
            refs.select(F.col("childID").alias("id"), "parentID").distinct(), "id"
        )
        .select(
            "id", "parentID", "timestamp",
            F.lit(None).cast("int").alias("_ct"),
            F.lit(1).alias("_probe"),
        )
    )
    # ordering: ts asc, events before probes at the same ts (<= semantics),
    # ADD (0) before DELETE (1) within the same ts
    wm = (
        Window.partitionBy("id", "parentID")
        .orderBy("timestamp", "_probe", "_ct")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    membership = (
        ev.unionByName(probes)
        .withColumn("_state", F.last("_ct", ignorenulls=True).over(wm))
        .filter(F.col("_probe") == 1)
        .filter(F.col("_state") == REF_ADD)
        .groupBy("id", "timestamp")
        .agg(F.sort_array(F.collect_list("parentID")).alias("parents"))
    )

    # geometry: last status at/<= boundary (default false)
    gev = geoms.select(
        "id", "timestamp", F.col("hasGeometry").alias("_g"), F.lit(0).alias("_probe")
    )
    gprobes = bounds.select(
        "id", "timestamp", F.lit(None).cast("boolean").alias("_g"),
        F.lit(1).alias("_probe"),
    )
    # _g rides in the order too: two versions of one parent can share a
    # timestamp with different geometry status, and last() must not be
    # row-order dependent — the rule is "hasGeometry=true wins the tie"
    # (false < true in both Spark and ANSI boolean ordering)
    wg = (
        Window.partitionBy("id")
        .orderBy("timestamp", "_probe", "_g")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    geometry = (
        gev.unionByName(gprobes)
        .withColumn("_state", F.last("_g", ignorenulls=True).over(wg))
        .filter(F.col("_probe") == 1)
        .select(
            "id", "timestamp",
            F.coalesce(F.col("_state"), F.lit(False)).alias("hasGeometry"),
        )
        .distinct()
    )

    empty_parents = F.array().cast("array<bigint>")
    return (
        geometry.join(membership, ["id", "timestamp"], "left")
        .select(
            "id",
            "timestamp",
            "hasGeometry",
            F.coalesce(F.col("parents"), empty_parents).alias("parents"),
        )
    )


def sessionize(
    df: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    gap_minutes: int = 30,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time since the
    previous event for the same key exceeds `gap_minutes`. Pure window math
    (lag + cumulative sum of session starts) — one shuffle on `key`, no state
    store, no per-row Python; the batch twin of streaming session windows.

    Returns one row per input row with (session_idx, is_session_start) attached;
    session_idx is 1-based per key in time order. Deterministic under ties via
    `order_tiebreak` (defaults to the first non-key/ts column if None -> ts only)."""
    order_cols = [F.col(ts)] + ([F.col(order_tiebreak)] if order_tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order_cols)
    gap_us = gap_minutes * 60 * 1_000_000
    us = epoch_us(df, ts)
    prev = F.lag(us).over(w)
    is_start = F.when(
        prev.isNull() | ((us - prev) > gap_us),
        1,
    ).otherwise(0)
    return df.withColumn("is_session_start", is_start).withColumn(
        "session_idx",
        F.sum("is_session_start").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
