"""Polygon dissolve: exact per-group UNION AREA of axis-aligned footprints.

The missing classic from the vector-overlay family (reference scope: the
change-propagation pipeline materializes per-feature bboxes — osm-history-
analysis ChangeResults carry bbox unions, SparkJobs.scala:60-90 — and any
downstream consumer aggregating "how much ground do this group's features
cover" needs the MEASURE of the union, not the sum of areas: overlaps must
count once). Inputs are integer-coordinate half-open rects
[x0,x1) x [y0,y1) — the engine's bbox/tile/pixel currency — so the result
is EXACT int64 (no float ever enters).

Two independent exact plans, used to check each other:

- `rect_union_area` (production): grid-partition the plane at `cell`;
  clamp every rect to the cells it overlaps (pure Column int math — the
  clamped pieces PARTITION the rect, so union area is additive across
  cells); per (group, cell) run a fully-vectorized numpy slab sweep in ONE
  applyInPandas shuffle; sum per group. Distribution is by (group, cell):
  a continent-sized group spreads over its cells instead of serializing,
  and per-cell work is bounded by local geometry density, not dataset
  size. The kernel's segmented exclusive running-max uses the same
  offset-packed int64 trick as engine/raster.py's EDT winner fold.

- `rect_union_area_slabs` (Column-only twin, and the DuckDB oracle's
  shape): per group, slab-decompose on the distinct x edges (lead window),
  attach every rect to the slabs it spans (equi-join on group + span
  filter — O(slabs x rects) per group before the filter, fine for zone
  layers, quadratic for huge groups: that's why the kernel path exists),
  then the y-interval union per slab is the classic exclusive running-max
  window: covered = max(0, y1 - max(y0, max(y1) OVER (... ROWS UNBOUNDED
  PRECEDING TO 1 PRECEDING))).

Both return one row per group: (group, n_rects, union_area, minx, miny,
maxx, maxy). A degenerate rect (x1<=x0 or y1<=y0) denotes the EMPTY set
under half-open semantics and is excluded from n_rects, area, and extent
(a group with only degenerate rects emits no row — tested).

Overflow bound: exact in int64 while every |coordinate| < 2^31 (union area
< 2^62; the per-cell kernel's partial sums are far smaller).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .raster import floor_div


def np_rect_union_area(
    x0: np.ndarray, y0: np.ndarray, x1: np.ndarray, y1: np.ndarray
) -> int:
    """Exact union area of half-open int rects, fully vectorized.

    Slab sweep: unique x edges -> slabs; boolean span matrix -> (rect, slab)
    pairs; per-slab y-interval union via a segmented EXCLUSIVE running max
    of y1 in (slab, y0, y1) order, segmented by packing slab index into the
    high bits of one int64 key (resets are free: a predecessor from an
    earlier slab unpacks negative)."""
    x0 = np.asarray(x0, dtype=np.int64)
    y0 = np.asarray(y0, dtype=np.int64)
    x1 = np.asarray(x1, dtype=np.int64)
    y1 = np.asarray(y1, dtype=np.int64)
    keep = (x1 > x0) & (y1 > y0)
    x0, y0, x1, y1 = x0[keep], y0[keep], x1[keep], y1[keep]
    if len(x0) == 0:
        return 0
    xs = np.unique(np.concatenate([x0, x1]))
    lo, hi = xs[:-1], xs[1:]
    act = (x0[:, None] <= lo[None, :]) & (x1[:, None] >= hi[None, :])
    ri, sj = np.nonzero(act)
    yy0, yy1 = y0[ri], y1[ri]
    order = np.lexsort((yy1, yy0, sj))
    s, a, b = sj[order].astype(np.int64), yy0[order], yy1[order]
    base = b.min()
    bb = b - base
    big = np.int64(bb.max()) + 1
    keyed = s * big + bb
    shifted = np.concatenate([np.array([-1], dtype=np.int64), keyed[:-1]])
    run = np.maximum.accumulate(shifted)
    prev = run - s * big  # < 0  <=>  no predecessor within this slab
    covered_to = np.where(prev >= 0, np.maximum(a, prev + base), a)
    seg = np.maximum(b - covered_to, 0)
    return int(np.sum(seg * (hi - lo)[s]))


def _validated(rects: DataFrame, group_col: str, cols) -> DataFrame:
    cx0, cy0, cx1, cy1 = cols
    return rects.select(
        F.col(group_col).cast("long").alias("g"),
        F.col(cx0).cast("long").alias("x0"),
        F.col(cy0).cast("long").alias("y0"),
        F.col(cx1).cast("long").alias("x1"),
        F.col(cy1).cast("long").alias("y1"),
    ).where((F.col("x1") > F.col("x0")) & (F.col("y1") > F.col("y0")))


def _extent_agg(valid: DataFrame) -> DataFrame:
    return valid.groupBy("g").agg(
        F.count("*").alias("n_rects"),
        F.min("x0").alias("minx"),
        F.min("y0").alias("miny"),
        F.max("x1").alias("maxx"),
        F.max("y1").alias("maxy"),
    )


_OUT_COLS = ["g", "n_rects", "union_area", "minx", "miny", "maxx", "maxy"]


def rect_union_area(
    rects: DataFrame,
    cell: int = 4096,
    group_col: str = "group_id",
    cols=("x0", "y0", "x1", "y1"),
) -> DataFrame:
    """Production path: grid-partitioned exact union area per group.

    (group, x0, y0, x1, y1) int rects -> one row per group (g, n_rects,
    union_area, minx, miny, maxx, maxy). `cell` trades explode factor
    (rects spanning many cells duplicate) against per-kernel group size;
    the answer is cell-size invariant (tested)."""
    if cell < 1:
        raise ValueError(f"cell must be >= 1, got {cell}")
    valid = _validated(rects, group_col, cols)

    cxs = F.sequence(
        floor_div(F.col("x0"), cell), floor_div(F.col("x1") - 1, cell)
    )
    cys = F.sequence(
        floor_div(F.col("y0"), cell), floor_div(F.col("y1") - 1, cell)
    )
    pieces = (
        valid.withColumn("cx", F.explode(cxs))
        .withColumn("cy", F.explode(cys))
        .select(
            "g", "cx", "cy",
            F.greatest(F.col("x0"), F.col("cx") * cell).alias("px0"),
            F.greatest(F.col("y0"), F.col("cy") * cell).alias("py0"),
            F.least(F.col("x1"), (F.col("cx") + 1) * cell).alias("px1"),
            F.least(F.col("y1"), (F.col("cy") + 1) * cell).alias("py1"),
        )
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        area = np_rect_union_area(
            pdf["px0"].to_numpy(), pdf["py0"].to_numpy(),
            pdf["px1"].to_numpy(), pdf["py1"].to_numpy(),
        )
        return pd.DataFrame({"g": [pdf["g"].iloc[0]], "area": [area]})

    # AQE sizes the group shuffle for bytes, not kernel cost — pin the
    # exchange on the group keys (same fix as focal/_halo_apply, trajsim).
    n_part = rects.sparkSession.sparkContext.defaultParallelism
    per_cell = (
        pieces.repartition(n_part, "g", "cx", "cy")
        .groupBy("g", "cx", "cy")
        .applyInPandas(kernel, "g long, area long")
    )
    area = per_cell.groupBy("g").agg(F.sum("area").alias("union_area"))
    return _extent_agg(valid).join(area, "g").select(*_OUT_COLS)


def rect_union_area_slabs(
    rects: DataFrame,
    group_col: str = "group_id",
    cols=("x0", "y0", "x1", "y1"),
) -> DataFrame:
    """Column-only slab-decomposition twin (the DuckDB oracle's shape).

    Exact and Python-free, but the slab-span attach is O(slabs x rects)
    PER GROUP before its filter — correct always, efficient for zone-sized
    groups. `rect_union_area` is the scale path."""
    valid = _validated(rects, group_col, cols)
    edges = (
        valid.select("g", F.col("x0").alias("x"))
        .unionByName(valid.select("g", F.col("x1").alias("x")))
        .distinct()
    )
    wlead = Window.partitionBy("g").orderBy("x")
    slabs = (
        edges.select("g", F.col("x").alias("lo"), F.lead("x").over(wlead).alias("hi"))
        .where(F.col("hi").isNotNull())
    )
    act = slabs.join(valid, "g").where(
        (F.col("x0") <= F.col("lo")) & (F.col("x1") >= F.col("hi"))
    )
    wmax = (
        Window.partitionBy("g", "lo")
        .orderBy("y0", "y1")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seg = act.select(
        "g",
        (
            F.greatest(
                F.col("y1")
                - F.greatest(F.col("y0"), F.coalesce(F.max("y1").over(wmax), F.col("y0"))),
                F.lit(0).cast("long"),
            )
            * (F.col("hi") - F.col("lo"))
        ).alias("a"),
    )
    area = seg.groupBy("g").agg(F.sum("a").alias("union_area"))
    return _extent_agg(valid).join(area, "g").select(*_OUT_COLS)
