"""Tile-pyramid rollups: level L -> L-1 by 2x2 aggregation, iterated.

Every web-map serving stack keeps a pyramid: level-L tiles aggregate into
level-(L-1) parents, four children per parent, each parent pixel covering a
2x2 child-pixel block. Two operators:

pyramid_sum — count-grid pyramid over heatmap tiles (engine/raster.py
shape: tx, ty, counts array<long>[res^2]), exact int64. Distributed, it is
Column algebra: stage 1 (no shuffle) folds each child's 2x2 pixel blocks
into a quadrant block of res^2/4 sums; stage 2 (ONE shuffle per level,
groupBy parent) stitches <= 4 quadrant blocks into the parent grid with a
map lookup. Shuffle volume halves every level (4 tiles -> 1, block payload
res^2/4 each), so the whole pyramid costs ~2/3 of one extra pass over the
base level — the geometric-series bound that makes pyramids cheap at 100 TB.
Over a local relation (session.local_table: rows the driver already holds)
the same levels are numpy reshapes and sums on the driver, returned as one
local relation with the same schema and no Spark job. Missing children
contribute zeros (sparse rasters stay sparse: a parent exists iff some
child exists). DuckDB twin pyramid_sum_sql computes every
level straight from base-level global cells (gx >> k) — an independent
derivation, not a transliteration, so parity is a real two-implementation
check. Mass conservation (sum over any level == sum over base) is asserted
in tests.

pyramid_image — the image x geo counterpart over raw-RGB24 tile previews
(engine/multimodal.py tile_mosaic output shape): per level, <= 4 child
canvases are box-averaged (2x2 mean, floor) into their parent quadrant —
numpy over Arrow groups, bytes stay binary end-to-end, absent children
render black. Output side length stays constant per level (standard
pyramid: constant tile size, shrinking ground resolution).

The reference has no pyramid; its closest analog is the pointwise cell
rollup chain (SURVEY.md section 2.7 rollup_chain) — this is the raster
generalization with the 2x2 block semantics serving stacks require.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import local_relation, local_table


def _quadrant_block(counts: Column, res: int) -> Column:
    """Fold a child's res^2 grid into its (res/2)^2 grid of 2x2 block sums
    (row-major), Column-only."""
    half = res // 2

    def block_sum(j: Column) -> Column:
        by = (j / half).cast("int")
        bx = F.pmod(j, half)
        base = by * (2 * res) + bx * 2  # 0-based top-left of the 2x2 block
        return (
            F.element_at(counts, base + 1)
            + F.element_at(counts, base + 2)
            + F.element_at(counts, base + res + 1)
            + F.element_at(counts, base + res + 2)
        )

    return F.transform(
        F.sequence(F.lit(0), F.lit(half * half - 1)), block_sum
    )


def _rollup_once(tiles: DataFrame, res: int, block_fn=None) -> DataFrame:
    """One level: children (tx, ty, counts) -> parents (tx>>1, ty>>1,
    counts). Arithmetic shiftright floors negative coords, matching the
    quadrant bits (tx & 1), so the grid is seamless across the origin."""
    half = res // 2
    blocks = tiles.select(
        F.shiftright(F.col("tx"), 1).alias("tx"),
        F.shiftright(F.col("ty"), 1).alias("ty"),
        ((F.col("ty").bitwiseAND(F.lit(1))) * 2
         + (F.col("tx").bitwiseAND(F.lit(1)))).cast("int").alias("q"),
        (block_fn or _quadrant_block)(F.col("counts"), res).alias("block"),
    )
    m = F.map_from_entries(F.collect_list(F.struct("q", "block")))

    def parent_pixel(i: Column) -> Column:
        px = F.pmod(i, res)
        py = (i / res).cast("int")
        q = (py >= half).cast("int") * 2 + (px >= half).cast("int")
        within = F.pmod(py, half) * half + F.pmod(px, half)
        return F.coalesce(
            F.element_at(F.element_at(m, q), within + 1),
            F.lit(0).cast("long"),
        )

    dense = F.transform(
        F.sequence(F.lit(0), F.lit(res * res - 1)), parent_pixel
    )
    return blocks.groupBy("tx", "ty").agg(dense.alias("counts"))


# pyramid_sum's output schema, the same on both branches
_SUM_SCHEMA = T.StructType([
    T.StructField("level", T.IntegerType(), False),
    T.StructField("tx", T.LongType()),
    T.StructField("ty", T.LongType()),
    T.StructField("counts", T.ArrayType(T.LongType(), False), False),
])


def _driver_grids(tbl, res: int):
    """(tx, ty, counts as an (n, res^2) matrix), all int64, of a local
    raster table; None when a key, a grid or a count is null, a grid is not
    res^2 int64 values, or a tile repeats (the distributed plan gives such
    rows its own meaning)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    counts = tbl["counts"]
    if (
        tbl["tx"].null_count or tbl["ty"].null_count or counts.null_count
        or not pa.types.is_int64(counts.type.value_type)
    ):
        return None
    if not pc.all(pc.equal(pc.list_value_length(counts), res * res)).as_py():
        return None
    flat = pc.list_flatten(counts)
    if flat.null_count:
        return None
    tx = tbl["tx"].to_numpy().astype(np.int64)
    ty = tbl["ty"].to_numpy().astype(np.int64)
    if len(np.unique(np.stack([tx, ty], axis=1), axis=0)) != len(tx):
        return None
    return tx, ty, flat.to_numpy().reshape(len(tx), res * res)


def _checked_add(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """x + y in int64, raising where ANSI Spark's long + overflows (numpy
    wraps: an overflow is a sum whose sign differs from both operands')."""
    s = x + y
    if ((x ^ s) & (y ^ s) < 0).any():
        from pyspark.errors import ArithmeticException

        raise ArithmeticException(
            message="[ARITHMETIC_OVERFLOW] long overflow in a pyramid_sum "
            "2x2 block sum"
        )
    return s


def _rollup_driver(tx, ty, grids, res: int):
    """_rollup_once on the driver: each child's 2x2 block sums (added in
    the Column plan's order: top-left, top-right, bottom-left,
    bottom-right) placed into quadrant (ty & 1, tx & 1) of parent
    (tx >> 1, ty >> 1), zeros where a child is missing."""
    half = res // 2
    b = grids.reshape(-1, half, 2, half, 2)
    block = _checked_add(
        _checked_add(
            _checked_add(b[:, :, 0, :, 0], b[:, :, 0, :, 1]),
            b[:, :, 1, :, 0],
        ),
        b[:, :, 1, :, 1],
    )
    keys, inv = np.unique(
        np.stack([tx >> 1, ty >> 1], axis=1), axis=0, return_inverse=True
    )
    inv = inv.ravel()
    out = np.zeros((len(keys), res, res), dtype=np.int64)
    for qy in (0, 1):
        for qx in (0, 1):
            m = ((ty & 1) == qy) & ((tx & 1) == qx)
            out[
                inv[m], qy * half:(qy + 1) * half, qx * half:(qx + 1) * half
            ] = block[m]
    return keys[:, 0], keys[:, 1], out.reshape(len(keys), res * res)


def _pyramid_sum_driver(spark, grids, res: int, levels: int) -> DataFrame:
    """Every level of pyramid_sum from driver-held grids, as one local
    relation with the distributed branch's schema."""
    import pyarrow as pa

    out = []
    for lvl in range(1, levels + 1):
        grids = _rollup_driver(*grids, res)
        out.append((np.full(len(grids[0]), lvl, dtype=np.int32), *grids))
    level, tx, ty, counts = (np.concatenate(c) for c in zip(*out))
    return local_relation(
        spark,
        {
            "level": level, "tx": tx, "ty": ty,
            "counts": pa.ListArray.from_arrays(
                np.arange(len(counts) + 1, dtype=np.int32) * (res * res),
                counts.ravel(),
            ),
        },
        _SUM_SCHEMA,
    )


def pyramid_sum(tiles: DataFrame, res: int, levels: int = 1) -> DataFrame:
    """(tx, ty, counts array<long>[res^2]) at the base level -> all rollup
    levels 1..levels as (level, tx, ty, counts), each level's tile (tx, ty)
    aggregating the 2x2 children (2tx..2tx+1, 2ty..2ty+1) of the level
    below, parent pixel = exact int64 sum of its 2x2 child-pixel block.

    Over a local relation (its rows already on the driver) every level is
    computed in numpy and returned as one local relation with the same
    schema, raising pyspark's ArithmeticException where ANSI Spark's block
    sum overflows; any other input gets the distributed plan (one shuffle
    per level)."""
    if res < 2 or res % 2:
        raise ValueError(f"res must be even and >= 2, got {res}")
    if levels < 1:
        raise ValueError("levels must be >= 1")
    tbl = local_table(tiles)
    grids = None if tbl is None else _driver_grids(tbl, res)
    if grids is not None:
        return _pyramid_sum_driver(tiles.sparkSession, grids, res, levels)
    out = None
    cur = tiles.select("tx", "ty", "counts")
    for lvl in range(1, levels + 1):
        cur = _rollup_once(cur, res)
        tagged = cur.select(
            F.lit(lvl).alias("level"), "tx", "ty", "counts"
        )
        out = tagged if out is None else out.unionByName(tagged)
    return out


def _quadrant_block_mode(counts: Column, res: int) -> Column:
    """Fold a child's res^2 grid into its (res/2)^2 grid of 2x2 block
    MAJORITIES (nodata 0 skipped; all-zero block -> 0; ties to the
    SMALLEST value) — Column HOFs only. With <= 4 votes per block the mode
    is a tiny aggregate fold over the sorted nonzero values: walking
    ascending with a strict > keeps the smallest value on count ties."""
    half = res // 2

    def block_mode(j: Column) -> Column:
        by = (j / half).cast("int")
        bx = F.pmod(j, half)
        base = by * (2 * res) + bx * 2
        vals = F.array(
            F.element_at(counts, base + 1),
            F.element_at(counts, base + 2),
            F.element_at(counts, base + res + 1),
            F.element_at(counts, base + res + 2),
        )
        nz = F.array_sort(F.filter(vals, lambda x: x != 0))
        best = F.aggregate(
            nz,
            F.struct(
                F.lit(0).cast("long").alias("v"),
                F.lit(0).cast("long").alias("c"),
            ),
            lambda acc, x: F.when(
                F.size(F.filter(nz, lambda y: y == x)) > acc["c"],
                F.struct(
                    x.alias("v"),
                    F.size(F.filter(nz, lambda y: y == x))
                    .cast("long").alias("c"),
                ),
            ).otherwise(acc),
        )
        return best["v"]

    return F.transform(
        F.sequence(F.lit(0), F.lit(half * half - 1)), block_mode
    )


def pyramid_mode(tiles: DataFrame, res: int, levels: int = 1) -> DataFrame:
    """Categorical (land-cover / classified-raster) pyramid: parent pixel =
    MAJORITY of its 2x2 child-pixel block, 0 = nodata skipped, ties to the
    smallest class — the gdaladdo 'mode' overview, iterated per level
    (majority-of-majorities, the standard hierarchical behavior). Same
    plan as pyramid_sum: one quadrant fold (no shuffle) + one parent
    groupBy per level, shuffle volume halving every level."""
    if res < 2 or res % 2:
        raise ValueError(f"res must be even and >= 2, got {res}")
    if levels < 1:
        raise ValueError("levels must be >= 1")
    out = None
    cur = tiles.select("tx", "ty", "counts")
    for lvl in range(1, levels + 1):
        cur = _rollup_once(cur, res, block_fn=_quadrant_block_mode)
        tagged = cur.select(
            F.lit(lvl).alias("level"), "tx", "ty", "counts"
        )
        out = tagged if out is None else out.unionByName(tagged)
    return out


def pyramid_mode_sql_level1(tiles_table: str, res: int) -> str:
    """DuckDB twin of pyramid_mode's FIRST level, derived independently:
    per parent global pixel, votes grouped straight from base cells with
    gx >> 1, winner by (count DESC, value ASC) — the exact tie rule.
    Multi-level parity (majority-of-majorities) is pinned by the python
    oracle in tests; level 1 is where the two derivations can disagree."""
    return f"""
        WITH pcells AS (
          SELECT tx * {res} + i % {res} AS gx,
                 ty * {res} + i // {res} AS gy,
                 counts[i + 1] AS v
          FROM {tiles_table}, range(0, {res * res}) t(i)
          WHERE counts[i + 1] <> 0
        ), votes AS (
          SELECT CAST(FLOOR(gx / 2.0) AS BIGINT) AS pgx,
                 CAST(FLOOR(gy / 2.0) AS BIGINT) AS pgy,
                 v, COUNT(*)::BIGINT AS c
          FROM pcells GROUP BY 1, 2, 3
        ), win AS (
          SELECT pgx, pgy, v,
                 ROW_NUMBER() OVER (PARTITION BY pgx, pgy
                                    ORDER BY c DESC, v ASC) AS rn
          FROM votes
        )
        SELECT pgx, pgy, v FROM win WHERE rn = 1
    """


def pyramid_sum_sql(tiles_table: str, res: int, levels: int = 1) -> str:
    """DuckDB twin of pyramid_sum, derived INDEPENDENTLY: every level k is
    aggregated straight from base-level global pixels with gx >> k (floor
    shift via FLOOR division to match arithmetic shift on negatives), not by
    iterating 2x2 rollups."""
    per_level = []
    for k in range(1, levels + 1):
        f = 1 << k
        per_level.append(f"""
          SELECT {k} AS level,
                 CAST(FLOOR(gx / {f}.0 / {res}) AS BIGINT) AS tx,
                 CAST(FLOOR(gy / {f}.0 / {res}) AS BIGINT) AS ty,
                 CAST((CAST(FLOOR(gy / {f}.0) AS BIGINT) % {res} + {res}) % {res} AS INT) * {res}
                   + CAST((CAST(FLOOR(gx / {f}.0) AS BIGINT) % {res} + {res}) % {res} AS INT) AS pix,
                 SUM(n)::BIGINT AS s
          FROM cells GROUP BY 1, 2, 3, 4""")
    unions = "UNION ALL".join(per_level)
    return f"""
        WITH cells AS (
          SELECT tx * {res} + i % {res} AS gx,
                 ty * {res} + i // {res} AS gy,
                 counts[i + 1] AS n
          FROM {tiles_table}, range(0, {res * res}) t(i)
          WHERE counts[i + 1] <> 0
        ), lv AS ({unions})
        SELECT level, tx, ty,
               list_transform(range(0, {res * res}),
                              i -> COALESCE(m[i][1], 0)::BIGINT) AS counts
        FROM (SELECT level, tx, ty, MAP(list(pix), list(s)) AS m
              FROM lv GROUP BY 1, 2, 3)
    """


_IMG_SCHEMA = T.StructType(
    [
        T.StructField("level", T.IntegerType()),
        T.StructField("tx", T.LongType()),
        T.StructField("ty", T.LongType()),
        T.StructField("img", T.BinaryType()),
        T.StructField("side", T.IntegerType()),
        T.StructField("n_children", T.IntegerType()),
    ]
)


def _image_rollup_once(tiles: DataFrame, side: int, level: int) -> DataFrame:
    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        half = side // 2
        canvas = np.zeros((side, side, 3), dtype=np.uint8)
        for row in pdf.itertuples(index=False):
            px = np.frombuffer(row.img, dtype=np.uint8).reshape(side, side, 3)
            # 2x2 box mean, floor — exact integer, deterministic
            small = (
                px.astype(np.uint32)
                .reshape(half, 2, half, 2, 3)
                .sum(axis=(1, 3))
                // 4
            ).astype(np.uint8)
            qy, qx = int(row.ty) & 1, int(row.tx) & 1
            canvas[
                qy * half : (qy + 1) * half, qx * half : (qx + 1) * half
            ] = small
        return pd.DataFrame(
            {
                "level": [level],
                "tx": [int(key[0])],
                "ty": [int(key[1])],
                "img": [canvas.tobytes()],
                "side": [side],
                "n_children": [len(pdf)],
            }
        )

    return (
        tiles.select(
            F.shiftright(F.col("tx"), 1).alias("ptx"),
            F.shiftright(F.col("ty"), 1).alias("pty"),
            "tx", "ty", "img",
        )
        .groupBy("ptx", "pty")
        .applyInPandas(build, schema=_IMG_SCHEMA)
    )


def pyramid_image(
    tiles: DataFrame, side: int, levels: int = 1
) -> DataFrame:
    """Raw-RGB24 tile pyramid: (tx, ty, img binary[side*side*3]) -> levels
    1..levels of (level, tx, ty, img, side, n_children). Each parent canvas
    keeps the SAME side length; each present child is 2x2-box-averaged
    (integer floor) into its quadrant, absent children stay black. One
    groupBy(parent) shuffle per level over <= 4-row groups whose payload
    halves^0 stays side^2*3 bytes — pyramid cost is again a geometric
    series over the base level."""
    if side < 2 or side % 2:
        raise ValueError(f"side must be even and >= 2, got {side}")
    if levels < 1:
        raise ValueError("levels must be >= 1")
    out = None
    cur = tiles.select("tx", "ty", "img")
    for lvl in range(1, levels + 1):
        nxt = _image_rollup_once(cur, side, lvl)
        out = nxt if out is None else out.unionByName(nxt)
        cur = nxt.select("tx", "ty", "img")
    return out
