"""Point rasterization: per-tile density grids (heatmap tiles).

The raster-side complement of the tile cut (engine/tiles.py bundles vector
features, engine/multimodal.py mosaics image thumbnails): aggregate a point
table into one fixed-size count grid per map tile — the input of every
density/heatmap tile layer. Pure integer Column math end to end:

    point (x, y) -> tile (tx, ty) and in-tile pixel (px, py)   [floor division]
    groupBy (tile, pixel) count                                 [shuffle 1]
    complete the pixel set per nonempty tile (explode + join)   [narrow-ish]
    groupBy tile, sorted-struct fold into the dense array       [shuffle 2]

Scale: the first aggregation is the only one that sees point-table
cardinality, and it map-side combines (partial counts per partition) before
shuffling at most tiles x res^2 rows; everything after is bounded by the
OUTPUT size (tiles x res^2 slots), and the dense assembly is an
array_sort(collect_list(struct)) fold — O(res^2 log res^2) per tile, no
applyInPandas, no per-slot map scans (see the in-function note for the
measured pathology the map idiom had at dense tiles). Skewed megacity
tiles are absorbed by the map-side combine: a billion points on one tile
still reach the shuffle as <= res^2 rows per upstream partition.

The reference has no raster operator (its tiling is implicit in cell ids);
this serves the raster <-> vector axis of the brief alongside tile_assign.
DuckDB twin: heatmap_tiles_sql (list_transform over a generated pixel range,
joined against the sparse counts) — exact, pytest-checked.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def pixel_xy(res: int) -> tuple[Column, Column]:
    """Global pixel (gx, gy) of in-tile pixel "pix" of tile ("tx", "ty"): the
    raster family's one tile-pixel layout — heatmap_tiles' row-major
    pix = py*res + px in [0, res^2), tile (tx, ty) covering global pixels
    [tx*res, (tx+1)*res) x [ty*res, (ty+1)*res). gy is bigint; gx has the
    type of tx*res + pix. Inverse: tile_pixel."""
    p = F.col("pix")
    return (
        F.col("tx") * res + F.pmod(p, res),
        F.col("ty") * res + F.floor(p / res),
    )


def pixel_xy_np(tx, ty, res: int):
    """numpy twin of pixel_xy for whole tiles: int64 tile keys tx, ty (one
    per tile) -> int64 (gx, gy) of every pixel of every tile, tile by tile
    in pix order (the order of the tiles' flattened res^2 arrays)."""
    import numpy as np

    pix = np.arange(res * res, dtype=np.int64)
    tx = np.asarray(tx, dtype=np.int64)[:, None]
    ty = np.asarray(ty, dtype=np.int64)[:, None]
    return (
        (tx * res + pix % res).ravel(),
        (ty * res + pix // res).ravel(),
    )


def tile_pixel(
    res: int, gx: Column | str = "gx", gy: Column | str = "gy"
) -> tuple[Column, Column, Column]:
    """Inverse of pixel_xy: global pixel (gx, gy) -> (tx, ty, pix), tx/ty
    bigint floored toward -inf (so negative pixels land in negative tiles),
    pix int. The double division floors exactly for |gx|, |gy| < 2^45."""
    gx = F.col(gx) if isinstance(gx, str) else gx
    gy = F.col(gy) if isinstance(gy, str) else gy
    return (
        F.floor(gx / res),
        F.floor(gy / res),
        (F.pmod(gy, res) * res + F.pmod(gx, res)).cast("int"),
    )


def floor_div(num: Column, den: Column | int) -> Column:
    """floor(num / den) as int64 for an int64 num of any sign and a POSITIVE
    den: pmod is the nonnegative remainder, so num - pmod(num, den) is an
    exact multiple of den, and the double division is exact for
    |num| < 2^53 (not for every int64)."""
    d = den if isinstance(den, Column) else F.lit(den)
    return ((num - F.pmod(num, d)) / d).cast("long")


def heatmap_tiles(
    points: DataFrame,
    tile_size: float,
    res: int = 16,
    x_col: str = "x",
    y_col: str = "y",
    weight_col: str | None = None,
) -> DataFrame:
    """(x, y [, weight]) -> one row per nonempty tile: (tx, ty, counts,
    n_points, max_count) where counts is the dense row-major res*res grid
    (counts[py*res + px]), px/py index [tx*s, (tx+1)*s) split into res bins.
    Points exactly on a tile's upper edge belong to the next tile (half-open
    cells, consistent with floor()). With weight_col, cells sum int64 weights
    instead of counting."""
    s = float(tile_size)
    if s <= 0:
        raise ValueError("tile_size must be > 0")
    if not (1 <= res <= 256):
        raise ValueError("res must be in [1, 256]")
    x, y = F.col(x_col).cast("double"), F.col(y_col).cast("double")
    tx = F.floor(x / F.lit(s)).cast("long")
    ty = F.floor(y / F.lit(s)).cast("long")
    # in-tile offset in [0, 1): x/s - floor(x/s) (stable even for negatives)
    fx = x / F.lit(s) - F.floor(x / F.lit(s))
    fy = y / F.lit(s) - F.floor(y / F.lit(s))
    px = F.least(F.floor(fx * res).cast("int"), F.lit(res - 1))
    py = F.least(F.floor(fy * res).cast("int"), F.lit(res - 1))
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    sparse = (
        points.select(
            tx.alias("tx"), ty.alias("ty"),
            (py * res + px).alias("pix"), w.alias("w"),
        )
        .groupBy("tx", "ty", "pix")
        .agg(F.sum("w").alias("n"))
    )
    # dense assembly: complete the pixel set per nonempty tile (explode +
    # left join), then ONE array_sort(collect_list(struct)) fold — O(res^2
    # log res^2) per tile, bounded by the output arrays themselves. The
    # previous map_from_entries + per-slot element_at idiom is O(res^2 * k)
    # — Spark's map element_at linearly scans the keys — which is fine for
    # sparse tiles but catastrophic at production density: a 16M-point /
    # 4096-tile / res=64 build (k ~= 2600 nonzero pixels per tile) ran >10
    # minutes before this assembly and 8-15 s after. n_points/max_count keep
    # their exact pre-change semantics (aggregates over the SPARSE cell
    # sums only) via the presence flag, not over the zero-filled slots.
    keys = sparse.select("tx", "ty").distinct()
    full = (
        keys.select(
            "tx", "ty",
            F.explode(F.sequence(F.lit(0), F.lit(res * res - 1))).alias("pix"),
        )
        .join(sparse, ["tx", "ty", "pix"], "left")
        .select(
            "tx", "ty", "pix",
            F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n"),
            F.col("n").isNotNull().alias("real"),
        )
    )
    dense = F.transform(
        F.array_sort(F.collect_list(F.struct("pix", "n"))), lambda s: s["n"]
    )
    return full.groupBy("tx", "ty").agg(
        dense.alias("counts"),
        F.sum("n").alias("n_points"),
        F.max(F.when(F.col("real"), F.col("n"))).alias("max_count"),
    )


def kde_weights(
    radius: int, kernel: str = "epanechnikov", scale: int = 1000
) -> dict:
    """Integer stencil weights for kde_tiles. 'epanechnikov' is pure
    integer by construction: w(d) = r^2 + 1 - d^2 for d^2 <= r^2 (the
    parabolic falloff, all-positive, no float anywhere). 'gaussian' rounds
    scale * exp(-d^2 / (2 (r/2)^2)) once at PLAN time (the weights are
    literal ints thereafter, so the raster math stays exact int64)."""
    import math

    r = int(radius)
    if r < 1:
        raise ValueError(f"radius must be >= 1, got {radius}")
    out = {}
    for dy in range(-r, r + 1):
        for dx in range(-r, r + 1):
            d2 = dx * dx + dy * dy
            if d2 > r * r:
                continue
            if kernel == "epanechnikov":
                out[(dx, dy)] = r * r + 1 - d2
            elif kernel == "gaussian":
                s2 = (r / 2.0) ** 2
                w = int(round(scale * math.exp(-d2 / (2.0 * s2))))
                if w:
                    out[(dx, dy)] = w
            else:
                raise ValueError(
                    f"kernel must be epanechnikov or gaussian, got {kernel}"
                )
    return out


def kde_tiles(
    points: DataFrame,
    tile_size: float,
    res: int = 16,
    radius: int = 3,
    kernel: str = "epanechnikov",
    x_col: str = "x",
    y_col: str = "y",
    weight_col: str | None = None,
) -> DataFrame:
    """Kernel density estimation onto the tile grid (the heatmap/KDE layer
    every density map serves): bin the points (heatmap_tiles — ONE map-side
    combined shuffle that sees point cardinality) then smooth with an
    integer kernel stencil (focal_stencil — one halo exchange bounded by
    tile perimeter). Output (tx, ty, counts) holds per-pixel integer
    densities Σ w(d) * n(p + d); divide by the kernel mass for a normalized
    estimate. Epanechnikov weights are pure integers, so the whole pipeline
    is exact and DuckDB-twinnable (heatmap_tiles_sql + focal_stencil_sql —
    the 'hot' registry discipline). Composition, not new machinery: both
    stages are independently hash-checked operators."""
    from .focal import focal_stencil

    binned = heatmap_tiles(
        points, tile_size, res, x_col=x_col, y_col=y_col,
        weight_col=weight_col,
    ).select("tx", "ty", "counts")
    sm = focal_stencil(binned, res, kde_weights(radius, kernel))
    return sm.select("tx", "ty", F.col("focal").alias("counts"))


def rasterize_polygons(
    polys: DataFrame,
    tile_size: float,
    res: int = 16,
    id_col: str = "poly_id",
    rings_col: str = "ring",
    value_col: str | None = None,
    priority_col: str | None = None,
) -> DataFrame:
    """Vector -> raster polygon burn (the gdal_rasterize analog, cell-center
    rule): every pixel of the tile grid whose CENTER lies inside a polygon
    (even-odd, so holes subtract) gets the polygon's value; overlapping burns
    resolve deterministically to (highest priority, then lowest poly_id).
    Returns sparse pixels (gx, gy, value, poly_id) — feed sparse_to_tiles for
    the dense (tx, ty, counts) shape every raster-family consumer takes,
    which is what makes "zonal stats over polygon zones" a two-call
    composition (rasterize_polygons -> zonal_crosstab).

    `rings_col` is either one open ring (array<struct<x,y>>, the engine/clip
    convention) or an array of such rings (outer + holes, even-odd).

    Algorithm: SCANLINE fill, not per-pixel point-in-polygon — for each
    polygon and each pixel row gy in its bbox, the crossings of the row's
    center line y = (gy + 0.5) * pitch with all edges (half-open vertex rule
    (y1 <= yc) != (y2 <= yc), crossing x = x1 + (yc - y1)(x2 - x1)/(y2 - y1))
    are sorted; consecutive pairs [c0, c1) are interior spans, and the span's
    pixels are gx in [ceil(c0/pitch - 0.5), ceil(c1/pitch - 0.5) - 1]. Work
    is O(rows x edges + output pixels) per polygon instead of the per-pixel
    test's O(bbox pixels x edges) — the difference between filling a
    continent-sized polygon by its area and by its height. All of it is
    Column HOF algebra (sequence / filter / transform / array_sort /
    flatten): no UDF, no Python, whole-stage codegen; the only shuffle is
    the winner aggregation on (gx, gy).

    Exactness: the crossing and the two pixel-range bounds are plain IEEE
    double expressions, written operand-for-operand identically in the
    DuckDB twin (rasterize span algebra in raster_field's 'burn' oracle), so
    the pixel sets hash-match across engines; a pixel center exactly ON a
    span boundary follows the half-open [c0, c1) rule in both.

    Reference provenance: no reference analog (the reference has no raster
    operators); completes the vector->raster direction the brief's tile axis
    needs (points: heatmap_tiles; polygon mass: tile_areal_interp; polygon
    CLASS burn: this)."""
    import pyspark.sql.types as T

    s = float(tile_size)
    if s <= 0:
        raise ValueError("tile_size must be > 0")
    if not (1 <= res <= 256):
        raise ValueError("res must be in [1, 256]")
    pitch = s / res

    # normalize to array-of-rings: a single open ring column is wrapped
    el = polys.schema[rings_col].dataType.elementType
    rings = (
        F.array(F.col(rings_col))
        if isinstance(el, T.StructType)
        else F.col(rings_col)
    )
    val = (
        F.col(value_col).cast("long")
        if value_col is not None
        else F.col(id_col).cast("long")
    )
    pri = (
        F.col(priority_col).cast("long")
        if priority_col is not None
        else F.lit(0).cast("long")
    )
    ys_all = F.flatten(
        F.transform(rings, lambda r: F.transform(r, lambda p: p["y"]))
    )
    gy_lo = F.ceil(F.array_min(ys_all) / F.lit(pitch) - F.lit(0.5)).cast("long")
    gy_hi = F.floor(F.array_max(ys_all) / F.lit(pitch) - F.lit(0.5)).cast("long")
    base = polys.select(
        F.col(id_col).cast("long").alias("poly_id"),
        rings.alias("_rings"),
        val.alias("_val"),
        pri.alias("_pri"),
        F.explode(
            F.when(gy_lo <= gy_hi, F.sequence(gy_lo, gy_hi)).otherwise(
                F.array().cast("array<long>")
            )
        ).alias("gy"),
    )
    yc = (F.col("gy") + F.lit(0.5)) * F.lit(pitch)

    def ring_crossings(r):
        n = F.size(r)

        def vx(i):
            return F.element_at(r, (i + 1).cast("int"))["x"]

        def vy(i):
            return F.element_at(r, (i + 1).cast("int"))["y"]

        idx = F.filter(
            F.sequence(F.lit(0), n - 1),
            lambda i: (vy(i) <= yc) != (vy((i + 1) % n) <= yc),
        )
        return F.transform(
            idx,
            lambda i: vx(i)
            + (yc - vy(i)) * (vx((i + 1) % n) - vx(i)) / (vy((i + 1) % n) - vy(i)),
        )

    xs = F.array_sort(F.flatten(F.transform(F.col("_rings"), ring_crossings)))
    # pair index 1..floor(n/2), guarded (sequence(1, 0) would DESCEND); a
    # degenerate odd crossing count drops its dangling last element
    half = F.floor(F.size(xs) / 2).cast("long")
    spans = base.select(
        "poly_id", "gy", "_val", "_pri",
        F.explode(
            F.when(
                half >= 1,
                F.transform(
                    F.sequence(F.lit(1).cast("long"), half),
                    lambda j: F.struct(
                        F.element_at(xs, (j * 2 - 1).cast("int")).alias("lo"),
                        F.element_at(xs, (j * 2).cast("int")).alias("hi"),
                    ),
                ),
            ).otherwise(
                F.array().cast("array<struct<lo:double,hi:double>>")
            )
        ).alias("sp"),
    )
    gx_lo = F.ceil(F.col("sp.lo") / F.lit(pitch) - F.lit(0.5)).cast("long")
    gx_hi = (
        F.ceil(F.col("sp.hi") / F.lit(pitch) - F.lit(0.5)).cast("long") - 1
    )
    burned = spans.select(
        "poly_id", "gy", "_val", "_pri",
        F.explode(
            F.when(gx_lo <= gx_hi, F.sequence(gx_lo, gx_hi)).otherwise(
                F.array().cast("array<long>")
            )
        ).alias("gx"),
    )
    # winner per pixel: max priority, tie -> min poly_id (one hash agg; the
    # min-struct fold map-side combines, so overlap depth never shuffles)
    w = F.min(
        F.struct(
            (-F.col("_pri")).alias("np"),
            F.col("poly_id").alias("pid"),
            F.col("_val").alias("v"),
        )
    )
    return (
        burned.groupBy("gx", "gy")
        .agg(w.alias("_w"))
        .select(
            "gx", "gy",
            F.col("_w.v").alias("value"),
            F.col("_w.pid").alias("poly_id"),
        )
    )


def sparse_to_tiles(
    cells: DataFrame,
    res: int = 16,
    value_col: str = "value",
) -> DataFrame:
    """Sparse global pixels (gx, gy, value) -> the dense per-tile shape the
    raster family consumes: (tx, ty, counts array<long> row-major res*res),
    unmentioned pixels 0. Same bounded assembly as heatmap_tiles (explode the
    pixel range per nonempty tile, left join, one array_sort(collect_list)
    fold); negative coordinates floor into negative tiles (tile_pixel)."""
    if not (1 <= res <= 256):
        raise ValueError("res must be in [1, 256]")
    tx, ty, pix = tile_pixel(res)
    sparse = cells.select(
        tx.alias("tx"), ty.alias("ty"), pix.alias("pix"),
        F.col(value_col).cast("long").alias("n"),
    )
    keys = sparse.select("tx", "ty").distinct()
    full = (
        keys.select(
            "tx", "ty",
            F.explode(F.sequence(F.lit(0), F.lit(res * res - 1))).alias("pix"),
        )
        .join(sparse, ["tx", "ty", "pix"], "left")
        .select(
            "tx", "ty", "pix",
            F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n"),
        )
    )
    dense = F.transform(
        F.array_sort(F.collect_list(F.struct("pix", "n"))), lambda st: st["n"]
    )
    return full.groupBy("tx", "ty").agg(dense.alias("counts"))


def rasterize_polygons_sql(
    table: str,
    tile_size: float,
    res: int = 16,
    id_expr: str = "poly_id",
    rings_expr: str = "rings",
    value_expr: str | None = None,
    priority_expr: str | None = None,
) -> str:
    """DuckDB twin of rasterize_polygons — the identical scanline algebra
    (same half-open vertex rule, same operand-order crossing expression, same
    ceil/floor pixel-range bounds, same (pri DESC, poly_id) winner), so the
    pixel sets hash-match bit for bit. `rings_expr` must be an array of open
    rings (wrap a single-ring column as [ring])."""
    pitch = repr(float(tile_size) / res)
    val = value_expr if value_expr is not None else id_expr
    pri = priority_expr if priority_expr is not None else "0"
    # 1-based ring indices i in 1..len; successor 1 + i % len wraps the ring
    nxt = "1 + i % len(r)"
    cond = f"(r[i].y <= yc) <> (r[{nxt}].y <= yc)"
    cross = (
        f"r[i].x + (yc - r[i].y) * (r[{nxt}].x - r[i].x)"
        f" / (r[{nxt}].y - r[i].y)"
    )
    ys = f"flatten(list_transform(rings, r -> list_transform(r, v -> v.y)))"
    return f"""
        WITH p AS (
          SELECT CAST({id_expr} AS BIGINT) AS poly_id, {rings_expr} AS rings,
                 CAST({val} AS BIGINT) AS val, CAST({pri} AS BIGINT) AS pri
          FROM {table}
        ), rws AS (
          -- scalar generate_series (empty when lo > hi) + unnest: DuckDB's
          -- table-function form rejects lateral column bounds
          SELECT poly_id, rings, val, pri,
                 unnest(generate_series(
                   CAST(ceil(list_min({ys}) / {pitch} - 0.5) AS BIGINT),
                   CAST(floor(list_max({ys}) / {pitch} - 0.5) AS BIGINT)))
                   AS gy
          FROM p
        ), xs AS (
          SELECT poly_id, val, pri, gy,
                 list_sort(flatten(list_transform(rings, r ->
                   list_transform(
                     list_filter(range(1, len(r) + 1), i -> {cond}),
                     i -> {cross})))) AS cx
          FROM (SELECT *, (gy + 0.5) * {pitch} AS yc FROM rws)
        ), spans AS (
          SELECT poly_id, val, pri, gy, cx,
                 unnest(generate_series(
                   1, CAST(floor(len(cx) / 2) AS BIGINT))) AS j
          FROM xs
        ), burned AS (
          SELECT poly_id, val, pri, gy,
                 unnest(generate_series(
                   CAST(ceil(cx[2 * j - 1] / {pitch} - 0.5) AS BIGINT),
                   CAST(ceil(cx[2 * j] / {pitch} - 0.5) AS BIGINT) - 1)) AS gx
          FROM spans
        )
        SELECT gx, gy, val AS value, poly_id FROM (
          SELECT gx, gy, val, poly_id,
                 ROW_NUMBER() OVER (PARTITION BY gx, gy
                   ORDER BY pri DESC, poly_id) AS rn
          FROM burned) WHERE rn = 1
    """


def tile_areal_interp(
    polys: DataFrame,
    tile_size: float,
    value_col: str = "value",
    id_col: str = "poly_id",
    ring_col: str = "ring",
) -> DataFrame:
    """Areal-weighted interpolation of polygon attributes onto the tile grid:
    each polygon's value spreads over the tiles it covers proportionally to
    the EXACT intersection area (engine.clip.polygon_clip_to_tiles —
    Sutherland-Hodgman against the tile rect, so the weights are the true
    geometric fractions, not bbox or centroid approximations). Output one row
    per touched tile: (tx, ty, value, n_polys); sum(value) over tiles equals
    sum over polygons (mass conservation, up to fp rounding) because each
    polygon's piece areas partition its shoelace area.

    The standard uniform-density assumption of areal interpolation applies:
    a polygon's value is treated as evenly spread over its interior.

    Scale: clip explodes (poly, tile) pairs with NO shuffle (bbox generate +
    projection); per-polygon total area comes from the same shoelace measure
    WITHOUT a second pass over the pieces; one groupBy(tile) aggregates. A
    continent-sized polygon fans out to its tile count — the explode is the
    honest cost of rasterizing it."""
    from . import clip as _clip
    from . import geomfns

    pieces = _clip.polygon_clip_to_tiles(
        polys, tile_size, id_col=id_col, ring_col=ring_col
    ).select("poly_id", "tx", "ty", F.col("area").alias("_piece"))
    totals = polys.select(
        F.col(id_col).alias("poly_id"),
        F.col(value_col).cast("double").alias("_value"),
        geomfns.polygon_area(
            F.transform(F.col(ring_col), lambda p: p["x"].cast("double")),
            F.transform(F.col(ring_col), lambda p: p["y"].cast("double")),
        ).alias("_total"),
    ).filter(F.col("_total") > 0.0)
    return (
        pieces.join(totals, "poly_id")
        .groupBy("tx", "ty")
        .agg(
            F.sum(F.col("_value") * F.col("_piece") / F.col("_total")).alias(
                "value"
            ),
            F.count_distinct(F.col("poly_id")).alias("n_polys"),
        )
    )


def raster_regions(
    tiles: DataFrame,
    res: int,
    classify=None,
    connectivity: int = 4,
    min_cells: int = 1,
) -> DataFrame:
    """Raster -> vector region extraction (the GIS "raster to polygons"
    step): group CONNECTED same-class pixels of the tile raster into
    regions via the distributed connected-components machinery
    (engine.graph.connected_components — alternating large-star/small-star,
    O(log n) rounds), and emit one row per region with its class, cell
    count, mass and integer bbox.

    `classify` is a Column function count -> class (long); cells whose
    class is NULL are background and excluded. Default: presence (every
    nonzero cell is class 1). connectivity=4 (rook) or 8 (queen).

    Scale: edges are generated by ONE equi-join of the cell frame against
    itself on (neighbor coordinate, class) — 2 (or 4) probes per cell, no
    window explosion; CC rounds are the O(log n) star algebra already
    load-tested at 16M nodes (BENCH/BASELINE.md). Output region_id is the
    component's minimum packed cell id — deterministic.

    The reference has no raster operator; this closes the raster->vector
    direction of the tile axis (tile_assign / heatmap_tiles go
    vector->raster)."""
    from .graph import connected_components

    if connectivity not in (4, 8):
        raise ValueError("connectivity must be 4 or 8")
    if res < 1:
        raise ValueError("res must be >= 1")
    off, k = 1 << 30, 1 << 31
    cells = tiles.select(
        "tx", "ty", F.posexplode("counts").alias("pix", "n")
    ).filter(F.col("n") != 0)
    gx, gy = pixel_xy(res)
    cells = cells.select(gx.alias("gx"), gy.alias("gy"), "n")
    cls = (
        classify(F.col("n")) if classify is not None else F.lit(1)
    ).cast("long")
    cells = (
        cells.withColumn("cls", cls).filter(F.col("cls").isNotNull())
    )
    nid = (F.col("gx") + off) * k + (F.col("gy") + off)
    cells = cells.withColumn("id", nid)
    nbrs = [(1, 0), (0, 1)] + ([(1, 1), (1, -1)] if connectivity == 8 else [])
    probe = cells.select(
        F.col("id").alias("u"),
        "cls",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                    for dx, dy in nbrs
                ]
            )
        ).alias("o"),
        "gx",
        "gy",
    ).select(
        "u", "cls",
        (F.col("gx") + F.col("o.dx")).alias("gx"),
        (F.col("gy") + F.col("o.dy")).alias("gy"),
    )
    edges = probe.join(
        cells.select(
            F.col("id").alias("v"), "gx", "gy", F.col("cls").alias("cls2")
        ),
        ["gx", "gy"],
    ).filter(F.col("cls") == F.col("cls2")).select("u", "v")
    comp = connected_components(
        edges, "u", "v", nodes=cells.select("id"), id_col="id"
    )
    # region perimeter from rook adjacencies: every same-class rook pair is
    # same-region (the rook edge connects them under either connectivity),
    # so perimeter = 4 * n_cells - 2 * rook_pairs — exact, no second CC
    if connectivity == 4:
        rook_edges = edges
    else:
        rook_probe = cells.select(
            F.col("id").alias("u"), "cls",
            F.explode(
                F.array(
                    F.struct(F.lit(1).alias("dx"), F.lit(0).alias("dy")),
                    F.struct(F.lit(0).alias("dx"), F.lit(1).alias("dy")),
                )
            ).alias("o"),
            "gx", "gy",
        ).select(
            "u", "cls",
            (F.col("gx") + F.col("o.dx")).alias("gx"),
            (F.col("gy") + F.col("o.dy")).alias("gy"),
        )
        rook_edges = rook_probe.join(
            cells.select(
                F.col("id").alias("v"), "gx", "gy", F.col("cls").alias("cls2")
            ),
            ["gx", "gy"],
        ).filter(F.col("cls") == F.col("cls2")).select("u", "v")
    adj = (
        rook_edges.join(comp, rook_edges["u"] == comp["id"])
        .groupBy(F.col("comp").alias("region_id"))
        .agg(F.count("*").alias("_n_adj"))
    )
    base = (
        cells.join(comp, "id")
        .groupBy(F.col("comp").alias("region_id"))
        .agg(
            F.max("cls").alias("cls"),
            F.count("*").alias("n_cells"),
            F.sum("n").alias("total"),
            F.min("gx").alias("min_gx"),
            F.max("gx").alias("max_gx"),
            F.min("gy").alias("min_gy"),
            F.max("gy").alias("max_gy"),
        )
        .filter(F.col("n_cells") >= int(min_cells))
    )
    peri = (
        F.lit(4) * F.col("n_cells")
        - F.lit(2) * F.coalesce(F.col("_n_adj"), F.lit(0))
    ).cast("long")
    import math as _math

    return (
        base.join(adj, "region_id", "left")
        .withColumn("perimeter", peri)
        .withColumn(
            # isoperimetric quotient 4*pi*A/P^2 in cell units: 1 for a
            # disk, pi/4 ~ 0.785 for a square region, -> 0 for filaments
            "compactness",
            F.lit(4.0 * _math.pi) * F.col("n_cells").cast("double")
            / (F.col("perimeter") * F.col("perimeter")).cast("double"),
        )
        .drop("_n_adj")
    )


def heatmap_tiles_sql(
    table: str,
    tile_size: float,
    res: int = 16,
    x_expr: str = "x",
    y_expr: str = "y",
    weight_expr: str | None = None,
) -> str:
    """DuckDB twin of heatmap_tiles: same half-open binning, dense grid built
    by list_transform over the pixel range joined to a pixel->count MAP."""
    s = repr(float(tile_size))
    w = "1::BIGINT" if weight_expr is None else f"CAST({weight_expr} AS BIGINT)"
    return f"""
        WITH pts AS (
          SELECT CAST(FLOOR({x_expr} / {s}) AS BIGINT) AS tx,
                 CAST(FLOOR({y_expr} / {s}) AS BIGINT) AS ty,
                 LEAST(CAST(FLOOR(({y_expr} / {s} - FLOOR({y_expr} / {s})) * {res}) AS INT), {res - 1}) * {res}
               + LEAST(CAST(FLOOR(({x_expr} / {s} - FLOOR({x_expr} / {s})) * {res}) AS INT), {res - 1}) AS pix,
                 {w} AS w
          FROM {table}
        ), sparse AS (
          SELECT tx, ty, pix, SUM(w)::BIGINT AS n FROM pts GROUP BY 1, 2, 3
        ), tiles AS (
          SELECT tx, ty, MAP(list(pix), list(n)) AS m,
                 SUM(n)::BIGINT AS n_points, MAX(n)::BIGINT AS max_count
          FROM sparse GROUP BY 1, 2
        )
        SELECT tx, ty,
               list_transform(range(0, {res * res}),
                              i -> COALESCE(m[i][1], 0)::BIGINT) AS counts,
               n_points, max_count
        FROM tiles
    """


def local_algebra(
    rasters: list[DataFrame],
    expr,
    res: int = 16,
) -> DataFrame:
    """Map algebra, local operation (the Raster Calculator analog): apply an
    arbitrary per-cell integer Column expression across k ALIGNED tile
    rasters (each (tx, ty, counts: array<long>), same grid). The engine owns
    alignment: tiles are FULL-OUTER joined on the tile key with absent tiles
    zero-filled (the family's padding), then `expr` — a callable taking k
    per-cell Columns and returning one integer Column — folds the k dense
    arrays into the output cell value via one zip_with chain. No UDF, no
    shuffle beyond the k-way join on the tile key (co-partitioned by AQE);
    cell arithmetic stays inside whole-stage codegen.

    expr examples: lambda a, b: a - b (change detection);
    lambda a, b: F.when(b > 0, a).otherwise(0) (masking);
    lambda a: a * 2 + 1 (unary rescale).

    Exactness contract: the caller's expr should keep values int64 (the
    family discipline — FLOOR-scale any ratio); the result column is cast to
    long. DuckDB twin: per-expression, via list_transform over zipped lists
    (see tests/test_raster.py::test_local_algebra_duckdb_twin for the
    pattern).

    Reference provenance: no reference analog; completes the raster family's
    local-op axis (focal = neighborhood, zonal = region, local = per-cell).
    """
    if not rasters:
        raise ValueError("local_algebra needs at least one raster")
    k = len(rasters)
    zeros = F.array_repeat(F.lit(0).cast("long"), res * res)
    joined = rasters[0].select(
        "tx", "ty", F.col("counts").alias("_c0")
    )
    for i, r in enumerate(rasters[1:], start=1):
        joined = joined.join(
            r.select("tx", "ty", F.col("counts").alias(f"_c{i}")),
            ["tx", "ty"], "full_outer",
        )
    cols = [F.coalesce(F.col(f"_c{i}"), zeros) for i in range(k)]
    if k == 1:
        out = F.transform(cols[0], lambda a: expr(a).cast("long"))
    else:
        # fold pairwise: zip the first two into structs of accumulated
        # operands, then apply expr at the end — for the common k<=3 case
        # just nest zip_with directly
        if k == 2:
            out = F.zip_with(
                cols[0], cols[1], lambda a, b: expr(a, b).cast("long")
            )
        elif k == 3:
            pair = F.zip_with(
                cols[0], cols[1], lambda a, b: F.struct(
                    a.alias("a"), b.alias("b")
                )
            )
            out = F.zip_with(
                pair, cols[2],
                lambda p, c: expr(p["a"], p["b"], c).cast("long"),
            )
        else:
            raise ValueError(
                "local_algebra supports 1-3 rasters per call; compose calls "
                "for wider expressions"
            )
    return joined.select("tx", "ty", out.alias("counts"))


def zonal_crosstab(
    zones: DataFrame,
    values: DataFrame,
    res: int = 16,
) -> DataFrame:
    """Cross-tabulate two aligned tile rasters (the ESRI Combine / Tabulate
    Area analog): for every (zone_class, value_class) pair that co-occurs at
    a cell, report how many cells carry it and the summed value mass.
    `zones` holds integer class labels per cell (0 = nodata, skipped);
    `values` holds integer cell values (all cells of a zone counted,
    including zero-valued ones, so zone areas are faithful).

    Returns (zone, value, n_cells, value_sum) — value here is the VALUE
    RASTER'S CLASS (distinct cell value), the Combine semantics; value_sum
    = value * n_cells is emitted for the Tabulate-Area-style mass reading.

    Plan: both rasters sparse-explode (zones filter label != 0, values keep
    zeros via the dense side of the join), ONE (gx, gy) equi-join, one
    map-side-combined hash agg on (zone, value). Output cardinality is
    bounded by distinct zone x value classes — tiny next to the cell count.
    DuckDB twin: zonal_crosstab_sql (hash-exact, all int64)."""
    gx, gy = pixel_xy(res)
    z = (
        zones.select("tx", "ty", F.posexplode("counts").alias("pix", "zone"))
        .filter(F.col("zone") != 0)
        .select(
            gx.alias("gx"), gy.alias("gy"),
            F.col("zone").cast("long").alias("zone"),
        )
    )
    v = values.select(
        "tx", "ty", F.posexplode("counts").alias("pix", "value")
    ).select(
        gx.alias("gx"), gy.alias("gy"),
        F.col("value").cast("long").alias("value"),
    )
    return (
        z.join(v, ["gx", "gy"])
        .groupBy("zone", "value")
        .agg(
            F.count("*").alias("n_cells"),
            F.sum("value").alias("value_sum"),
        )
    )


def zonal_stats_tiles(
    zones: DataFrame,
    values: DataFrame,
    res: int = 16,
) -> DataFrame:
    """Per-zone statistics of a value raster (the ESRI Zonal Statistics
    analog, and the second half of the rasterize_polygons -> "zonal stats
    over polygon zones" composition): for every zone label (0 = nodata,
    skipped) report cell count, sum, min, max over the ALIGNED value
    raster's co-located cells — all of a zone's cells count, including
    zero-valued ones, so means derived as vsum/n_cells are faithful.

    Same plan shape as zonal_crosstab: two sparse explodes, ONE (gx, gy)
    equi-join, one map-side-combined hash agg keyed by zone — output
    cardinality = distinct zones. Returns (zone, n_cells, vsum, vmin,
    vmax)."""
    gx, gy = pixel_xy(res)
    z = (
        zones.select("tx", "ty", F.posexplode("counts").alias("pix", "zone"))
        .filter(F.col("zone") != 0)
        .select(
            gx.alias("gx"), gy.alias("gy"),
            F.col("zone").cast("long").alias("zone"),
        )
    )
    v = values.select(
        "tx", "ty", F.posexplode("counts").alias("pix", "value")
    ).select(
        gx.alias("gx"), gy.alias("gy"),
        F.col("value").cast("long").alias("value"),
    )
    return (
        z.join(v, ["gx", "gy"])
        .groupBy("zone")
        .agg(
            F.count("*").alias("n_cells"),
            F.sum("value").alias("vsum"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
        )
    )


def zonal_categorical(
    zones: DataFrame,
    values: DataFrame,
    res: int = 16,
) -> DataFrame:
    """Per-zone CATEGORICAL statistics of an aligned value raster — the
    rest of the ESRI Zonal Statistics family for class-valued rasters:
    majority (most frequent value), minority (least frequent), their
    counts, and variety (distinct values), per nonzero zone label. Ties
    break to the SMALLEST value — deterministic and twin-reproducible.

    Plan: the zonal_stats_tiles explode/equi-join, then ONE
    (zone, value) hash agg (map-side combined) whose output is bounded by
    zone x class pairs, then a zone-keyed argmin/argmax — never touches
    raw cells twice. Returns (zone, variety, majority, majority_n,
    minority, minority_n)."""
    gx, gy = pixel_xy(res)
    z = (
        zones.select("tx", "ty", F.posexplode("counts").alias("pix", "zone"))
        .filter(F.col("zone") != 0)
        .select(
            gx.alias("gx"), gy.alias("gy"),
            F.col("zone").cast("long").alias("zone"),
        )
    )
    v = values.select(
        "tx", "ty", F.posexplode("counts").alias("pix", "value")
    ).select(
        gx.alias("gx"), gy.alias("gy"),
        F.col("value").cast("long").alias("value"),
    )
    zv = (
        z.join(v, ["gx", "gy"])
        .groupBy("zone", "value")
        .agg(F.count("*").alias("c"))
    )
    # deterministic argmax/argmin by packed struct ordering: min-struct of
    # (-c, value) is the majority (largest count, smallest value on ties);
    # min-struct of (c, value) the minority
    return zv.groupBy("zone").agg(
        F.count("*").alias("variety"),
        F.min(F.struct((-F.col("c")).alias("nc"), F.col("value").alias("v")))
        .alias("_maj"),
        F.min(F.struct(F.col("c").alias("c"), F.col("value").alias("v")))
        .alias("_min"),
    ).select(
        "zone", "variety",
        F.col("_maj.v").alias("majority"),
        (-F.col("_maj.nc")).cast("long").alias("majority_n"),
        F.col("_min.v").alias("minority"),
        F.col("_min.c").cast("long").alias("minority_n"),
    )


def zonal_categorical_sql(zones_table: str, values_table: str,
                          res: int) -> str:
    """DuckDB twin of zonal_categorical — identical explode/join/agg and
    the same (-count, value) / (count, value) struct-min tie-breaks via
    ORDER BY ... LIMIT 1 arg selection."""
    def cells(table: str, col: str, skip_zero: bool) -> str:
        where = "WHERE counts[i + 1] <> 0" if skip_zero else ""
        return f"""
          SELECT tx * {res} + i % {res} AS gx,
                 ty * {res} + i // {res} AS gy,
                 CAST(counts[i + 1] AS BIGINT) AS {col}
          FROM {table}, range(0, {res * res}) t(i) {where}
        """

    return f"""
        WITH zc AS ({cells(zones_table, "zone", True)}),
        vc AS ({cells(values_table, "value", False)}),
        zv AS (
          SELECT z.zone, v.value, COUNT(*)::BIGINT AS c
          FROM zc z JOIN vc v ON v.gx = z.gx AND v.gy = z.gy
          GROUP BY z.zone, v.value
        ), ranked AS (
          SELECT zone, value, c,
                 ROW_NUMBER() OVER (PARTITION BY zone
                                    ORDER BY c DESC, value ASC) AS rmaj,
                 ROW_NUMBER() OVER (PARTITION BY zone
                                    ORDER BY c ASC, value ASC) AS rmin
          FROM zv
        ), vty AS (
          SELECT zone, COUNT(*)::BIGINT AS variety FROM zv GROUP BY zone
        )
        SELECT v.zone, v.variety,
               maj.value AS majority, maj.c AS majority_n,
               mnr.value AS minority, mnr.c AS minority_n
        FROM vty v
        JOIN (SELECT zone, value, c FROM ranked WHERE rmaj = 1) maj
          USING (zone)
        JOIN (SELECT zone, value, c FROM ranked WHERE rmin = 1) mnr
          USING (zone)
    """


def zonal_stats_tiles_sql(zones_table: str, values_table: str,
                          res: int) -> str:
    """DuckDB twin of zonal_stats_tiles — identical explode/join/agg."""
    def cells(table: str, col: str, skip_zero: bool) -> str:
        where = "WHERE counts[i + 1] <> 0" if skip_zero else ""
        return f"""
          SELECT tx * {res} + i % {res} AS gx,
                 ty * {res} + i // {res} AS gy,
                 CAST(counts[i + 1] AS BIGINT) AS {col}
          FROM {table}, range(0, {res * res}) t(i) {where}
        """

    return f"""
        WITH z AS ({cells(zones_table, "zone", True)}),
             v AS ({cells(values_table, "value", False)})
        SELECT z.zone, COUNT(*)::BIGINT AS n_cells,
               SUM(v.value)::BIGINT AS vsum,
               MIN(v.value)::BIGINT AS vmin,
               MAX(v.value)::BIGINT AS vmax
        FROM z JOIN v USING (gx, gy)
        GROUP BY 1
    """


def zonal_crosstab_sql(zones_table: str, values_table: str, res: int) -> str:
    """DuckDB twin of zonal_crosstab — identical explode/filter/join/agg."""
    def cells(table: str, col: str, skip_zero: bool) -> str:
        where = f"WHERE counts[i + 1] <> 0" if skip_zero else ""
        return f"""
          SELECT tx * {res} + i % {res} AS gx,
                 ty * {res} + i // {res} AS gy,
                 CAST(counts[i + 1] AS BIGINT) AS {col}
          FROM {table}, range(0, {res * res}) t(i) {where}
        """

    return f"""
        WITH z AS ({cells(zones_table, "zone", True)}),
             v AS ({cells(values_table, "value", False)})
        SELECT z.zone, v.value, COUNT(*)::BIGINT AS n_cells,
               SUM(v.value)::BIGINT AS value_sum
        FROM z JOIN v USING (gx, gy)
        GROUP BY 1, 2
    """
