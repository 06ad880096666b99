"""Terrain derivatives over the tile raster — slope / aspect / hillshade
(Horn's method), the classic DEM trio, built on the focal family's halo
exchange.

Input is the engine's dense tile shape (tx, ty, counts) with integer pixel
values read as elevations (the same int64 discipline as focal/pyramid: a
real DEM quantizes to cm/mm fixed-point on ingest). Two layers:

1. `terrain_gradients` — the exact-integer core. Horn's 3x3 weighted
   central differences, kept as INTEGER NUMERATORS so nothing floats:

     dzdx8[p] = (z[E-ne] + 2 z[e] + z[se]) - (z[nw] + 2 z[w] + z[sw])
     dzdy8[p] = (z[nw] + 2 z[n] + z[ne]) - (z[sw] + 2 z[s] + z[se])

   (y up: gy increases northward; the /(8*cellsize) denominator is deferred
   to the float layer). Both gradients ride ONE fused halo pass — the same
   strip-exchange machinery and fusion pattern as focal.gi_star: shuffle
   O(perimeter) per tile, numpy slice arithmetic in the Arrow kernel, zero
   padding outside the input tile set (edge pixels see 0-elevation
   neighbors — consistent with every focal operator here; mask-aware
   clamping is a finish-kernel swap if a consumer needs gdal-style edges).
   HORN_DZDX / HORN_DZDY are plain stencil weight maps, so the DuckDB
   twin is focal.focal_stencil_sql per stencil (the registry's
   `raster_field` 'ter' rows are hash-checked that way) and the Python
   oracle in tests/test_terrain.py recomputes the sums directly.

2. `slope_aspect_hillshade` — the float view, pure Column HOFs over the
   integer gradient arrays (no UDF):

     p = z_factor * dzdx8 / (8 * cellsize)      q = likewise for dzdy8
     slope_rad  = atan(sqrt(p^2 + q^2))
     aspect_rad = pmod(atan2(-p, -q), 2 pi)   # azimuth of steepest DESCENT,
                                  # clockwise from north in [0, 2 pi);
                                  # flat pixels emit -1.0
     hillshade  = 255 * max(0, (sin(alt) - cos(alt) * (p sin(az) + q cos(az)))
                               / sqrt(1 + p^2 + q^2))

   The hillshade line is n.l for unit normal n = (-p, -q, 1)/|.| and light
   l = (sin az cos alt, cos az cos alt, sin alt) — algebraically the
   standard Horn/gdaldem shading, written in the form that needs no aspect
   branch. Defaults az=315, alt=45 (the cartographic NW sun).

Reference provenance: the reference (osm-history-analysis) has no raster
surface; this extends the focal family (engine/focal.py — SURVEY.md §2
additions) with the terrain derivatives a DEM/elevation pipeline publishes.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .raster import pixel_xy, tile_pixel
from .session import (
    driver_table, local_relation, local_table, truncate_lineage,
)

# Horn stencils as focal_stencil weight maps ((dx, dy) -> weight, y up).
HORN_DZDX = {
    (1, -1): 1, (1, 0): 2, (1, 1): 1,
    (-1, -1): -1, (-1, 0): -2, (-1, 1): -1,
}
HORN_DZDY = {
    (-1, 1): 1, (0, 1): 2, (1, 1): 1,
    (-1, -1): -1, (0, -1): -2, (1, -1): -1,
}


def _inner_halo(halo: np.ndarray, res: int, r: int, k: int) -> np.ndarray:
    """The radius-k halo inside a radius-r one (k <= r): the same tile with
    only its k nearest rings of neighbor cells."""
    return halo[r - k : r + k + res, r - k : r + k + res]


def _np_horn(halo: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Horn numerators (dzdx8, dzdy8) as res x res grids from a radius-1
    halo: the kernel of terrain_gradients."""
    # halo rows are y (gy up), cols are x; slice offsets mirror
    # focal_stencil's halo[r+dy : r+dy+res, r+dx : r+dx+res] reads
    def sh(dx: int, dy: int) -> np.ndarray:
        return halo[1 + dy : 1 + dy + res, 1 + dx : 1 + dx + res]

    east = sh(1, -1) + 2 * sh(1, 0) + sh(1, 1)
    west = sh(-1, -1) + 2 * sh(-1, 0) + sh(-1, 1)
    north = sh(-1, 1) + 2 * sh(0, 1) + sh(1, 1)
    south = sh(-1, -1) + 2 * sh(0, -1) + sh(1, -1)
    return east - west, north - south


def terrain_gradients(tiles: DataFrame, res: int) -> DataFrame:
    """(tx, ty, counts) -> (tx, ty, dzdx8, dzdy8): Horn gradient NUMERATORS
    per pixel, exact int64 arrays, both stencils fused into one
    strip-exchange pass."""
    from engine.focal import _halo_apply

    def finish(halo: np.ndarray, _mask: np.ndarray) -> dict:
        dzdx8, dzdy8 = _np_horn(halo, res)
        return {
            "dzdx8": dzdx8.reshape(-1).tolist(),
            "dzdy8": dzdy8.reshape(-1).tolist(),
        }

    return _halo_apply(
        tiles, res, 1, finish,
        fields=[
            ("dzdx8", T.ArrayType(T.LongType())),
            ("dzdy8", T.ArrayType(T.LongType())),
        ],
    )


def _shade_exprs(
    dzdx8: Column,
    dzdy8: Column,
    cellsize: float,
    z_factor: float,
    azimuth_deg: float,
    altitude_deg: float,
) -> tuple[Column, Column, Column]:
    """Per-pixel (slope_rad, aspect_rad, hillshade) Columns from the two
    int64 gradient-numerator Columns — scalar form, zip_with-able."""
    s = float(z_factor) / (8.0 * float(cellsize))
    p = dzdx8.cast("double") * F.lit(s)
    q = dzdy8.cast("double") * F.lit(s)
    az = math.radians(float(azimuth_deg))
    alt = math.radians(float(altitude_deg))
    slope = F.atan(F.sqrt(p * p + q * q))
    # pmod to [0, 2*pi) does double duty: GIS-conventional clockwise-from-
    # north range AND signed-zero safety — at p = +-0.0 the atan2 branch cut
    # returns +-pi depending on how the engine negates zero (measured: Spark
    # +pi, numpy -pi at dzdx8=0, dzdy8>0); both fold to +pi under pmod
    aspect = F.when(
        (dzdx8 == 0) & (dzdy8 == 0), F.lit(-1.0)
    ).otherwise(F.pmod(F.atan2(-p, -q), F.lit(2.0 * math.pi)))
    cang = (
        F.lit(math.sin(alt))
        - F.lit(math.cos(alt)) * (p * F.lit(math.sin(az)) + q * F.lit(math.cos(az)))
    ) / F.sqrt(F.lit(1.0) + p * p + q * q)
    shade = F.lit(255.0) * F.greatest(cang, F.lit(0.0))
    return slope, aspect, shade


def surface_products(tiles: DataFrame, res: int) -> DataFrame:
    """(tx, ty, counts) -> (tx, ty, tri, tpi_num, tpi_den, rough): the
    remaining gdaldem surface products as EXACT int64 arrays, one fused
    strip-exchange pass (engine.focal._halo_apply, radius 1), neighbors
    presence-masked exactly like terrain_gradients/d8_flow (cells outside
    the raster contribute nothing — gdaldem's edge behavior generalized to
    ragged tile sets):

      tri     = sum over present neighbors of |z - z_n|            (Wilson
                TRI x n_neighbors — the mean's exact integer numerator)
      tpi_num = n_neighbors * z - sum(z_n)   (TPI x n_neighbors: positive
                on ridges, negative in valleys, 0 on planes exactly)
      tpi_den = n_neighbors (8 interior; fewer on raster borders)
      rough   = max - min over the 3x3 window INCLUDING the center
                (gdaldem roughness, already integer-exact)

    Together with slope_aspect_hillshade (Horn) this completes the gdaldem
    product family (slope/aspect/hillshade/TRI/TPI/roughness). The float
    views are trivial Column ratios (tri/tpi_den, tpi_num/tpi_den); the
    exact numerators are what the DuckDB twin (surface_products_sql) and
    the registry hash-check. Reference provenance: the reference has no
    raster surface; this extends the SURVEY.md raster family."""
    from pyspark.sql import types as T

    from engine.focal import _halo_apply

    def finish(halo: np.ndarray, mask: np.ndarray) -> dict:
        zc = halo[1 : res + 1, 1 : res + 1]
        tri = np.zeros((res, res), dtype=np.int64)
        ssum = np.zeros((res, res), dtype=np.int64)
        cnt = np.zeros((res, res), dtype=np.int64)
        mx = zc.copy()
        mn = zc.copy()
        inside = mask > 0
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                if dx == 0 and dy == 0:
                    continue
                zn = halo[1 + dy : 1 + dy + res, 1 + dx : 1 + dx + res]
                nin = inside[1 + dy : 1 + dy + res, 1 + dx : 1 + dx + res]
                tri += np.where(nin, np.abs(zc - zn), 0)
                ssum += np.where(nin, zn, 0)
                cnt += nin.astype(np.int64)
                mx = np.where(nin & (zn > mx), zn, mx)
                mn = np.where(nin & (zn < mn), zn, mn)
        return {
            "tri": tri.reshape(-1).tolist(),
            "tpi_num": (cnt * zc - ssum).reshape(-1).tolist(),
            "tpi_den": cnt.reshape(-1).tolist(),
            "rough": (mx - mn).reshape(-1).tolist(),
        }

    fields = [
        ("tri", T.ArrayType(T.LongType())),
        ("tpi_num", T.ArrayType(T.LongType())),
        ("tpi_den", T.ArrayType(T.LongType())),
        ("rough", T.ArrayType(T.LongType())),
    ]
    return _halo_apply(tiles, res, 1, finish, fields=fields)


def surface_products_sql(cells_sql: str) -> str:
    """DuckDB twin of surface_products: `cells_sql` emits the dense pixels
    (gx, gy, z); per pixel one 8-offset neighbor LEFT join (absent cells
    contribute nothing, the presence-mask semantics — and, matching the
    engine, a pixel with ZERO present neighbors is still emitted with
    tri=0 / tpi_den=0 / rough=0: isolated cells and 1x1 rasters, the
    landform_classes_sql LEFT JOIN + COUNT(t.z) shape), then the
    identical integer aggregates. z is constant per group so MIN(z)
    reads it back."""
    nbrs = ", ".join(
        f"({dx}, {dy})"
        for dy in (-1, 0, 1) for dx in (-1, 0, 1)
        if not (dx == 0 and dy == 0)
    )
    return f"""
        WITH spcells AS MATERIALIZED ({cells_sql}),
        spnbr(dx, dy) AS (SELECT * FROM (VALUES {nbrs})),
        sppairs AS (
          SELECT c.gx, c.gy, c.z, t.z AS zn
          FROM spcells c
          LEFT JOIN spnbr n ON TRUE
          LEFT JOIN spcells t
            ON t.gx = c.gx + n.dx AND t.gy = c.gy + n.dy
        )
        SELECT gx, gy,
               CAST(COALESCE(SUM(ABS(z - zn)), 0) AS BIGINT) AS tri,
               CAST(COUNT(zn) * MIN(z) - COALESCE(SUM(zn), 0) AS BIGINT)
                 AS tpi_num,
               CAST(COUNT(zn) AS BIGINT) AS tpi_den,
               CAST(GREATEST(COALESCE(MAX(zn), MIN(z)), MIN(z))
                    - LEAST(COALESCE(MIN(zn), MIN(z)), MIN(z)) AS BIGINT)
                 AS rough
        FROM sppairs
        GROUP BY gx, gy
    """


# Zevenbergen-Thorne (1987) 3x3 quadric coefficients as focal_stencil weight
# maps, kept as integer NUMERATORS (y up; the cellsize denominators are
# deferred to the float layer, curvature_surfaces):
#   zt_d = z_W + z_E - 2 z_c            D = zt_d / (2 L^2)
#   zt_e = z_N + z_S - 2 z_c            E = zt_e / (2 L^2)
#   zt_f = -z_NW + z_NE + z_SW - z_SE   F = zt_f / (4 L^2)
#   zt_g = z_E - z_W                    G = zt_g / (2 L)
#   zt_h = z_N - z_S                    H = zt_h / (2 L)
# (D, E are the axis-aligned second differences, F the cross term, G, H the
# CENTRAL first differences — distinct from the Horn 6-point gradients in
# terrain_gradients, which weight the corner rows; both are shipped because
# slope/aspect consumers standardize on Horn while the curvature closed
# forms below are derived from the ZT quadric.)
ZT_STENCILS = {
    "zt_d": {(-1, 0): 1, (1, 0): 1, (0, 0): -2},
    "zt_e": {(0, 1): 1, (0, -1): 1, (0, 0): -2},
    "zt_f": {(-1, 1): -1, (1, 1): 1, (-1, -1): 1, (1, -1): -1},
    "zt_g": {(1, 0): 1, (-1, 0): -1},
    "zt_h": {(0, 1): 1, (0, -1): -1},
}


def curvature_numerators(tiles: DataFrame, res: int) -> DataFrame:
    """(tx, ty, counts) -> (tx, ty, zt_d, zt_e, zt_f, zt_g, zt_h): the five
    Zevenbergen-Thorne quadric-coefficient NUMERATORS per pixel as exact
    int64 arrays — everything the curvature surfaces (profile / plan /
    general) need, and nothing floats. All five stencils ride ONE
    strip-exchange pass (terrain_gradients' fusion pattern: shuffle
    O(perimeter) per tile, numpy slice arithmetic in the Arrow kernel).
    ZT_STENCILS are plain stencil weight maps, so the DuckDB twin is
    focal.focal_stencil_sql per stencil (the registry's `raster_field`
    'curv' half). Zero padding outside the input tile set, consistent
    with the whole focal family.

    Reference provenance: the reference (osm-history-analysis) has no
    raster surface; this completes the terrain-derivative family
    (Horn slope/aspect/hillshade + gdaldem TRI/TPI/roughness + ZT
    curvature) of SURVEY.md's raster additions."""
    from engine.focal import _halo_apply

    names = list(ZT_STENCILS)
    r = 1

    def finish(halo: np.ndarray, _mask: np.ndarray) -> dict:
        def sh(dx: int, dy: int) -> np.ndarray:
            return halo[r + dy : r + dy + res, r + dx : r + dx + res]

        zc = sh(0, 0)
        zn, zs, ze, zw = sh(0, 1), sh(0, -1), sh(1, 0), sh(-1, 0)
        return {
            "zt_d": (zw + ze - 2 * zc).reshape(-1).tolist(),
            "zt_e": (zn + zs - 2 * zc).reshape(-1).tolist(),
            "zt_f": (-sh(-1, 1) + sh(1, 1) + sh(-1, -1) - sh(1, -1))
            .reshape(-1).tolist(),
            "zt_g": (ze - zw).reshape(-1).tolist(),
            "zt_h": (zn - zs).reshape(-1).tolist(),
        }

    return _halo_apply(
        tiles, res, r, finish,
        fields=[(n, T.ArrayType(T.LongType())) for n in names],
    )


def curvature_surfaces(
    curv: DataFrame, cellsize: float = 1.0, z_factor: float = 1.0
) -> DataFrame:
    """Attach per-pixel double arrays (curv_general, curv_profile,
    curv_plan) to a curvature_numerators frame — pure Column HOFs over the
    exact int64 arrays, no Python. ESRI/ArcGIS Curvature conventions on the
    Zevenbergen-Thorne quadric (all values scaled x100 as ArcGIS does, so
    a unit paraboloid reads +-200):

      general = -200 * (D + E)                  > 0 convex up (ridge/peak)
      profile = 200 * (D G^2 + E H^2 + F G H) / (G^2 + H^2)
                                                < 0 upwardly convex along
                                                the slope line
      plan    = -200 * (D H^2 + E G^2 - F G H) / (G^2 + H^2)
                                                > 0 laterally convex
                                                (diverging contours)

    profile/plan are NULL on flat pixels (G = H = 0), where the slope-line
    decomposition is undefined; general is defined everywhere."""
    li2 = float(z_factor) / float(cellsize) ** 2

    def surf(which: int):
        def expr(s):
            d = s["zt_d"].cast("double") * F.lit(0.5 * li2)
            e = s["zt_e"].cast("double") * F.lit(0.5 * li2)
            f = s["zt_f"].cast("double") * F.lit(0.25 * li2)
            # G, H only ever appear as degree-2 monomials (G^2, H^2, GH)
            # over (G^2 + H^2): the 1/(2L) scale cancels, so use the raw
            # integer numerators and fold the leftover L^2 into li2
            g = s["zt_g"].cast("double")
            h = s["zt_h"].cast("double")
            den = g * g + h * h
            if which == 0:
                return F.lit(-200.0) * (d + e)
            if which == 1:
                num = F.lit(200.0) * (d * g * g + e * h * h + f * g * h)
            else:
                num = F.lit(-200.0) * (d * h * h + e * g * g - f * g * h)
            return F.when(
                (s["zt_g"] == 0) & (s["zt_h"] == 0), F.lit(None).cast("double")
            ).otherwise(num / den)

        return F.transform(
            F.arrays_zip("zt_d", "zt_e", "zt_f", "zt_g", "zt_h"), expr
        )

    return curv.select(
        "*",
        surf(0).alias("curv_general"),
        surf(1).alias("curv_profile"),
        surf(2).alias("curv_plan"),
    )


def _np_tpi(
    halo: np.ndarray, mask: np.ndarray, res: int, radius: int
) -> tuple[np.ndarray, np.ndarray]:
    """(tpi_num, tpi_den) as res x res grids from a radius-`radius` halo
    and its presence mask: the kernel of tpi_at."""
    from engine.focal import _box_sums

    zc = halo[radius : radius + res, radius : radius + res]
    zsum = _box_sums(halo, res, radius) - zc
    cnt = _box_sums(mask, res, radius) - 1
    return cnt * zc - zsum, cnt


def tpi_at(tiles: DataFrame, res: int, radius: int) -> DataFrame:
    """Multi-radius Topographic Position Index: (tx, ty, tpi_num, tpi_den)
    where per pixel tpi_num = cnt * z - sum(z_n) over the PRESENT cells of
    the (2*radius+1)^2 window excluding the center, tpi_den = cnt — the
    radius-generalized exact-int64 form of surface_products' TPI (identical
    at radius 1, asserted in tests). One strip-exchange pass, both window
    sums via integral images (O(pad^2) for any radius). TPI's scale
    dependence is the point: small radii see channels and ridgelines,
    large radii see valleys and massifs; landform_classes combines two
    radii into the Weiss position classes."""
    from engine.focal import _halo_apply

    def finish(halo: np.ndarray, mask: np.ndarray) -> dict:
        num, cnt = _np_tpi(halo, mask, res, radius)
        return {
            "tpi_num": num.reshape(-1).tolist(),
            "tpi_den": cnt.reshape(-1).tolist(),
        }

    return _halo_apply(
        tiles, res, radius, finish,
        fields=[
            ("tpi_num", T.ArrayType(T.LongType())),
            ("tpi_den", T.ArrayType(T.LongType())),
        ],
    )


def landform_classes(
    tiles: DataFrame,
    res: int,
    r_small: int = 1,
    r_large: int = 3,
    thresh_small_e3: int = 1000,
    thresh_large_e3: int = 1000,
    flat_num2: int = 64,
) -> DataFrame:
    """Weiss (2001) slope-position landform classification from TPI at two
    scales — ALL integer comparisons, no float enters any decision:

      t_e3 = floor(1000 * tpi_num / tpi_den)   (exact int64 floor division)
      low / mid / high per scale: t_e3 <= -thresh | between | >= thresh
      flat: dzdx8^2 + dzdy8^2 <= flat_num2 (Horn numerators, exact squares
      — flat_num2 is the squared threshold in 8*cellsize-scaled z units)

      class: 1 canyon (low, low)      2 midslope drainage (low, mid)
             3 upland drainage (low, high)   4 U-valley (mid, low)
             5 plains (mid, mid, flat)       6 open slope (mid, mid, steep)
             7 upper slope (mid, high)       8 valley-local ridge (high, low)
             9 midslope ridge (high, mid)   10 mountain top (high, high)

    Weiss standardizes TPI to SD units and cuts at +-1 SD; the exact-engine
    form takes the cut points as INTEGER e3-scaled mean-TPI thresholds (the
    caller computes +-1 SD once if they want the classic calibration) so the
    classification is bit-deterministic and SQL-twin-able. ONE halo pass
    at r_large: its kernel slices the radius-r_small and radius-1 halos out
    of the padded one, runs the tpi_at kernel at both radii and the
    terrain_gradients kernel, and applies the decision table in numpy —
    the same integers as the three separate passes, with no join. Per-pixel
    output (tx, ty, landform: array<long> 1..10)."""
    from engine.focal import _halo_apply

    if r_small >= r_large:
        raise ValueError(
            f"need r_small < r_large, got {r_small} >= {r_large}"
        )

    def finish(halo: np.ndarray, mask: np.ndarray) -> dict:
        # keeps 1000 * tpi_num and the squared Horn numerators in int64
        if np.abs(halo).max(initial=0) >= (1 << 28):
            raise ValueError(
                "landform_classes: |elevation| must be < 2^28 for exact "
                "int64 arithmetic"
            )
        sn, sd = _np_tpi(
            _inner_halo(halo, res, r_large, r_small),
            _inner_halo(mask, res, r_large, r_small), res, r_small,
        )
        ln, ld = _np_tpi(halo, mask, res, r_large)
        dzdx8, dzdy8 = _np_horn(_inner_halo(halo, res, r_large, 1), res)
        with np.errstate(divide="raise"):
            ts = np.floor_divide(1000 * sn, sd)
            tl = np.floor_divide(1000 * ln, ld)
        lo_s, hi_s = ts <= -thresh_small_e3, ts >= thresh_small_e3
        lo_l, hi_l = tl <= -thresh_large_e3, tl >= thresh_large_e3
        mid_l = ~lo_l & ~hi_l
        flat = dzdx8 * dzdx8 + dzdy8 * dzdy8 <= flat_num2
        cls = np.select(
            [lo_s & lo_l, lo_s & mid_l, lo_s, hi_s & lo_l, hi_s & mid_l,
             hi_s, lo_l, hi_l, flat],
            [1, 2, 3, 8, 9, 10, 4, 7, 5],
            6,
        )
        return {"landform": cls.reshape(-1).tolist()}

    return _halo_apply(
        tiles, res, r_large, finish,
        fields=[("landform", T.ArrayType(T.LongType()))],
    )


def landform_classes_sql(
    tiles_table: str,
    res: int,
    r_small: int = 1,
    r_large: int = 3,
    thresh_small_e3: int = 1000,
    thresh_large_e3: int = 1000,
    flat_num2: int = 64,
) -> str:
    """DuckDB twin of landform_classes, exploded to (gx, gy, landform):
    an INDEPENDENT derivation — per-pixel neighbor aggregation over explicit
    offset ranges (no integral images, no stencil scatter), the same exact
    integer floor divisions and decision table."""
    def tpi_cte(name, r):
        return f"""
        {name} AS (
          SELECT c.gx, c.gy,
                 COUNT(t.z)::BIGINT * MIN(c.z) - COALESCE(SUM(t.z), 0)::BIGINT
                   AS num,
                 COUNT(t.z)::BIGINT AS den
          FROM spcells c
          LEFT JOIN spoffs{r} o ON TRUE
          LEFT JOIN spcells t
            ON t.gx = c.gx + o.dx AND t.gy = c.gy + o.dy
          GROUP BY c.gx, c.gy
        )"""

    def offs(r):
        rows = ", ".join(
            f"({dx}, {dy})"
            for dy in range(-r, r + 1) for dx in range(-r, r + 1)
            if not (dx == 0 and dy == 0)
        )
        return f"spoffs{r}(dx, dy) AS (SELECT * FROM (VALUES {rows}))"

    horn = """
        sphorn AS (
          SELECT c.gx, c.gy,
                 COALESCE(SUM(CASE WHEN o.dx = 1 THEN o.w * t.z
                          WHEN o.dx = -1 THEN -o.w * t.z ELSE 0 END), 0)
                   ::BIGINT AS gx8,
                 COALESCE(SUM(CASE WHEN o.dy = 1 THEN o.w * t.z
                          WHEN o.dy = -1 THEN -o.w * t.z ELSE 0 END), 0)
                   ::BIGINT AS gy8
          FROM spcells c
          LEFT JOIN spoffs1w o ON TRUE
          LEFT JOIN spcells t
            ON t.gx = c.gx + o.dx AND t.gy = c.gy + o.dy
          GROUP BY c.gx, c.gy
        )"""
    # Horn weights as |dx| row weights: corner 1, edge 2 — encode via a
    # weights column on the radius-1 offsets
    offs1w = """
        spoffs1w(dx, dy, w) AS (SELECT * FROM (VALUES
          (-1, -1, 1), (0, -1, 2), (1, -1, 1),
          (-1, 0, 2), (1, 0, 2),
          (-1, 1, 1), (0, 1, 2), (1, 1, 1)))"""
    fdiv = (
        lambda a, b: f"CAST(({a} - ((({a}) % ({b})) + ({b})) % ({b}))"
        f" / ({b}) AS BIGINT)"
    )
    ts = fdiv("1000 * s.num", "s.den")
    tl = fdiv("1000 * l.num", "l.den")
    off_ctes = [offs1w, offs(r_small), offs(r_large)]
    return f"""
        WITH spcells AS MATERIALIZED (
          SELECT tx * {res} + i % {res} AS gx,
                 ty * {res} + i // {res} AS gy,
                 counts[i + 1] AS z
          FROM {tiles_table}, range(0, {res * res}) t(i)
        ),
        {','.join(off_ctes)},
        {tpi_cte('sps', r_small)},
        {tpi_cte('spl', r_large)},
        {horn}
        SELECT s.gx, s.gy,
          CASE
            WHEN {ts} <= -{thresh_small_e3} AND {tl} <= -{thresh_large_e3}
              THEN 1
            WHEN {ts} <= -{thresh_small_e3}
             AND {tl} < {thresh_large_e3} THEN 2
            WHEN {ts} <= -{thresh_small_e3} THEN 3
            WHEN {ts} >= {thresh_small_e3} AND {tl} <= -{thresh_large_e3}
              THEN 8
            WHEN {ts} >= {thresh_small_e3}
             AND {tl} < {thresh_large_e3} THEN 9
            WHEN {ts} >= {thresh_small_e3} THEN 10
            WHEN {tl} <= -{thresh_large_e3} THEN 4
            WHEN {tl} >= {thresh_large_e3} THEN 7
            WHEN h.gx8 * h.gx8 + h.gy8 * h.gy8 <= {flat_num2} THEN 5
            ELSE 6
          END::BIGINT AS landform
        FROM sps s
        JOIN spl l ON l.gx = s.gx AND l.gy = s.gy
        JOIN sphorn h ON h.gx = s.gx AND h.gy = s.gy
    """


def d8_flow(tiles: DataFrame, res: int) -> DataFrame:
    """D8 flow direction over the tile raster, exact int64: for every pixel,
    the steepest-DESCENT neighbor among the 8 (standard drop/distance
    steepness, compared exactly: slope_orth = drop/1 vs slope_diag =
    drop/sqrt(2) <=> 2*drop_orth^2 vs drop_diag^2 on positive drops — no
    float enters the comparison; |z| < 2^31 keeps drop^2 in int64).
    Neighbors OUTSIDE the input tile union never receive flow (the halo
    presence mask gates them — zero padding would otherwise read as a cliff
    off the raster edge). Ties break by fixed compass priority
    E, NE, N, NW, W, S, SW, SE, encoded dir = 0..7 in that order; a pixel
    with no strictly positive drop is a SINK / plateau member, dir = -1.

    Output per pixel (flat arrays per tile, like every halo op): `d8_dir`
    and `d8_key` (the winning 2*drop^2-scaled steepness key, 0 for sinks) —
    the key rides along so the DuckDB twin can hash-check the argmax
    itself, not just the chosen arm.

    `flow_edges` turns this into the (cell -> downhill cell) pointer forest;
    basins are its connected components (z strictly decreases along flow, so
    the forest is acyclic and every undirected component contains exactly
    one sink): `basin_label` = engine.graph.connected_components min-id —
    the same deterministic labeling contract as DBSCAN/dedup clusters."""
    from engine.focal import _halo_apply

    r = 1
    # (dx, dy, orth) in priority order; dir index = position
    nbrs = [
        (1, 0, True), (1, 1, False), (0, 1, True), (-1, 1, False),
        (-1, 0, True), (0, -1, True), (-1, -1, False), (1, -1, False),
    ]

    def finish(halo: np.ndarray, mask: np.ndarray) -> dict:
        c = halo[r : r + res, r : r + res]
        best_key = np.zeros((res, res), dtype=np.int64)
        best_dir = np.full((res, res), -1, dtype=np.int64)
        for i, (dx, dy, orth) in enumerate(nbrs):
            nz = halo[r + dy : r + dy + res, r + dx : r + dx + res]
            nm = mask[r + dy : r + dy + res, r + dx : r + dx + res]
            drop = c - nz
            key = drop * drop * (2 if orth else 1)
            better = (drop > 0) & (nm > 0) & (key > best_key)
            best_key[better] = key[better]
            best_dir[better] = i
        return {
            "d8_dir": best_dir.reshape(-1).tolist(),
            "d8_key": best_key.reshape(-1).tolist(),
        }

    return _halo_apply(
        tiles, res, r, finish,
        fields=[
            ("d8_dir", T.ArrayType(T.LongType())),
            ("d8_key", T.ArrayType(T.LongType())),
        ],
    )


_D8_OFFSETS = [
    (1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0), (0, -1), (-1, -1), (1, -1),
]


def flow_edges(flow: DataFrame, res: int) -> DataFrame:
    """d8_flow frame -> (gx, gy, d8_dir, src, dst): one row per pixel with
    cell ids packed as src = gx * 2^32 + gy on SHIFTED coords (gx+2^20,
    gy+2^20 — keeps ids positive for tile coords within +-2^20); dst is
    null for sinks.

    r6: a flow frame that is a local relation (the driver halo path
    returns one) derives the edge frame in numpy from its table — the same
    explode/offset/pack integer math — and returns it as a local relation
    (parity pinned in tests/test_terrain.py)."""
    drv = local_table(flow)
    if drv is not None:
        import pyarrow as pa

        drv = drv.to_pandas()
        offs = np.asarray(_D8_OFFSETS, dtype=np.int64)
        gxs, gys, dirs, keys = [], [], [], []
        for tx, ty, dd, kk in zip(
            drv["tx"], drv["ty"], drv["d8_dir"], drv["d8_key"]
        ):
            d = np.asarray(dd, dtype=np.int64)
            k = np.asarray(kk, dtype=np.int64)
            pix = np.arange(res * res, dtype=np.int64)
            gxs.append(int(tx) * res + pix % res)
            gys.append(int(ty) * res + pix // res)
            dirs.append(d)
            keys.append(k)
        gx = np.concatenate(gxs) if gxs else np.empty(0, dtype=np.int64)
        gy = np.concatenate(gys) if gys else np.empty(0, dtype=np.int64)
        d8 = np.concatenate(dirs) if dirs else np.empty(0, dtype=np.int64)
        dk = np.concatenate(keys) if keys else np.empty(0, dtype=np.int64)
        di = np.clip(d8, 0, 7)
        dst = _pack_np(gx + offs[di, 0], gy + offs[di, 1])
        # an Arrow table keeps int64 and the sinks' nulls (validity mask)
        # whether or not the session has Arrow conversion on; a nullable
        # pandas column reaches createDataFrame as float64 when it is off
        out = pa.table({
            "gx": gx, "gy": gy, "d8_dir": d8, "d8_key": dk,
            "src": _pack_np(gx, gy),
            "dst": pa.array(dst, type=pa.int64(), mask=d8 < 0),
        })
        return local_relation(
            flow.sparkSession, out,
            "gx long, gy long, d8_dir long, d8_key long, src long, dst long",
        )
    gx, gy = pixel_xy(res)
    cells = flow.select(
        "tx", "ty",
        F.posexplode(F.arrays_zip("d8_dir", "d8_key")).alias("pix", "g"),
    ).select(
        gx.alias("gx"), gy.alias("gy"),
        F.col("g.d8_dir").alias("d8_dir"),
        F.col("g.d8_key").alias("d8_key"),
    )
    dir_col = F.col("d8_dir")
    dx = F.element_at(
        F.array(*[F.lit(d[0]) for d in _D8_OFFSETS]), dir_col.cast("int") + 1
    )
    dy = F.element_at(
        F.array(*[F.lit(d[1]) for d in _D8_OFFSETS]), dir_col.cast("int") + 1
    )
    return cells.select(
        "gx", "gy", "d8_dir", "d8_key",
        _pack(F.col("gx"), F.col("gy")).alias("src"),
        F.when(dir_col >= 0, _pack(F.col("gx") + dx, F.col("gy") + dy)).alias(
            "dst"
        ),
    )


def basins(flow: DataFrame, res: int) -> DataFrame:
    """d8_flow frame -> (gx, gy, d8_dir, d8_key, basin): each pixel's flow
    direction (as flow_edges gives it) and its drainage basin, a connected
    component of the flow pointer forest via engine.graph (alternating star
    rounds — the registry twin's shape), basin = MINIMUM packed cell id in
    the component, the engine-wide deterministic CC label contract. For
    sink-labelled basins (basin = the packed id of the component's flow
    outlet), call catchments with every sink as an outlet: its pointer
    doubling gives the same partition (asserted in tests).

    Over a local flow frame (the driver halo path returns one) the labels
    come from flow_edges' table on the driver: engine.graph's union-find
    (the one connected_components' driver branch runs) over the non-sink
    edges, each cell's label looked up by src, and cells on no edge
    (isolated sinks) labelled by their own id — one local relation, no
    join. Any other flow frame takes the distributed CC and one join."""
    from engine.graph import _union_find, connected_components

    ed = flow_edges(flow, res)
    tbl = local_table(ed)
    if tbl is not None:
        src = tbl.column("src").to_numpy()
        dst = tbl.column("dst")
        ids, comp = _union_find(
            src[dst.is_valid().to_numpy()], dst.drop_null().to_numpy()
        )
        basin = src.copy()
        if len(ids):
            at = np.minimum(np.searchsorted(ids, src), len(ids) - 1)
            hit = ids[at] == src
            basin[hit] = comp[at[hit]]
        return local_relation(
            flow.sparkSession,
            {
                "gx": tbl.column("gx"), "gy": tbl.column("gy"),
                "d8_dir": tbl.column("d8_dir"),
                "d8_key": tbl.column("d8_key"), "basin": basin,
            },
            "gx long, gy long, d8_dir long, d8_key long, basin long",
        )
    comp = connected_components(
        ed.filter(F.col("dst").isNotNull()).select("src", "dst"),
        src="src", dst="dst",
        nodes=ed.select("src"), id_col="src",
    )
    return (
        ed.join(comp, ed["src"] == comp["id"])
        .select("gx", "gy", "d8_dir", "d8_key", F.col("comp").alias("basin"))
    )


def _jump_fixpoint(p: DataFrame, max_iters: int, op: str) -> DataFrame:
    """Pointer doubling to fixpoint on a (src, parent) frame whose roots are
    self-loops: parent <- parent's parent per round (one self-equi-join +
    lineage truncation), ceil(log2(path length)) rounds. Convergence is
    detected by an order-independent digest (count + xor of row hashes) —
    doubling is monotone toward the root, so an unchanged (src, parent) set
    IS the fixpoint (the engine.graph convergence idiom).

    Round discipline (r6, guide §1/§5): the digest collect is the round's
    ONLY driver action when the state is small — the truncation is a LAZY
    localCheckpoint materialized by the digest job itself, instead of the
    eager reliable checkpoint whose compute job + file-write pass + digest
    cost three sequential driver latencies per round. States above
    _SMALL_STATE_ROWS keep the reliable-checkpoint discipline (the
    engine-wide OOM rationale documented in graph.connected_components)."""

    def _digest(df: DataFrame):
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.bit_xor(F.xxhash64("src", "parent")), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev = _digest(p)
    small = prev[0] <= _SMALL_STATE_ROWS
    for _ in range(max_iters):
        nxt = (
            p.alias("a")
            .join(
                p.select(
                    F.col("src").alias("_ps"), F.col("parent").alias("_pp")
                ).alias("b"),
                F.col("a.parent") == F.col("_ps"),
            )
            .select("src", F.col("_pp").alias("parent"))
        )
        nxt = (
            nxt.localCheckpoint(eager=False)
            if small
            else truncate_lineage(nxt)
        )
        cur = _digest(nxt)
        p = nxt
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"{op}: no convergence in {max_iters} rounds")
    return p


def catchments(
    flow: DataFrame,
    res: int,
    outlets: DataFrame | list[tuple[int, int]],
    max_iters: int = 40,
) -> DataFrame:
    """Pour-point watershed delineation: (gx, gy, outlet_gx, outlet_gy) —
    every cell assigned to the FIRST outlet on its downstream D8 flow path
    (an outlet cell belongs to itself). Nested outlets partition correctly:
    with gauge B downstream of gauge A, cells above A report A, cells
    between A and B report B. Cells draining to a natural sink without
    crossing any outlet are OMITTED (no catchment).

    `outlets` is a (gx, gy) DataFrame or a list of (gx, gy) pairs — pour
    points (gauging stations, dam sites) are small by nature, so the outlet
    set is broadcast into both the pointer seed and the terminal filter.

    Distributed shape: outlet cells become self-loop roots of the flow
    pointer forest (their out-edge is cut), then a pointer-doubling
    fixpoint (_jump_fixpoint) — ceil(log2(flow diameter)) rounds of one
    self-equi-join each, lineage truncated per round. Each cell's terminal
    pointer is then its first downstream outlet (or its natural sink,
    filtered out by the broadcast semi-join). With outlets = the full sink
    set every cell reports its own sink: the partition basins() gives, with
    the sink as the label (asserted in tests)."""
    spark = flow.sparkSession
    if not isinstance(outlets, DataFrame):
        outlets = local_relation(
            spark, [(int(x), int(y)) for x, y in outlets], "gx long, gy long"
        )
    opack = (
        outlets.select(
            _pack(F.col("gx"), F.col("gy")).alias("o_id"),
            F.col("gx").alias("outlet_gx"),
            F.col("gy").alias("outlet_gy"),
        )
    )
    ed = flow_edges(flow, res)
    is_outlet = F.col("o_id").isNotNull()
    seed = (
        ed.join(
            F.broadcast(opack.select("o_id")),
            ed["src"] == F.col("o_id"),
            "left",
        )
        .select(
            "src",
            F.when(is_outlet, F.col("src"))
            .otherwise(F.coalesce(F.col("dst"), F.col("src")))
            .alias("parent"),
        )
    )
    p = _jump_fixpoint(truncate_lineage(seed), max_iters, "catchments")
    return (
        ed.select("gx", "gy", "src")
        .join(p, "src")
        .join(F.broadcast(opack), F.col("parent") == F.col("o_id"))
        .select("gx", "gy", "outlet_gx", "outlet_gy")
    )


# Iterative-state size gate for the single-action round discipline: states
# at or under this many rows ride a LAZY localCheckpoint (materialized by
# the round's digest job — one driver action per round); larger states keep
# the eager reliable checkpoint (executor-loss survival + the stacked-round
# memory rationale in graph.connected_components). Tile-raster states are
# (tx, ty, counts[res^2]) rows, so 65536 tiles at res=64 is ~2 GB spread
# across executors in MEMORY_AND_DISK — comfortably inside the discipline.
_SMALL_STATE_ROWS = 65536


def _tile_kahn(tgt: np.ndarray, mass: np.ndarray) -> np.ndarray:
    """Exact in-tile flow accumulation by vectorized Kahn peeling: acc[p] =
    mass[p] + sum of acc over in-tile upstream pixels. tgt is the flat
    in-tile downstream index (-1 where the pixel is terminal in this tile —
    a true sink or an exit across the tile border). The flow forest is
    acyclic (z strictly decreases along flow), so every pixel's in-degree
    eventually reaches zero; waves advance one flow hop per round, so the
    round count is the longest in-tile flow path (<= res^2, typically
    O(res))."""
    n = tgt.size
    acc = mass.astype(np.int64, copy=True)
    indeg = np.bincount(tgt[tgt >= 0], minlength=n)
    frontier = np.flatnonzero(indeg == 0)
    while frontier.size:
        senders = frontier[tgt[frontier] >= 0]
        if senders.size == 0:
            break
        t = tgt[senders]
        np.add.at(acc, t, acc[senders])
        dec = np.bincount(t, minlength=n)
        indeg -= dec
        frontier = np.flatnonzero((indeg == 0) & (dec > 0))
    return acc


def _tile_flow_arrays(dirs: np.ndarray, res: int):
    """Per-tile flow geometry from the flat d8_dir array: (tgt, exit_mask,
    px, py, dxv, dyv). tgt is the flat in-tile downstream index (-1 for
    terminals); exit_mask marks pixels whose flow leaves the tile."""
    idx = np.arange(res * res)
    px, py = idx % res, idx // res
    d = dirs
    has = d >= 0
    dclip = np.where(has, d, 0)
    dxs = np.asarray([o[0] for o in _D8_OFFSETS], dtype=np.int64)
    dys = np.asarray([o[1] for o in _D8_OFFSETS], dtype=np.int64)
    dxv, dyv = dxs[dclip], dys[dclip]
    nx, ny = px + dxv, py + dyv
    inside = has & (nx >= 0) & (nx < res) & (ny >= 0) & (ny < res)
    tgt = np.where(inside, ny * res + nx, -1)
    exit_mask = has & ~inside
    return tgt, exit_mask, px, py, dxv, dyv


_FLOW_OFF = 1 << 20


def _pack_np(gx, gy) -> np.ndarray:
    """The engine's pixel node id (flow_edges, cost_cells and the cost
    walks): (gx+2^20)*2^32 + (gy+2^20), an int64 that stays positive and
    unique for |gx|, |gy| < 2^20. numpy twin of _pack."""
    return (np.asarray(gx, dtype=np.int64) + _FLOW_OFF) * np.int64(1 << 32) + (
        np.asarray(gy, dtype=np.int64) + _FLOW_OFF
    )


def _unpack_np(node) -> tuple[np.ndarray, np.ndarray]:
    """numpy twin of _unpack."""
    node = np.asarray(node, dtype=np.int64)
    return (node >> 32) - _FLOW_OFF, (node & ((1 << 32) - 1)) - _FLOW_OFF


def _pack(gx: Column, gy: Column) -> Column:
    """Column pixel node id (see _pack_np); inverse: _unpack."""
    off = F.lit(_FLOW_OFF)
    return (gx + off) * F.lit(1 << 32) + (gy + off)


def _unpack(node: Column) -> tuple[Column, Column]:
    """Pixel node id -> bigint (gx, gy): the arithmetic shift and the low-32
    mask are the exact floor and pmod by 2^32."""
    return (
        F.shiftright(node, 32) - F.lit(_FLOW_OFF),
        node.bitwiseAND(F.lit((1 << 32) - 1)) - F.lit(_FLOW_OFF),
    )


def _stage2_driver(edges_pdf, routes_pdf):
    """Contracted-forest accumulation in numpy on the driver (the bounded-
    side fast path — edge count is O(raster perimeter / res) and guarded by
    the caller): reuses _tile_kahn on the edge forest. Returns a pandas
    frame (entry, mass) of total inflow per tile-entry pixel."""
    import pandas as pd

    e_src = edges_pdf["src"].to_numpy(np.int64)
    e_dst = edges_pdf["dst"].to_numpy(np.int64)
    e_m0 = edges_pdf["m0"].to_numpy(np.int64)
    r_entry = routes_pdf["entry"].to_numpy(np.int64)
    order = np.argsort(r_entry)
    r_entry_s = r_entry[order]
    r_term_s = routes_pdf["term"].to_numpy(np.int64)[order]
    r_exit_s = routes_pdf["term_exit"].to_numpy(np.int64)[order]
    pos = np.searchsorted(r_entry_s, e_dst)
    if not np.array_equal(r_entry_s[pos], e_dst):
        raise AssertionError(
            "flow_accumulation: crossing-edge target is not a border pixel "
            "of an existing tile (d8 mask invariant violated)"
        )
    term, texit = r_term_s[pos], r_exit_s[pos]
    eorder = np.argsort(e_src)
    esrc_s = e_src[eorder]
    nxt = np.full(e_src.size, -1, dtype=np.int64)
    m = texit == 1
    p = np.searchsorted(esrc_s, term[m])
    if not np.array_equal(esrc_s[p], term[m]):
        raise AssertionError(
            "flow_accumulation: a routed exit pixel has no crossing edge"
        )
    nxt[m] = eorder[p]
    total = _tile_kahn(nxt, e_m0)  # same kernel, one level up
    return (
        pd.DataFrame({"entry": e_dst, "mass": total})
        .groupby("entry", as_index=False)
        .sum()
    )


def flow_accumulation(
    flow: DataFrame,
    res: int,
    max_rounds: int = 512,
    stage2: str = "auto",
    stage2_driver_max: int = 2_000_000,
    weight_col: str | None = None,
) -> DataFrame:
    """D8 flow accumulation over the tile raster: per pixel, the EXACT number
    of cells (itself included) whose flow path passes through it — the
    operator between `d8_flow` and `basins` in the hydrology stack (stream
    networks are `stream_cells(acc, res, threshold)`).

    A naive distributed peel is one Spark round per flow HOP — 8k+ rounds on
    a 4096-cell-long river, a non-starter. This is the standard two-level
    decomposition instead (cells inside a tile never shuffle):

    1. One mapInPandas pass per tile (no halo needed — flow geometry is
       tile-local): vectorized Kahn peeling computes local_acc (accumulation
       from tile-internal cells only), pointer doubling computes each border
       pixel's in-tile TERMINAL (where its flow leaves the tile or sinks),
       and every border-crossing flow edge is emitted carrying
       m0 = local_acc[exit pixel] — the tile-internal mass draining out
       through it.
    2. Accumulation on the CONTRACTED forest over tile-entry pixels — two
       regimes, identical results (stage2='auto' picks by measured edge
       count; the contracted forest is O(cells/res) rows, 24 B each):
       'driver' (<= stage2_driver_max edges) collects it and runs the SAME
       Kahn kernel vectorized in one pass; 'distributed' delta-pushes one
       tile-crossing per round — rounds track the longest path's
       TILE-crossing count (O(tile-grid diameter)), not its cell count;
       each round is one equi-join + one map-side-combined sum over
       O(perimeter)-sized frames, lineage truncated every 8th round, total
       inflow = one union + groupBy over the per-round deltas.
    3. A second per-tile Kahn pass, seeded mass = 1 + total entry inflow:
       by linearity of the accumulation sum this equals the global answer
       exactly (int64 end to end — no float anywhere).

    Returns (tx, ty, acc: array<long>), the engine's dense tile shape.
    weight_col names an optional int64 array column on `flow` (same flat
    res^2 layout) to accumulate INSTEAD of 1 per cell — acc becomes the sum
    of upstream weights, own cell included (rainfall-runoff / sediment-load
    accumulation; weights stay integer for the exact-int64 discipline —
    fixed-point scale real-valued inputs on ingest). Stage 1/3 seed the
    same linear machinery, so the two-level decomposition is unchanged.
    max_rounds guards stage 2 (a forest cannot cycle; the guard raises
    rather than silently under-accumulating)."""
    import pandas as pd

    spark = flow.sparkSession
    cols = ["tx", "ty", "d8_dir"] + ([weight_col] if weight_col else [])
    # r6: a flow frame that is a local relation (resolve_flats on a
    # sub-threshold raster returns one) — all three stages then run the
    # SAME kernels on its table (stage 2 in numpy): zero Spark actions,
    # and the result is a local relation with no Python exec
    _drv_tbl = local_table(flow)
    _drv_pdf = None if _drv_tbl is None else _drv_tbl.to_pandas()

    def base_mass(pdf, i):
        if weight_col is None:
            return np.ones(res * res, dtype=np.int64)
        return np.asarray(pdf[weight_col].iloc[i], dtype=np.int64)

    def stage1(batches):
        for pdf in batches:
            out = {
                "tx": [], "ty": [],
                "ex_src": [], "ex_dst": [], "ex_m0": [],
                "rt_entry": [], "rt_term": [], "rt_exit": [],
            }
            for i, (tx, ty, dirs) in enumerate(
                zip(pdf["tx"], pdf["ty"], pdf["d8_dir"])
            ):
                d = np.asarray(dirs, dtype=np.int64)
                tgt, exit_mask, px, py, dxv, dyv = _tile_flow_arrays(d, res)
                acc = _tile_kahn(tgt, base_mass(pdf, i))
                gx0, gy0 = int(tx) * res, int(ty) * res
                packed = _pack_np(gx0 + px, gy0 + py)
                ex = np.flatnonzero(exit_mask)
                # terminal via pointer doubling: log2(path) gather rounds
                nxt = np.where(tgt >= 0, tgt, np.arange(res * res))
                while True:
                    nn = nxt[nxt]
                    if np.array_equal(nn, nxt):
                        break
                    nxt = nn
                border = np.flatnonzero(
                    (px == 0) | (px == res - 1) | (py == 0) | (py == res - 1)
                )
                term = nxt[border]
                out["tx"].append(int(tx))
                out["ty"].append(int(ty))
                out["ex_src"].append(packed[ex].tolist())
                out["ex_dst"].append(
                    _pack_np(gx0 + px[ex] + dxv[ex], gy0 + py[ex] + dyv[ex])
                    .tolist()
                )
                out["ex_m0"].append(acc[ex].tolist())
                out["rt_entry"].append(packed[border].tolist())
                out["rt_term"].append(packed[term].tolist())
                out["rt_exit"].append(
                    exit_mask[term].astype(np.int64).tolist()
                )
            yield pd.DataFrame(out)

    def stage3(batches):
        for pdf in batches:
            accs = []
            for i, (dirs, spix, smass) in enumerate(
                zip(pdf["d8_dir"], pdf["seed_pix"], pdf["seed_mass"])
            ):
                d = np.asarray(dirs, dtype=np.int64)
                tgt, *_ = _tile_flow_arrays(d, res)
                mass = base_mass(pdf, i).copy()
                # left-join misses surface as None (or NaN via pandas)
                if isinstance(spix, (list, np.ndarray)) and len(spix) > 0:
                    mass[np.asarray(spix, dtype=np.int64)] += np.asarray(
                        smass, dtype=np.int64
                    )
                accs.append(_tile_kahn(tgt, mass).tolist())
            yield pd.DataFrame(
                {"tx": pdf["tx"], "ty": pdf["ty"], "acc": accs}
            )

    s1_schema = (
        "tx long, ty long, ex_src array<long>, ex_dst array<long>, "
        "ex_m0 array<long>, rt_entry array<long>, rt_term array<long>, "
        "rt_exit array<long>"
    )
    if (
        _drv_pdf is not None
        and stage2 in ("auto", "driver")
        and (weight_col is None or weight_col in _drv_pdf.columns)
    ):
        import itertools

        s1_batches = list(stage1([_drv_pdf[cols]]))
        s1_pdf = (
            pd.concat(s1_batches, ignore_index=True)
            if s1_batches
            else pd.DataFrame(
                {c: [] for c in (
                    "tx", "ty", "ex_src", "ex_dst", "ex_m0",
                    "rt_entry", "rt_term", "rt_exit",
                )}
            )
        )

        def _flatd(col):
            return list(itertools.chain.from_iterable(s1_pdf[col]))

        edges_pdf = pd.DataFrame(
            {"src": _flatd("ex_src"), "dst": _flatd("ex_dst"),
             "m0": _flatd("ex_m0")}
        )
        if len(edges_pdf) <= stage2_driver_max:
            routes_pdf = pd.DataFrame(
                {"entry": _flatd("rt_entry"), "term": _flatd("rt_term"),
                 "term_exit": _flatd("rt_exit")}
            )
            seeds = _seed_lists(_stage2_driver(edges_pdf, routes_pdf), res)
            got = [
                seeds.get((int(x), int(y)), ([], []))
                for x, y in zip(_drv_pdf["tx"], _drv_pdf["ty"])
            ]
            tiles = _drv_pdf[cols].assign(
                seed_pix=[g[0] for g in got], seed_mass=[g[1] for g in got]
            )
            return local_relation(
                spark, pd.concat(stage3([tiles]), ignore_index=True),
                "tx long, ty long, acc array<long>",
            )
        # contracted forest larger than the driver gate (cannot happen for
        # driver-solved rasters, but stay safe): fall through distributed

    flow = flow.select(*cols).persist()

    # lazy truncation: the stage-2 mode probe (edge-count agg) is the
    # materializing action (r6 single-action discipline); the checkpoint
    # still caches s1 for the edges/routes fetches below
    s1 = flow.mapInPandas(stage1, schema=s1_schema).localCheckpoint(
        eager=False
    )

    edges = s1.select(
        F.explode(F.arrays_zip("ex_src", "ex_dst", "ex_m0")).alias("e")
    ).select(
        F.col("e.ex_src").alias("src"),
        F.col("e.ex_dst").alias("dst"),
        F.col("e.ex_m0").alias("m0"),
    )
    routes = s1.select(
        F.explode(F.arrays_zip("rt_entry", "rt_term", "rt_exit")).alias("r")
    ).select(
        F.col("r.rt_entry").alias("entry"),
        F.col("r.rt_term").alias("term"),
        F.col("r.rt_exit").alias("term_exit"),
    )
    if stage2 not in ("auto", "driver", "distributed"):
        raise ValueError(f"stage2 must be auto|driver|distributed, got {stage2!r}")
    mode = stage2
    if mode == "auto":
        n_edges = s1.agg(
            F.coalesce(F.sum(F.size("ex_src")), F.lit(0)).alias("n")
        ).collect()[0]["n"]
        mode = "driver" if n_edges <= stage2_driver_max else "distributed"
    if mode == "driver":
        # bounded-side fast path: the contracted forest is O(perimeter) =
        # cells/res rows; under the guard it collects in MBs and the SAME
        # Kahn kernel solves it in one vectorized pass — vs paying one
        # Spark job per tile-crossing in the distributed loop (measured
        # 40+ s of pure round overhead at a 126-crossing worst case).
        # r6: ONE Arrow fetch of the checkpointed s1 frame (edges + routes
        # explode in pandas) instead of two separate toPandas jobs.
        import itertools

        s1_pdf = s1.select(
            "ex_src", "ex_dst", "ex_m0", "rt_entry", "rt_term", "rt_exit"
        ).toPandas()

        def _flat(col):
            return list(itertools.chain.from_iterable(s1_pdf[col]))

        edges_pdf = pd.DataFrame(
            {"src": _flat("ex_src"), "dst": _flat("ex_dst"),
             "m0": _flat("ex_m0")}
        )
        routes_pdf = pd.DataFrame(
            {"entry": _flat("rt_entry"), "term": _flat("rt_term"),
             "term_exit": _flat("rt_exit")}
        )
        inflow = local_relation(
            spark, _stage2_driver(edges_pdf, routes_pdf),
            "entry long, mass long",
        )
    else:
        # distributed delta-push: one tile-crossing per round. Contracted
        # hop: entry -> its tile's terminal exit -> that exit's edge's
        # target entry. Entries whose terminal is a sink have no hop row.
        # Every edge's dst is a border pixel of an existing tile (d8_flow's
        # presence mask never points flow at absent cells), so the inner
        # joins lose nothing.
        hops = truncate_lineage(
            routes.filter(F.col("term_exit") == 1)
            .join(edges.select(F.col("src").alias("term"), "dst"), "term")
            .select("entry", F.col("dst").alias("next_entry"))
        )
        # initial inflow per entry: tile-internal mass of every edge into it
        delta = truncate_lineage(
            edges.groupBy(F.col("dst").alias("entry")).agg(
                F.sum("m0").alias("d")
            )
        )
        # per-round frames are O(perimeter)-tiny, so a reliable checkpoint
        # EVERY round is pure overhead (~0.4 s each x tile-crossing-depth
        # rounds); persist rounds and truncate lineage every 8th, then
        # checkpoint the final inflow once and release the round caches.
        rounds = [delta]
        for i in range(max_rounds):
            if delta.isEmpty():
                break
            delta = (
                delta.join(hops, "entry")
                .groupBy(F.col("next_entry").alias("entry"))
                .agg(F.sum("d").alias("d"))
            )
            delta = (
                truncate_lineage(delta)
                if (i + 1) % 8 == 0
                else delta.persist()
            )
            rounds.append(delta)
        else:
            raise RuntimeError(
                f"flow_accumulation: stage-2 delta push did not drain in "
                f"{max_rounds} rounds (tile-crossing depth exceeds the guard)"
            )
        from functools import reduce

        inflow = truncate_lineage(
            reduce(DataFrame.unionByName, rounds)
            .groupBy("entry")
            .agg(F.sum("d").alias("mass"))
        )
        for r in rounds:
            r.unpersist()
    # stage 3: entry inflow -> per-tile seed lists, second per-tile Kahn
    # pass as one mapInPandas in the returned plan
    tx, ty, pix = tile_pixel(res, *_unpack(F.col("entry")))
    seeds = (
        inflow.select(tx.alias("tx"), ty.alias("ty"), pix.alias("pix"), "mass")
        .groupBy("tx", "ty")
        .agg(
            F.collect_list("pix").alias("seed_pix"),
            F.collect_list("mass").alias("seed_mass"),
        )
    )
    return flow.join(seeds, ["tx", "ty"], "left").mapInPandas(
        stage3, schema="tx long, ty long, acc array<long>"
    )


def _seed_lists(inflow, res: int) -> dict:
    """Driver twin of flow_accumulation's stage-3 seed aggregation: (entry,
    mass) inflow -> {(tx, ty): (seed_pix list, seed_mass list)}, with
    tile_pixel(res, *_unpack(entry)) in numpy."""
    gx, gy = _unpack_np(inflow["entry"])
    tx, ty = gx // res, gy // res
    pix = (gy - ty * res) * res + (gx - tx * res)
    seeds: dict = {}
    for key, p, m in zip(
        zip(tx.tolist(), ty.tolist()), pix.tolist(),
        inflow["mass"].to_numpy(np.int64).tolist(),
    ):
        sp, sm = seeds.setdefault(key, ([], []))
        sp.append(p)
        sm.append(m)
    return seeds


def hypsometry(
    tiles: DataFrame,
    basin_cells: DataFrame,
    res: int,
    n_bins: int = 10,
) -> DataFrame:
    """Hypsometric analysis per drainage basin (Strahler's hypsometric
    curve + integral), EXACT end to end — no floats anywhere:

      curve row: (basin, bin 0..n_bins-1, n_cells) — relative-elevation
        bins via pure integer math, bin = ((z - zmin) * n_bins) //
        (zmax - zmin + 1) (the +1 closes the top edge; constant basins
        collapse into bin 0);
      integral:  (basin, hi_num, hi_den) — the hypsometric integral
        (mean - min)/(max - min) as an exact int64 rational,
        hi_num = sum(z) - n*zmin, hi_den = n*(zmax - zmin); den 0 flags a
        flat basin. HI > 1/2 young/convex, < 1/2 old/concave.

    Inputs: the elevation raster (tx, ty, counts) and basins() output
    (gx, gy, basin). Shape: one equi-join + two hash aggs (per-basin
    moments broadcast back onto the binned rows via a second agg — both
    map-side combined). Emitted long: (basin, bin, n_cells, hi_num,
    hi_den) — curve rows carry the basin's integral on every row so one
    frame serves both products. DuckDB twin: hypsometry_sql."""
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    gx, gy = pixel_xy(res)
    z = tiles.select(
        "tx", "ty", F.posexplode("counts").alias("pix", "z")
    ).select(gx.alias("gx"), gy.alias("gy"), "z")
    j = basin_cells.join(z, ["gx", "gy"])
    mom = j.groupBy("basin").agg(
        F.count("*").alias("_n"),
        F.min("z").alias("_zmin"),
        F.max("z").alias("_zmax"),
        F.sum("z").alias("_zsum"),
    )
    b = j.join(mom, "basin").select(
        "basin",
        (
            ((F.col("z") - F.col("_zmin")) * F.lit(int(n_bins)))
            / (F.col("_zmax") - F.col("_zmin") + F.lit(1))
        ).cast("long").alias("bin"),
        (F.col("_zsum") - F.col("_n") * F.col("_zmin")).alias("hi_num"),
        (F.col("_n") * (F.col("_zmax") - F.col("_zmin"))).alias("hi_den"),
    )
    return b.groupBy("basin", "bin", "hi_num", "hi_den").agg(
        F.count("*").cast("long").alias("n_cells")
    ).select("basin", "bin", "n_cells", "hi_num", "hi_den")


def hypsometry_sql(cells_sql: str, n_bins: int = 10) -> str:
    """DuckDB twin of hypsometry: `cells_sql` emits (basin, z) per cell;
    identical integer binning and rational integral."""
    return f"""
        WITH hcells AS ({cells_sql}),
        hmom AS (
          SELECT basin, COUNT(*) AS n, MIN(z) AS zmin, MAX(z) AS zmax,
                 SUM(z) AS zsum
          FROM hcells GROUP BY basin
        )
        SELECT c.basin,
               CAST(((c.z - m.zmin) * {int(n_bins)})
                    // (m.zmax - m.zmin + 1) AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(m.zsum - m.n * m.zmin AS BIGINT) AS hi_num,
               CAST(m.n * (m.zmax - m.zmin) AS BIGINT) AS hi_den
        FROM hcells c JOIN hmom m USING (basin)
        GROUP BY c.basin, bin, hi_num, hi_den
    """


def stream_links(
    flow: DataFrame,
    acc: DataFrame,
    res: int,
    threshold: int,
    max_iters: int = 64,
) -> DataFrame:
    """Stream-network vectorization (ArcGIS Stream to Feature / GRASS
    r.stream analog): raster stream cells (acc >= threshold over the
    conditioned flow frame) -> one row per stream LINK — the maximal chain
    from a head or confluence down to the cell before the next confluence
    (or the sink) — with its ordered vertex list and downstream topology:

      (link_id, n_cells, pts: array<struct<x,y>> upstream->downstream,
       dst_link: the link this one flows into, NULL at terminal links)

    Everything composes from machinery this module already ships:
    * START cells (the link identity) = stream cells with 0 or >= 2 stream
      in-edges (heads and confluences) — one edge groupBy.
    * link_id = each cell's nearest start at-or-above along its unique
      in-link chain: pointer doubling (_jump_fixpoint) on UP-pointers
      (interior link cells have exactly one stream in-edge; starts
      self-root) — O(log link length) rounds, the catchments kernel on the
      reversed forest.
    * in-link ordering needs no per-group sort key invention: position =
      flow_length(start) - flow_length(cell), strictly increasing
      downstream along a chain (flow_length is the exact octile distance
      to the sink), so ONE array_sort over collected (position, x, y)
      structs assembles each polyline.
    * dst_link = link of the D8 target of the link's LAST cell.
    Deterministic throughout (ids are packed cell ids; ties impossible on
    a chain). DuckDB twin: none — pytest pins a python replay (the
    component kernels are registry/twin-checked individually)."""
    ed = flow_edges(flow, res).persist()
    gx, gy = pixel_xy(res)
    accx = acc.select(
        "tx", "ty", F.posexplode("acc").alias("pix", "accv")
    ).select(gx.alias("gx"), gy.alias("gy"), "accv")
    cells = (
        ed.join(accx, ["gx", "gy"])
        .filter(F.col("accv") >= F.lit(int(threshold)))
        .select("gx", "gy", "src", "dst")
        .persist()
    )
    sset = cells.select(F.col("src").alias("_s"))
    # stream edges: both ends on the stream
    sedges = (
        cells.filter(F.col("dst").isNotNull())
        .join(sset, F.col("dst") == F.col("_s"))
        .select("src", "dst")
        .persist()
    )
    indeg = sedges.groupBy("dst").agg(
        F.count("*").alias("_n"),
        F.min("src").alias("_only_in"),  # unique when _n == 1
    ).select(F.col("dst").alias("_din"), "_n", "_only_in")
    lab = cells.join(
        indeg, cells["src"] == F.col("_din"), "left"
    ).select(
        cells["src"].alias("src"),
        F.when(
            F.coalesce(F.col("_n"), F.lit(0)) == 1, F.col("_only_in")
        ).otherwise(cells["src"]).alias("parent"),
    )
    roots = _jump_fixpoint(truncate_lineage(lab), max_iters, "stream_links")
    fl = flow_length(flow, res).select(
        "gx", "gy", F.col("length").alias("_fl")
    )
    mem = (
        cells.join(roots, "src")
        .join(fl, ["gx", "gy"])
        .select(
            "gx", "gy", "src", "dst",
            F.col("parent").alias("link_id"), "_fl",
        )
        .persist()
    )
    start_fl = mem.filter(F.col("src") == F.col("link_id")).select(
        F.col("link_id").alias("_lid"), F.col("_fl").alias("_sfl")
    )
    memp = mem.join(start_fl, mem["link_id"] == start_fl["_lid"]).select(
        "gx", "gy", "src", "dst", "link_id",
        (F.col("_sfl") - F.col("_fl")).alias("pos"),
    )
    links = memp.groupBy("link_id").agg(
        F.count("*").cast("long").alias("n_cells"),
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("pos"), F.col("gx").alias("x"),
                        F.col("gy").alias("y"),
                    )
                )
            ),
            lambda s: F.struct(s["x"].alias("x"), s["y"].alias("y")),
        ).alias("pts"),
        F.max_by(F.col("dst"), F.col("pos")).alias("_end_dst"),
    )
    dstl = mem.select(
        F.col("src").alias("_ds"), F.col("link_id").alias("dst_link")
    )
    out = links.join(
        dstl, links["_end_dst"] == dstl["_ds"], "left"
    ).select("link_id", "n_cells", "pts", "dst_link")
    for df in (ed, cells, sedges, mem):
        df.unpersist()
    return out


def flow_length(
    flow: DataFrame, res: int, max_iters: int = 64
) -> DataFrame:
    """Downstream flow length (ESRI Flow Length, direction=DOWNSTREAM):
    per pixel the accumulated distance along its D8 flow path to the sink
    it drains to, in the module's exact int64 octile scale (10 cardinal /
    14 diagonal steps = cellsize x10 with sqrt2 ~= 1.4 — the cost-surface
    metric), 0 at sinks. Input: a conditioned flow frame (tx, ty, d8_dir)
    — condition_dem guarantees acyclicity, which the accumulation needs.

    Distributed shape: WEIGHTED pointer doubling on the flow forest —
    (src, parent, d) starts as one D8 step with its own weight (sinks
    self-loop at 0), then per round parent <- parent's parent AND
    d <- d + parent's d (one self-equi-join + reliable checkpoint), so d
    telescopes to the full path length in ceil(log2(longest path)) rounds
    — the _jump_fixpoint machinery (catchments/stream_links/cost_allocation)
    extended with the additive label. Convergence by the same
    order-independent digest, here over (src, parent, d).
    DuckDB twin: flow_length_sql (per-source recursive-CTE walk summing
    step weights — terminal distance = MAX over the walk)."""
    ed = flow_edges(flow, res).persist()
    # step weight by the dir's OFFSET (the _D8_OFFSETS order is compass,
    # not parity-alternating: dir 5 = (0,-1) is cardinal)
    wts = [
        10 if abs(dx) + abs(dy) == 1 else 14 for dx, dy in _D8_OFFSETS
    ]
    w = F.when(F.col("d8_dir") < 0, F.lit(0)).otherwise(
        F.element_at(
            F.array(*[F.lit(x) for x in wts]),
            F.col("d8_dir").cast("int") + 1,
        )
    )
    p = truncate_lineage(
        ed.select(
            "src",
            F.coalesce("dst", "src").alias("parent"),
            w.cast("long").alias("d"),
        )
    )

    def _digest(df: DataFrame):
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.bit_xor(F.xxhash64("src", "parent", "d")), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev = _digest(p)
    for _ in range(max_iters):
        nxt = truncate_lineage(
            p.alias("a")
            .join(
                p.select(
                    F.col("src").alias("_ps"),
                    F.col("parent").alias("_pp"),
                    F.col("d").alias("_pd"),
                ).alias("b"),
                F.col("a.parent") == F.col("_ps"),
            )
            .select(
                "src",
                F.col("_pp").alias("parent"),
                (F.col("a.d") + F.col("_pd")).alias("d"),
            )
        )
        cur = _digest(nxt)
        p = nxt
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"flow_length: no convergence in {max_iters}")
    out = (
        ed.select("gx", "gy", "src")
        .join(p, "src")
        .select("gx", "gy", F.col("d").alias("length"))
    )
    ed.unpersist()
    return out


def flow_length_sql(cells_sql: str) -> str:
    """DuckDB twin of flow_length: `cells_sql` emits (gx, gy, dir); every
    cell walks its own chain accumulating 10/14 step weights; the chain
    stops at the sink (dir < 0 joins no next step) and the terminal
    accumulated distance is the per-source MAX (dist strictly increases
    along the acyclic conditioned path)."""
    nbrs = ", ".join(
        f"({d}, {dx}, {dy}, {10 if abs(dx) + abs(dy) == 1 else 14})"
        for d, (dx, dy) in enumerate(_D8_OFFSETS)
    )
    return f"""
        WITH RECURSIVE flcells AS MATERIALIZED ({cells_sql}),
        flnbr(dir, dx, dy, w) AS (SELECT * FROM (VALUES {nbrs})),
        flwalk(sx, sy, cx, cy, dist) AS (
          SELECT gx, gy, gx, gy, CAST(0 AS BIGINT) FROM flcells
          UNION ALL
          SELECT w.sx, w.sy, c.gx + n.dx, c.gy + n.dy, w.dist + n.w
          FROM flwalk w
          JOIN flcells c ON c.gx = w.cx AND c.gy = w.cy AND c.dir >= 0
          JOIN flnbr n ON n.dir = c.dir
        )
        SELECT sx AS gx, sy AS gy, MAX(dist) AS length
        FROM flwalk GROUP BY sx, sy
    """


def wetness_indices(
    acc: DataFrame,
    grads: DataFrame,
    res: int,
    cellsize: float = 1.0,
) -> DataFrame:
    """TWI and SPI — the classic hydrology composite products over the
    exact building blocks this module already emits:

      tan_beta = sqrt(dzdx8^2 + dzdy8^2) / (8*cellsize)  (Horn numerators)
      a        = acc * cellsize   (specific catchment area, unit contour
                                   width; acc from flow_accumulation)
      TWI      = ln(a / tan_beta)   (topographic wetness, Beven-Kirkby)
      SPI      = ln(a * tan_beta)   (stream power)

    Inputs: acc (tx, ty, acc) and grads (tx, ty, dzdx8, dzdy8) — both
    EXACT int64 tile arrays, so the double graph has exact inputs and one
    fixed expression order; emitted FLOOR-scaled e6 (the tfidf/Gi*
    discipline: ln/sqrt are IEEE-deterministic and measured ulp-identical
    across Spark and DuckDB on this stack — wetness_indices_sql is the
    bit-exact twin). Flat pixels (both numerators 0) have no defined
    tan_beta: twi_e6/spi_e6 are NULL there (resolve_flats is the operator
    that drains them; this is a per-pixel product, not a router).
    ONE equi-join on the tile key, Column-only HOFs, no Python."""
    if cellsize <= 0:
        raise ValueError("cellsize must be > 0")
    j = acc.join(grads, ["tx", "ty"])
    cs = float(cellsize)
    z = F.arrays_zip("acc", "dzdx8", "dzdy8")

    def per_pixel(out_name: str, spi: bool):
        # transform over the zipped struct array keeps the plan LINEAR in
        # res (one shared lambda), vs res^2 element_at expressions
        def expr(s):
            av = s["acc"].cast("double")
            gx = s["dzdx8"].cast("double")
            gy = s["dzdy8"].cast("double")
            tanb = F.sqrt(gx * gx + gy * gy) / F.lit(8.0 * cs)
            a = av * F.lit(cs)
            v = a * tanb if spi else a / tanb
            nonflat = (s["dzdx8"] != 0) | (s["dzdy8"] != 0)
            return F.when(
                nonflat, F.floor(F.lit(1e6) * F.log(v)).cast("long")
            )

        return F.transform(z, expr).alias(out_name)

    return j.select(
        "tx", "ty", per_pixel("twi_e6", False), per_pixel("spi_e6", True)
    )


def wetness_indices_sql(cells_sql: str, cellsize: float = 1.0) -> str:
    """DuckDB twin of wetness_indices: `cells_sql` emits per-pixel
    (gx, gy, acc, dzdx8, dzdy8); identical expression graph, NULL on
    flats."""
    cs = float(cellsize)
    tanb = f"(SQRT(CAST(dzdx8 AS DOUBLE) * CAST(dzdx8 AS DOUBLE) + CAST(dzdy8 AS DOUBLE) * CAST(dzdy8 AS DOUBLE)) / {8.0 * cs})"
    a = f"(CAST(acc AS DOUBLE) * {cs})"
    return f"""
        SELECT gx, gy,
          CASE WHEN dzdx8 <> 0 OR dzdy8 <> 0
               THEN CAST(FLOOR(1000000.0 * LN({a} / {tanb})) AS BIGINT)
          END AS twi_e6,
          CASE WHEN dzdx8 <> 0 OR dzdy8 <> 0
               THEN CAST(FLOOR(1000000.0 * LN({a} * {tanb})) AS BIGINT)
          END AS spi_e6
        FROM ({cells_sql}) wic
    """


def stream_cells(acc: DataFrame, res: int, threshold: int) -> DataFrame:
    """flow_accumulation frame -> sparse (gx, gy, acc) rows with
    acc >= threshold: the classic stream-network extraction (output is
    O(stream cells), never O(raster))."""
    gx, gy = pixel_xy(res)
    return (
        acc.select(
            "tx", "ty", F.posexplode("acc").alias("pix", "acc")
        )
        .filter(F.col("acc") >= threshold)
        .select(gx.alias("gx"), gy.alias("gy"), "acc")
    )


def slope_aspect_hillshade(
    grads: DataFrame,
    cellsize: float = 1.0,
    z_factor: float = 1.0,
    azimuth_deg: float = 315.0,
    altitude_deg: float = 45.0,
) -> DataFrame:
    """Attach per-pixel double arrays (slope_rad, aspect_rad, hillshade) to a
    terrain_gradients frame — Column HOFs over the exact int arrays, no
    Python. aspect_rad = -1.0 on flat pixels; hillshade in [0, 255]."""

    def arr(which: int) -> Column:
        return F.zip_with(
            F.col("dzdx8"),
            F.col("dzdy8"),
            lambda a, b: _shade_exprs(
                a, b, cellsize, z_factor, azimuth_deg, altitude_deg
            )[which],
        )

    return grads.select(
        "*",
        arr(0).alias("slope_rad"),
        arr(1).alias("aspect_rad"),
        arr(2).alias("hillshade"),
    )


def cost_cells(tiles: DataFrame, res: int, cost_col: str = "cost") -> DataFrame:
    """Explode a (tx, ty, cost: array<long>) tile raster to passable cells:
    (gx, gy, id, c) with id the engine's packed cell key (flow_edges layout)
    and c the per-cell traversal cost. Cells with null or non-positive cost
    are BARRIERS — dropped here, so no edge can cross them."""
    gx, gy = pixel_xy(res)
    return (
        tiles.select(
            "tx", "ty", F.posexplode(cost_col).alias("pix", "c")
        )
        .filter(F.col("c").isNotNull() & (F.col("c") > 0))
        .select(
            gx.alias("gx"), gy.alias("gy"), F.col("c").cast("long").alias("c")
        )
        .select(
            "gx", "gy", "c", _pack(F.col("gx"), F.col("gy")).alias("id")
        )
    )


def cost_edges(tiles: DataFrame, res: int, cost_col: str = "cost") -> DataFrame:
    """8-neighbor weighted edge list over a cost raster, the integer octile
    metric: stepping between adjacent passable cells a, b costs
    (c_a + c_b) * 5 orthogonally and (c_a + c_b) * 7 diagonally — i.e.
    10x / 14x the mean cell cost, the classic exact-integer discretization
    of the GIS cost-distance metric ((c_a+c_b)/2 * {1, sqrt(2)}); the
    diagonal factor 1.4 understates sqrt(2) by <1.1% and keeps every label
    an exact int64 (routing.shortest_paths requires integer weights).

    Only the 4 forward offsets (E, NE, N, NW) are emitted — the SSSP
    symmetrizes, and the weight is symmetric by construction. One explode(4)
    + one cell-id equi-join to attach the destination cost; barriers never
    appear on either side (cost_cells drops them)."""
    cells = cost_cells(tiles, res, cost_col)
    fwd = [(1, 0, 5), (1, 1, 7), (0, 1, 5), (-1, 1, 7)]
    cand = cells.select(
        F.col("id").alias("src"),
        F.col("c").alias("_cs"),
        F.explode(
            F.array(*[
                F.struct(
                    _pack(F.col("gx") + dx, F.col("gy") + dy).alias("dst"),
                    F.lit(k).alias("k"),
                )
                for dx, dy, k in fwd
            ])
        ).alias("_n"),
    ).select("src", "_cs", F.col("_n.dst").alias("dst"), F.col("_n.k").alias("k"))
    dstc = cells.select(F.col("id").alias("dst"), F.col("c").alias("_cd"))
    return cand.join(dstc, "dst").select(
        "src", "dst",
        ((F.col("_cs") + F.col("_cd")) * F.col("k")).alias("w"),
    )


def cost_distance(
    tiles: DataFrame,
    res: int,
    sources: DataFrame | list[tuple[int, int]],
    cost_col: str = "cost",
    max_cost: int | None = None,
    max_rounds: int = 64,
) -> DataFrame:
    """Accumulated-cost surface (ESRI Cost Distance analog): least-cost
    octile-metric distance from each source cell to every reachable cell of
    a (tx, ty, cost: array<long>) friction raster. Returns (source_gx,
    source_gy, gx, gy, dist, hops); sources appear at dist 0; barriers
    (null / non-positive cost) and cells beyond max_cost are absent.

    Composition: cost_edges (integer octile weights, see there) feeds
    routing.shortest_paths — the engine's frontier Bellman-Ford with packed
    (dist, hops) labels, per-round lineage truncation, and max_dist pruning;
    multi-source runs share rounds, so 1000 facility seeds cost one pass.
    max_cost bounds both the answer and the wavefront; max_rounds guards
    the hop diameter (raise it for continental rasters, or set max_cost)."""
    from engine import routing

    spark = tiles.sparkSession
    if not isinstance(sources, DataFrame):
        sources = local_relation(
            spark, [(int(x), int(y)) for x, y in sources], "gx long, gy long"
        )
    pack = _pack(F.col("gx"), F.col("gy"))
    src_df = sources.select(
        pack.alias("source_id"), pack.alias("node")
    )
    d = routing.shortest_paths(
        cost_edges(tiles, res, cost_col),
        src_df,
        max_dist=max_cost,
        max_rounds=max_rounds,
    )
    sx, sy = _unpack(F.col("source_id"))
    gx, gy = _unpack(F.col("node"))
    return d.select(
        sx.alias("source_gx"), sy.alias("source_gy"),
        gx.alias("gx"), gy.alias("gy"),
        "dist", "hops",
    )


def least_cost_paths(
    tiles: DataFrame,
    res: int,
    source: tuple[int, int],
    dests: DataFrame | list[tuple[int, int]],
    cost_col: str = "cost",
    max_cost: int | None = None,
    max_rounds: int = 64,
) -> DataFrame:
    """Least-cost PATH extraction (the polyline, not just the surface):
    (dest_gx, dest_gy, step, gx, gy) — step 0 is the destination, the last
    step is the source; each consecutive pair is an 8-adjacent move and the
    walked path realizes cost_distance's (dist, hops) label exactly.

    Deterministic path choice: the SSSP label fixes (dist, hops); among
    predecessors v with dist[v] + w(v,u) == dist[u] AND hops[v] + 1 ==
    hops[u], the smallest packed cell id wins — so the path is a pure
    function of the raster, reproducible across runs and engines.

    Distributed shape: one cost_distance pass builds the surface; ONE
    edges⋈labels⋈labels join + min_by derives the predecessor pointer of
    every labeled cell; then the walk advances ALL destinations together,
    one broadcast-frontier equi-join per step (rounds = max path hops,
    bounded by max_cost / min edge weight — same wavefront bound as the
    SSSP itself). Destinations unreachable (or beyond max_cost) are absent.
    Dest sets are path endpoints (facilities, route requests) — frontier-
    sized, not raster-sized; for raster-sized "all cells toward the source"
    questions use cost_distance / cost_corridor instead."""
    spark = tiles.sparkSession
    if not isinstance(dests, DataFrame):
        dests = local_relation(
            spark, [(int(x), int(y)) for x, y in dests], "gx long, gy long"
        )
    pack = _pack(F.col("gx"), F.col("gy"))
    d = cost_distance(
        tiles, res, [source], cost_col, max_cost=max_cost,
        max_rounds=max_rounds,
    )
    labels = truncate_lineage(
        d.select(pack.alias("id"), "dist", "hops")
    )
    edges = cost_edges(tiles, res, cost_col)
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    lu = labels.select(
        F.col("id").alias("_u"), F.col("dist").alias("_du"),
        F.col("hops").alias("_hu"),
    )
    lv = labels.select(
        F.col("id").alias("_v"), F.col("dist").alias("_dv"),
        F.col("hops").alias("_hv"),
    )
    pred = truncate_lineage(
        sym.join(lu, sym["dst"] == F.col("_u"))
        .join(lv, sym["src"] == F.col("_v"))
        .filter(
            (F.col("_dv") + F.col("w") == F.col("_du"))
            & (F.col("_hv") + 1 == F.col("_hu"))
        )
        .groupBy(F.col("_u").alias("id"))
        .agg(F.min("_v").alias("pred"))
    )
    src_id = int(_pack_np(*source))
    frontier = truncate_lineage(
        dests.select(
            F.col("gx").alias("dest_gx"), F.col("gy").alias("dest_gy"),
            pack.alias("cur"),
        )
        .join(labels.select("id"), F.col("cur") == F.col("id"), "left_semi")
        .withColumn("step", F.lit(0).cast("long"))
    )
    # the walk length is KNOWN: the max hops label over reachable dests —
    # one scalar agg replaces per-step isEmpty checks (each a full job)
    row = frontier.join(labels, F.col("cur") == F.col("id")).agg(
        F.max("hops").alias("h")
    ).collect()[0]
    max_steps = int(row["h"]) if row["h"] is not None else 0
    out = [frontier]
    for step in range(1, max_steps + 1):
        frontier = (
            frontier.filter(F.col("cur") != src_id)
            .join(pred, F.col("cur") == pred["id"])
            .select(
                "dest_gx", "dest_gy",
                F.col("pred").alias("cur"),
                (F.col("step") + 1).alias("step"),
            )
        )
        if step % 8 == 0:  # lineage grows one join per step; cut periodically
            frontier = truncate_lineage(frontier)
        out.append(frontier)
    from functools import reduce

    path = reduce(DataFrame.unionByName, out)
    gx, gy = _unpack(F.col("cur"))
    return path.select(
        "dest_gx", "dest_gy", "step", gx.alias("gx"), gy.alias("gy")
    )


def cost_corridor(
    tiles: DataFrame,
    res: int,
    a: tuple[int, int],
    b: tuple[int, int],
    cost_col: str = "cost",
    slack: int = 0,
    max_cost: int | None = None,
    max_rounds: int = 64,
) -> DataFrame:
    """Cost corridor between two terminals (the GIS Corridor analog): all
    cells c with dist(a, c) + dist(c, b) <= dist(a, b) + slack — slack 0 is
    the union of ALL least-cost paths, larger slack widens the swath
    (wildlife corridors, route envelopes). Returns (gx, gy, dist_a, dist_b,
    total). ONE cost_distance call computes both surfaces (a and b ride the
    same multi-source SSSP rounds); the best total comes from a 1-row agg
    broadcast back — no driver collect."""
    d = cost_distance(
        tiles, res, [a, b], cost_col, max_cost=max_cost, max_rounds=max_rounds
    )
    da = d.filter(
        (F.col("source_gx") == a[0]) & (F.col("source_gy") == a[1])
    ).select("gx", "gy", F.col("dist").alias("dist_a"))
    db = d.filter(
        (F.col("source_gx") == b[0]) & (F.col("source_gy") == b[1])
    ).select("gx", "gy", F.col("dist").alias("dist_b"))
    tot = da.join(db, ["gx", "gy"]).select(
        "gx", "gy", "dist_a", "dist_b",
        (F.col("dist_a") + F.col("dist_b")).alias("total"),
    )
    best = tot.agg(F.min("total").alias("_best"))
    return tot.join(F.broadcast(best)).filter(
        F.col("total") <= F.col("_best") + slack
    ).drop("_best")


def np_viewshed_counts(
    halo: np.ndarray,
    mask: np.ndarray,
    res: int,
    radius: int,
    observers: list[tuple[int, int, int]],
    gx0: int,
    gy0: int,
) -> np.ndarray:
    """Exact-integer bounded-radius viewshed kernel over one (res+2R)^2
    elevation patch: per tile cell, the COUNT of observers with line of
    sight to it. observers are (gx, gy, eye_z) with eye_z the ABSOLUTE eye
    elevation (terrain + mast); (gx0, gy0) is the tile's cell origin.

    Conventions (exact, engine-and-oracle shared):
    - a target is considered iff its euclidean distance^2 to the observer
      is <= radius^2 (circular viewshed); the observer sees itself;
    - the sight line is sampled at k = 1..D-1 (D = chebyshev distance),
      sample position = observer + round-half-away-from-zero(k*delta/D)
      componentwise — the exact-integer lattice ray (every sample is a
      cell, never the observer or the target);
    - a PRESENT sample p blocks iff elevation_angle(p) > angle(target)
      STRICTLY (a grazing sight line stays visible — flat terrain sees the
      whole disk), compared exactly via sign analysis + cross-multiplied
      squares (no sqrt, no float): (zp-zo)^2 * dt2 vs (zt-zo)^2 * dp2,
      with ties broken toward visible. Absent cells
      (outside the input tile union) are transparent — missing data never
      fabricates an obstruction. |z| and eye_z must stay under ~2^18 and
      radius under ~2^11 so the products sit in int64 (asserted by
      viewshed()).
    """
    R = radius
    lx = np.arange(res, dtype=np.int64)
    X, Y = np.meshgrid(lx, lx)  # X = local gx (cols), Y = local gy (rows)
    zt = halo[R + Y, R + X]
    vis_count = np.zeros((res, res), dtype=np.int64)
    for ogx, ogy, zo in observers:
        olx, oly = ogx - gx0, ogy - gy0
        if not (-R <= olx < res + R and -R <= oly < res + R):
            continue
        if mask[R + oly, R + olx] == 0:
            continue  # observer off the raster
        dx = X - olx
        dy = Y - oly
        dt2 = dx * dx + dy * dy
        visible = dt2 <= R * R
        b = zt - zo
        D = np.maximum(np.abs(dx), np.abs(dy))
        max_d = int(D[visible].max()) if visible.any() else 0
        for k in range(1, max_d):
            act = visible & (D > k)
            if not act.any():
                break
            vx, vy = k * dx, k * dy
            px = np.sign(vx) * ((2 * np.abs(vx) + D) // np.maximum(2 * D, 1))
            py = np.sign(vy) * ((2 * np.abs(vy) + D) // np.maximum(2 * D, 1))
            # inactive cells (D <= k) would round past their own offset and
            # could index outside the patch — pin them to the observer
            px = np.where(act, px, 0)
            py = np.where(act, py, 0)
            zp = halo[R + oly + py, R + olx + px]
            present = mask[R + oly + py, R + olx + px] == 1
            a = zp - zo
            dp2 = px * px + py * py
            lhs = a * a * dt2
            rhs = b * b * dp2
            blocks = present & (
                ((a >= 0) & (b < 0))
                | ((a >= 0) & (b >= 0) & (lhs > rhs))
                | ((a < 0) & (b < 0) & (lhs < rhs))
            )
            visible &= ~(act & blocks)
        vis_count += visible.astype(np.int64)
    return vis_count


def viewshed(
    tiles: DataFrame,
    res: int,
    observers: DataFrame | list[tuple[int, int]],
    radius: int,
    observer_height: int = 0,
    max_observers: int = 100_000,
) -> DataFrame:
    """Bounded-radius viewshed (the `gdal_viewshed` analog) over the tile
    raster: (tx, ty, vis: array<long>) — per pixel, how many of the
    observers have line of sight to it within `radius` cells (0 = hidden
    everywhere). Exact integer visibility; conventions in
    np_viewshed_counts.

    Distributed shape: observers are a broadcast dim BY CONTRACT (towers,
    lookouts — bounded; a DataFrame side is counted and refused above
    max_observers, the engine's GEMM-guard discipline). Elevation moves
    only through ONE radius-R halo exchange — shuffle O(perimeter * R) per
    tile — and every sight line of every (cell, observer-within-R) pair
    lies inside the cell's own patch by construction, so the O(R * res^2)
    ray sampling per (tile, nearby-observer) runs entirely tile-local in
    the Arrow kernel. radius <= res is required (one-ring halo); pick the
    tile size >= the viewshed radius at ingest, exactly like the focal
    family. Observer eye elevation = terrain at the observer cell +
    observer_height (integer, same fixed-point unit as the raster)."""
    from engine.focal import _halo_apply

    if not 1 <= int(radius) <= res:
        raise ValueError(
            f"radius must be in [1, res={res}] (one-ring halo), got {radius}"
        )
    if not 0 <= int(observer_height) < (1 << 17):
        raise ValueError(f"observer_height out of range: {observer_height}")
    spark = tiles.sparkSession
    if isinstance(observers, DataFrame):
        tbl = observers.limit(max_observers + 1).toArrow()
        if tbl.num_rows > max_observers:
            raise ValueError(
                f"observers exceed max_observers={max_observers}: the "
                "observer set is the broadcast-bounded side by contract"
            )
        obs = [
            (int(x), int(y))
            for x, y in zip(*(c.to_pylist() for c in tbl.columns[:2]))
        ]
    else:
        obs = [(int(x), int(y)) for x, y in observers]
    R = int(radius)
    h = int(observer_height)

    def finish(halo: np.ndarray, mask: np.ndarray, key: tuple) -> dict:
        if np.abs(halo).max(initial=0) >= (1 << 18):
            raise ValueError(
                "viewshed: |elevation| must be < 2^18 for exact int64 "
                "angle comparisons (rescale the fixed point on ingest)"
            )
        tx, ty = int(key[0]), int(key[1])
        gx0, gy0 = tx * res, ty * res
        near = [
            (ox, oy, int(halo[R + oy - gy0, R + ox - gx0]) + h)
            for ox, oy in obs
            if -R <= ox - gx0 < res + R and -R <= oy - gy0 < res + R
        ]
        vis = np_viewshed_counts(halo, mask, res, R, near, gx0, gy0)
        return {"vis": vis.reshape(-1).tolist()}

    return _halo_apply(
        tiles, res, R, finish,
        fields=[("vis", T.ArrayType(T.LongType()))],
        pass_key=True,
    )


def np_edt_sq(
    halo: np.ndarray,
    mask: np.ndarray,
    res: int,
    radius: int,
    gx0: int = 0,
    gy0: int = 0,
    allocate: bool = False,
):
    """Exact bounded-radius squared euclidean distance transform over one
    (res+2R)^2 patch: per tile cell, min over source cells (present AND
    nonzero) within euclidean distance `radius` of (dx^2 + dy^2), else -1.
    Separable exact algorithm (Meijster-style, integer-only): phase 1 is
    the per-column squared vertical distance to the nearest source (two
    vectorized cumulative scans, unbounded but clamped at pad+1 > R so the
    final <= R^2 cap filters identically); phase 2 folds min over the
    2R+1 column offsets of (dx^2 + colG2) — O(R * pad^2) vector ops,
    independent of source count.

    With allocate=True additionally returns the Euclidean-Allocation
    raster: per cell the PACKED global id (_pack_np: (gx+2^20)*2^32 +
    gy+2^20) of the winning source, -1 beyond radius; (gx0, gy0) is the
    tile's cell origin. Ties are deterministic engine-wide: the MIN packed
    id among equidistant sources (pack orders lexicographically by
    (sx, sy); phase 1's per-column representative prefers the upper source
    on a |dy| tie, which IS that column's min pack, so the cross-column
    lexicographic (dist2, pack) fold yields the global min)."""
    R = radius
    pad = res + 2 * R
    src = (halo != 0) & (mask == 1)
    big = np.int64(1) << 40
    rows = np.broadcast_to(
        np.arange(pad, dtype=np.int64)[:, None], (pad, pad)
    )
    up = np.maximum.accumulate(np.where(src, rows, -big), axis=0)
    dn = np.minimum.accumulate(np.where(src, rows, big)[::-1], axis=0)[::-1]
    d_up = rows - up
    d_dn = dn - rows
    g = np.minimum(np.minimum(d_up, d_dn), np.int64(pad + 1))
    g2 = g * g
    best = np.full((pad, pad), big, dtype=np.int64)
    if not allocate:
        for dx in range(-R, R + 1):
            d2 = dx * dx
            if dx >= 0:
                np.minimum(best[:, : pad - dx], g2[:, dx:] + d2,
                           out=best[:, : pad - dx])
            else:
                np.minimum(best[:, -dx:], g2[:, :pad + dx] + d2,
                           out=best[:, -dx:])
        out = best[R:R + res, R:R + res]
        return np.where(out <= R * R, out, np.int64(-1))
    # rep: the column's min-pack source row among its |dy|-minimal sources
    # (0 where the column is sourceless — g=pad+1 keeps it out of range).
    # Lexicographic (d2, sx, sy) folds as ONE packed int64 key: since
    # sx = x + dx for the pixel's own column x, ordering by sx == ordering
    # by dx, so key = (g2 + dx^2) * K + (dx+R) * pad + rep with
    # K = (2R+2) * pad. The dx-independent part (g2 * K + rep) hoists out
    # of the loop — 2 vector ops per offset, same as the dist-only fold.
    # Fits int64: d2 <= (pad+1)^2 + R^2, so key < 2^37 at any res <= 2^12.
    rep = np.where(g <= pad, np.where(d_up <= d_dn, up, dn), 0)
    kmul = np.int64((2 * R + 2) * pad)
    base = g2 * kmul + rep
    best_key = np.full((pad, pad), np.int64(1) << 62, dtype=np.int64)
    for dx in range(-R, R + 1):
        shift = np.int64(dx * dx) * kmul + np.int64((dx + R) * pad)
        if dx >= 0:
            np.minimum(best_key[:, : pad - dx], base[:, dx:] + shift,
                       out=best_key[:, : pad - dx])
        else:
            np.minimum(best_key[:, -dx:], base[:, : pad + dx] + shift,
                       out=best_key[:, -dx:])
    key = best_key[R:R + res, R:R + res]
    d_out = key // kmul
    rem = key % kmul
    src_col = rem // pad - R + np.arange(res, dtype=np.int64)[None, :]
    src_row = rem % pad
    a_out = _pack_np(src_col + np.int64(gx0 - R) + R,
                     src_row + np.int64(gy0 - R))
    ok = d_out <= R * R
    return np.where(ok, d_out, np.int64(-1)), np.where(
        ok, a_out, np.int64(-1)
    )


def distance_transform(
    tiles: DataFrame, res: int, radius: int, allocate: bool = False
) -> DataFrame:
    """Proximity raster (the ESRI Euclidean Distance analog, squared-exact):
    (tx, ty, dist2: array<long>) — per pixel, the EXACT min squared
    euclidean distance to the nearest source cell (nonzero AND present)
    within `radius` cells, -1 where no source is that close. Integer end to
    end, so the result is hash-checkable against a min-over-pairs SQL twin.
    To use a different source predicate (e.g. counts >= t), pre-transform
    `counts` to zero out non-sources — the kernel's source set is exactly
    the nonzero present cells.

    allocate=True adds `alloc: array<long>` — the Euclidean-Allocation
    raster (ESRI analog): the winning source's packed global cell id
    ((gx+2^20)*2^32 + gy+2^20, the flow_edges convention), min-pack
    deterministic on distance ties, -1 beyond radius.

    Distributed shape: identical to the focal family — ONE radius-R halo
    exchange (shuffle O(perimeter * R) per tile), then the separable
    integer EDT runs tile-local (every source within R of a tile pixel lies
    inside the patch since radius <= res, enforced below). Absent cells
    (outside the input tile union) are never sources and never targets.
    Reference provenance: extends the raster family beyond the reference's
    scope (SURVEY.md section 2.7 cell rollups are pointwise)."""
    from engine.focal import _halo_apply

    if not 1 <= int(radius) <= res:
        raise ValueError(
            f"radius must be in [1, res={res}] (one-ring halo), got {radius}"
        )
    R = int(radius)

    if not allocate:
        def finish(halo: np.ndarray, mask: np.ndarray) -> dict:
            return {
                "dist2": np_edt_sq(halo, mask, res, R).reshape(-1).tolist()
            }

        return _halo_apply(
            tiles, res, R, finish,
            fields=[("dist2", T.ArrayType(T.LongType()))],
        )

    def finish_alloc(halo: np.ndarray, mask: np.ndarray, key: tuple) -> dict:
        gx0, gy0 = int(key[0]) * res, int(key[1]) * res
        d2, ap = np_edt_sq(halo, mask, res, R, gx0, gy0, allocate=True)
        return {
            "dist2": d2.reshape(-1).tolist(),
            "alloc": ap.reshape(-1).tolist(),
        }

    return _halo_apply(
        tiles, res, R, finish_alloc,
        fields=[
            ("dist2", T.ArrayType(T.LongType())),
            ("alloc", T.ArrayType(T.LongType())),
        ],
        pass_key=True,
    )


def buffer_mask(tiles: DataFrame, res: int, radius: int) -> DataFrame:
    """Raster buffer (the vector Buffer analog in grid space): (tx, ty,
    counts) with 1 at every pixel within EXACT euclidean distance `radius`
    of a source cell (nonzero present cells — pre-transform `counts` for a
    different source predicate, same contract as distance_transform), else
    0. A pure threshold of the squared-EDT proximity raster (dist2 <=
    radius^2, sources themselves at dist2 = 0), so it inherits the
    separable integer kernel's exactness and the one-halo-exchange plan;
    the output is raster-family shaped and feeds zonal/regions/overlay
    consumers directly — e.g. raster_regions(buffer_mask(...)) dissolves
    touching buffers into merged regions, the classic buffer+dissolve."""
    r2 = int(radius) * int(radius)
    dt = distance_transform(tiles, res, int(radius))
    return dt.select(
        "tx", "ty",
        F.transform(
            "dist2",
            lambda d: F.when((d >= 0) & (d <= r2), F.lit(1))
            .otherwise(F.lit(0)).cast("long"),
        ).alias("counts"),
    )


# ---------------------------------------------------------------------------
# Depression filling (Fill Sinks / Priority-Flood)
# ---------------------------------------------------------------------------
# Packed per-pixel state for the fill fixpoint: one int64 carries both the
# static elevation z and the evolving fill estimate w, so the halo exchange
# (which strips exactly one array column) ships both without a second
# shuffle or a join per round. Layout: packed = wb * 2^31 + zb with
# zb = z + 2^30 (elevations must satisfy |z| < 2^30 — far beyond any
# cm-quantized DEM) and wb = w + 2^30 in [0, 2^31). The INF sentinel
# 2^31 - 1 is ABSORBING under the flood's max(z, w) relaxation because
# zb <= INF always — no special-casing in the kernel.
_FILL_SHIFT = 1 << 30
_FILL_INF = (1 << 31) - 1
_FILL_MASK = (1 << 31) - 1

_D4_OFFSETS = [(1, 0), (0, 1), (-1, 0), (0, -1)]


def _np_local_flood(
    zb: np.ndarray, wb: np.ndarray, inside: np.ndarray, res: int, conn: int
) -> np.ndarray:
    """Exact local priority-flood of one padded tile given FIXED boundary
    values on the 1-pixel ring: ring cells seed the heap at their current
    fill estimate (drain level -1 where the ring is outside the raster —
    strictly below every zb >= 0, i.e. water escapes freely off the tile
    union), interior cells are assigned W = max(zb, W_popped) on first touch
    in nondecreasing pop order (Barnes et al. 2014 priority-flood: first
    assignment from the lowest frontier is the minimax optimum). Returns the
    updated res*res interior wb grid."""
    import heapq

    pad = res + 2
    heap: list = []
    for y in range(pad):
        xs = (0, pad - 1) if 0 < y < pad - 1 else range(pad)
        for x in xs:
            pri = int(wb[y, x]) if inside[y, x] else -1
            heap.append((pri, y * pad + x))
    heapq.heapify(heap)
    offs = _D8_OFFSETS if conn == 8 else _D4_OFFSETS
    out = np.full((pad, pad), -2, dtype=np.int64)  # -2 = unassigned interior
    while heap:
        w, idx = heapq.heappop(heap)
        y, x = idx // pad, idx % pad
        for dx, dy in offs:
            ny, nx = y + dy, x + dx
            if 1 <= ny <= res and 1 <= nx <= res and out[ny, nx] == -2:
                nw = max(int(zb[ny, nx]), w)
                out[ny, nx] = nw
                heapq.heappush(heap, (nw, ny * pad + nx))
    return out[1 : res + 1, 1 : res + 1]


def _halo_fixpoint(
    init: DataFrame, res: int, finish, max_iters: int, op: str
) -> DataFrame:
    """Shared block-Jacobi driver for halo fixpoints (fill_depressions,
    resolve_flats): per round, ONE radius-1 halo exchange + the per-tile
    Arrow kernel `finish`, lineage truncated and convergence detected by
    the order-independent digest (count + xor of row hashes — the
    _jump_fixpoint idiom). State frame shape is (tx, ty, counts).

    Round discipline (r6, guide §1/§5): one driver action per round. The
    truncation is a LAZY localCheckpoint materialized by the digest job
    itself; the previous eager reliable checkpoint cost a compute job + a
    file-write recompute pass + the digest job = three sequential driver
    latencies per round, which dominated wall on small tile states (the
    registry raster is 8 tiles). States above _SMALL_STATE_ROWS tiles keep
    the reliable-checkpoint discipline."""
    from engine.focal import _halo_apply

    def _digest(df: DataFrame):
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.bit_xor(F.xxhash64("tx", "ty", "counts")), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    tbl = driver_table(init, _DRIVER_SOLVE_CELLS // (res * res))
    if tbl is not None:
        return _driver_fixpoint(
            init.sparkSession, tbl.to_pandas(), res, finish, max_iters, op
        )
    # gate on the digest count, then fetch from the digest-materialized
    # checkpoint: a state Spark must compute never pays a limit probe
    # (session.driver_table)
    state = init.localCheckpoint(eager=False)
    prev = _digest(state)
    if prev[0] * res * res <= _DRIVER_SOLVE_CELLS:
        return _driver_fixpoint(
            state.sparkSession, state.toPandas(), res, finish, max_iters, op
        )
    small = prev[0] * res * res * 8 <= _SMALL_STATE_ROWS * 64 * 64 * 8
    for _ in range(max_iters):
        nxt = _halo_apply(state, res, 1, finish).withColumnRenamed(
            "focal", "counts"
        )
        nxt = (
            nxt.localCheckpoint(eager=False)
            if small
            else truncate_lineage(nxt)
        )
        cur = _digest(nxt)
        state = nxt
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"{op}: no convergence in {max_iters} rounds")
    return state


# Driver-solve gate for _halo_fixpoint (the flow_accumulation
# stage2='driver' / knn broadcast-short-circuit discipline): a raster at or
# under this many cells is a bounded O(MB) Arrow fetch, and every block-
# Jacobi round below is a numpy sweep instead of a full Spark job — at the
# registry's 512-cell raster the distributed rounds were pure driver
# latency. 4M cells = 32 MB of int64 state.
_DRIVER_SOLVE_CELLS = 1 << 22


def _driver_fixpoint(
    spark, pdf, res: int, finish, max_iters: int, op: str
) -> DataFrame:
    """Driver-side replay of the EXACT block-Jacobi schedule: the same
    per-tile `finish` kernel, the same synchronous update (every tile reads
    the previous round's neighbor strips), the same state-equality
    convergence test — so the state trajectory, round count and fixpoint
    are bit-identical to the distributed loop; only the transport differs
    (one Arrow fetch + numpy slices instead of a halo shuffle per round)."""
    import pandas as pd

    from engine.focal import _driver_halo, _tile_grids

    keys, grids = _tile_grids(pdf, res)
    for _ in range(max_iters):
        nxt = {}
        for (tx, ty) in keys:
            halo, mask = _driver_halo(grids, tx, ty, res, 1)
            nxt[(tx, ty)] = np.asarray(
                finish(halo, mask), dtype=np.int64
            ).reshape(res, res)
        if all(np.array_equal(nxt[k], grids[k]) for k in keys):
            grids = nxt
            break
        grids = nxt
    else:
        raise RuntimeError(f"{op}: no convergence in {max_iters} rounds")
    out = pd.DataFrame(
        {
            "tx": [k[0] for k in keys],
            "ty": [k[1] for k in keys],
            "counts": [grids[k].reshape(-1).tolist() for k in keys],
        }
    )
    # a local relation: downstream one-shot halo passes (e.g. resolve_flats'
    # assign) run driver-side on it (focal._halo_apply_driver)
    return local_relation(spark, out, "tx long, ty long, counts array<long>")


def fill_depressions(
    tiles: DataFrame,
    res: int,
    connectivity: int = 8,
    max_iters: int = 64,
) -> DataFrame:
    """DEM depression filling (ESRI Fill / GRASS r.fill.dir / priority-flood
    semantics): (tx, ty, counts) with counts read as int64 elevations ->
    (tx, ty, filled: array<long>, depth: array<long>) where filled[p] is
    the elevation of the hydrologically conditioned surface — the unique
    minimum surface W with W >= z everywhere and no interior depression:
    every cell has a non-ascending path (8- or 4-connected) off the raster
    (the tile-union boundary drains freely). Equivalently W(c) = min over
    escape paths of max(z along the path) — the (min, max)-semiring
    shortest path that the sequential priority-flood computes. depth[p] =
    W - z, the fill depth, read from the same packed state (no join back
    to the input). Flats are preserved (no epsilon gradient is imposed);
    downstream d8_flow reports them as dir = -1 exactly as for natural
    plateaus.

    Distributed shape (the classic 'hard to parallelize' DEM operator,
    recast on the engine's halo machinery): block-Jacobi from above.
    State = one packed (w, z) int64 per pixel (see _FILL_* above); per
    round, ONE radius-1 halo exchange ships each tile's current boundary
    estimates to its 8 neighbors and an exact per-tile priority-flood
    (numpy + heapq Arrow kernel) re-solves the tile against those fixed
    ring values. w starts at +INF and only decreases, each round's local
    solve is exact given its boundary, so the sweep converges to the
    global fixpoint in at most (longest inter-tile minimax escape chain)
    rounds — depressions spanning k tiles cost ~k rounds, each one shuffle
    of O(perimeter) bytes per tile; cells never leave their tile.
    Convergence is detected by the engine's order-independent digest
    (count + xor of row hashes, the _jump_fixpoint idiom) with lineage
    truncated per round; max_iters is the safety rail.

    Composes directly with the rest of the hydrology family:
    d8_flow(fill_depressions(t, res).withColumnRenamed('filled', 'counts'))
    -> flow_accumulation — the standard Fill -> FlowDir -> FlowAcc chain.
    DuckDB twin: fill_depressions_sql (threshold-reachability form — W(c) =
    min level L with an escape path through cells z <= L — exact with no
    iteration cap). Reference provenance: the reference has no raster
    surface; this completes the SURVEY.md hydrology additions."""
    if connectivity not in (4, 8):
        raise ValueError(f"connectivity must be 4 or 8, got {connectivity}")
    lo, hi = -_FILL_SHIFT, _FILL_SHIFT
    # the domain guard rides INSIDE the packed expression (assert_true is
    # null on success, so the coalesce adds 0) — a side-column guard would
    # be pruned away by Catalyst the moment nothing consumes it
    init = tiles.select(
        "tx", "ty",
        F.transform(
            "counts",
            lambda z: (
                F.lit(_FILL_INF) * F.lit(1 << 31)
                + (z + F.lit(_FILL_SHIFT))
                + F.coalesce(
                    F.assert_true(
                        (z >= F.lit(lo)) & (z < F.lit(hi)),
                        F.lit(
                            "fill_depressions: elevation out of"
                            " |z| < 2^30 domain"
                        ),
                    ).cast("long"),
                    F.lit(0),
                )
            ).cast("long"),
        ).alias("counts"),
    )

    conn = connectivity

    def finish(halo: np.ndarray, mask: np.ndarray) -> np.ndarray:
        wb = halo >> 31
        zb = halo & _FILL_MASK
        inside = mask > 0
        # vectorized stationarity fast path: one Jacobi sweep W' =
        # max(z, min over shifted W) with ring drains applied; if no
        # interior cell changes, the tile is already at its local fixpoint
        # (Planchon & Darboux Thm. 1, epsilon=0: a surface no relaxation
        # can lower IS the fill for the given boundary), so the Python
        # heap flood is skipped. At scale most tiles are stationary most
        # rounds — this turns the per-round cost into a numpy sweep except
        # on the still-converging frontier (parity asserted in tests).
        g = np.where(inside, wb, np.int64(-1))
        offs = _D8_OFFSETS if conn == 8 else _D4_OFFSETS
        m = None
        for dx, dy in offs:
            s = g[1 + dy : 1 + dy + res, 1 + dx : 1 + dx + res]
            m = s.copy() if m is None else np.minimum(m, s)
        zc = zb[1 : res + 1, 1 : res + 1]
        wc = wb[1 : res + 1, 1 : res + 1]
        if np.array_equal(np.maximum(zc, m), wc):
            return (wc * (1 << 31) + zc).reshape(-1)
        new_wb = _np_local_flood(zb, wb, inside, res, conn)
        return (new_wb * (1 << 31) + zc).reshape(-1)

    state = _halo_fixpoint(init, res, finish, max_iters, "fill_depressions")
    return state.select(
        "tx", "ty",
        F.transform(
            "counts",
            lambda p: (F.shiftright(p, 31) - F.lit(_FILL_SHIFT)).cast("long"),
        ).alias("filled"),
        F.transform(
            "counts",
            lambda p: (
                F.shiftright(p, 31) - p.bitwiseAND(F.lit(_FILL_MASK))
            ).cast("long"),
        ).alias("depth"),
    )


def fill_depressions_sql(
    tiles_table: str, res: int, connectivity: int = 8
) -> str:
    """DuckDB twin of fill_depressions, by an independent derivation: the
    filled elevation W(c) equals the MINIMUM level L (over the distinct
    elevations present) such that c can reach the outside of the raster
    through cells with z <= L — the threshold-graph reachability form of
    the minimax escape path (every minimax value is some cell's z, so
    distinct z values suffice as candidate levels). One recursive CTE
    floods all levels at once (rows carry (L, gx, gy); UNION dedup bounds
    the working set at n_levels * n_cells); seeds are the cells adjacent
    to a missing neighbor. Exact with no iteration cap — deliberately
    O(n_levels * n_cells) quarantined-oracle work, like every brute twin
    here. Emits (gx, gy, z, w)."""
    offs = _D8_OFFSETS if connectivity == 8 else _D4_OFFSETS
    nbr = " UNION ALL ".join(
        f"SELECT {dx} AS dx, {dy} AS dy" for dx, dy in offs
    )
    return f"""
        WITH RECURSIVE fcells AS MATERIALIZED (
          SELECT tx * {res} + i % {res} AS gx,
                 ty * {res} + i // {res} AS gy,
                 counts[i + 1] AS z
          FROM {tiles_table}, range(0, {res * res}) t(i)
        ), fnbr AS ({nbr}),
        flevels AS (SELECT DISTINCT z AS L FROM fcells),
        fseeds AS (
          SELECT c.gx, c.gy, c.z FROM fcells c
          WHERE EXISTS (
            SELECT 1 FROM fnbr n
            WHERE NOT EXISTS (
              SELECT 1 FROM fcells c2
              WHERE c2.gx = c.gx + n.dx AND c2.gy = c.gy + n.dy
            )
          )
        ),
        freach AS (
          SELECT l.L, s.gx, s.gy FROM fseeds s JOIN flevels l ON s.z <= l.L
          UNION
          SELECT r.L, c.gx, c.gy
          FROM freach r
          JOIN fnbr n ON true
          JOIN fcells c
            ON c.gx = r.gx + n.dx AND c.gy = r.gy + n.dy AND c.z <= r.L
        )
        SELECT c.gx, c.gy, c.z, MIN(r.L) AS w
        FROM fcells c JOIN freach r ON r.gx = c.gx AND r.gy = c.gy
        GROUP BY c.gx, c.gy, c.z
    """


# ---------------------------------------------------------------------------
# Flat-drainage resolution (completes hydrological conditioning)
# ---------------------------------------------------------------------------
# State packing for the flat-gradient fixpoint, same discipline as _FILL_*:
# packed = d * 2^31 + Wb with Wb = W + 2^30 (the filled surface) and d the
# evolving BFS distance to the flat's nearest draining cell, INF = 2^31 - 1
# (saturating: relaxation is min(d + 1, INF)).
_FLAT_INF = (1 << 31) - 1


def _np_flat_dist(
    wb: np.ndarray, d: np.ndarray, inside: np.ndarray, res: int
) -> np.ndarray:
    """Exact local multi-source Dijkstra for the flat gradient of one padded
    tile given FIXED ring estimates: dist(c) = min hop count to a draining
    cell walking only through cells of EQUAL filled elevation (the flat),
    where draining = has a strictly lower in-raster 8-neighbor or touches
    off-raster ground (the raster edge drains). Interior seeds start at 0,
    other interior cells at INF, ring cells at their current estimates;
    relax = d + 1 (saturating at INF) across equal-W adjacency; lazy-heap
    update-if-better (ring starts are arbitrary, so first-touch is not
    enough). Returns the res*res interior distance grid."""
    import heapq

    pad = res + 2
    dist = d.copy()
    # interior seed detection needs each cell's full 3x3 neighborhood —
    # exactly what the halo provides for the center res*res block
    c = wb[1 : res + 1, 1 : res + 1]
    seed = np.zeros((res, res), dtype=bool)
    lower = np.zeros((res, res), dtype=bool)
    for dx, dy in _D8_OFFSETS:
        nw = wb[1 + dy : 1 + dy + res, 1 + dx : 1 + dx + res]
        nm = inside[1 + dy : 1 + dy + res, 1 + dx : 1 + dx + res]
        lower |= nm & (nw < c)
        seed |= ~nm
    seed |= lower
    dist[1 : res + 1, 1 : res + 1] = np.where(
        seed, 0, np.int64(_FLAT_INF)
    )
    heap = [
        (int(dist[y, x]), y * pad + x)
        for y in range(pad)
        for x in (range(pad) if y in (0, pad - 1) else (0, pad - 1))
        if inside[y, x] and dist[y, x] < _FLAT_INF
    ]
    sy, sx = np.nonzero(seed)
    heap += [(0, (y + 1) * pad + (x + 1)) for y, x in zip(sy, sx)]
    heapq.heapify(heap)
    while heap:
        dd, idx = heapq.heappop(heap)
        y, x = idx // pad, idx % pad
        if dd > dist[y, x]:
            continue
        nd = dd + 1
        if nd >= _FLAT_INF:
            continue
        for dx, dy in _D8_OFFSETS:
            ny, nx = y + dy, x + dx
            if (
                1 <= ny <= res and 1 <= nx <= res
                and wb[ny, nx] == wb[y, x]
                and nd < dist[ny, nx]
            ):
                dist[ny, nx] = nd
                heapq.heappush(heap, (nd, ny * pad + nx))
    return dist[1 : res + 1, 1 : res + 1]


def resolve_flats(
    filled: DataFrame,
    res: int,
    max_iters: int = 64,
    elev_col: str = "filled",
) -> DataFrame:
    """Drainage assignment over flat surfaces (the companion of
    fill_depressions — Barnes/Lehman/Mulla 2014 semantics, reduced to the
    provable towards-drainage gradient): given a filled DEM (tx, ty,
    `elev_col`) produce a COMPLETE D8 flow frame (tx, ty, d8_dir, d8_key)
    in which every cell drains — cells with a strictly lower neighbor keep
    d8_flow's exact steepest-descent choice (bit-identical dir and key),
    and every flat cell is pointed at the equal-elevation neighbor nearest
    to the flat's draining edge (min BFS distance, compass-priority ties,
    d8_key = 0 on flats). The only dir = -1 survivors are raster-EDGE
    drains (no lower in-raster neighbor but touching off-raster ground) —
    the engine's existing sink semantics, so flow_edges / basins /
    flow_accumulation compose unchanged; on a filled surface no INTERIOR
    cell keeps dir = -1.

    The flat gradient d(c) — hops to the nearest draining cell through
    equal-elevation ground — is the same block-Jacobi halo fixpoint as the
    fill (one radius-1 exchange per round, exact per-tile Dijkstra against
    fixed ring estimates, monotone from INF, digest convergence; rounds ~
    tiles the flat spans), with a vectorized stationarity fast path (unit-
    weight Bellman has no spurious fixpoints: any mutually-supporting cycle
    would need d values increasing by 1 around a cycle). Each d >= 1 cell
    has an equal-W neighbor at d - 1 by construction, so the assigned
    pointers descend to a drain — completeness is structural, not checked.

    condition_dem composes fill + resolve. DuckDB twin: resolve_flats_sql.
    Follows the simplification documented in SURVEY.md: the away-from-
    higher aesthetic half of Barnes' mask changes WHERE parallel flow
    converges inside wide flats but not THAT it drains; the towards-lower
    half alone already yields complete, deterministic, provable drainage."""
    if elev_col != "counts":
        filled = filled.select(
            "tx", "ty", F.col(elev_col).alias("counts")
        )
    lo, hi = -_FILL_SHIFT, _FILL_SHIFT
    init = filled.select(
        "tx", "ty",
        F.transform(
            "counts",
            lambda z: (
                F.lit(_FLAT_INF) * F.lit(1 << 31)
                + (z + F.lit(_FILL_SHIFT))
                + F.coalesce(
                    F.assert_true(
                        (z >= F.lit(lo)) & (z < F.lit(hi)),
                        F.lit(
                            "resolve_flats: elevation out of"
                            " |z| < 2^30 domain"
                        ),
                    ).cast("long"),
                    F.lit(0),
                )
            ).cast("long"),
        ).alias("counts"),
    )

    def finish(halo: np.ndarray, mask: np.ndarray) -> np.ndarray:
        d = halo >> 31
        wb = halo & _FILL_MASK
        inside = mask > 0
        c = wb[1 : res + 1, 1 : res + 1]
        dc = d[1 : res + 1, 1 : res + 1]
        # stationarity fast path: recompute seeds + one Bellman sweep
        seed = np.zeros((res, res), dtype=bool)
        m = np.full((res, res), _FLAT_INF, dtype=np.int64)
        for dx, dy in _D8_OFFSETS:
            nw = wb[1 + dy : 1 + dy + res, 1 + dx : 1 + dx + res]
            nm = inside[1 + dy : 1 + dy + res, 1 + dx : 1 + dx + res]
            nd = d[1 + dy : 1 + dy + res, 1 + dx : 1 + dx + res]
            seed |= (~nm) | (nm & (nw < c))
            m = np.minimum(
                m, np.where(nm & (nw == c), np.minimum(nd + 1, _FLAT_INF),
                            np.int64(_FLAT_INF))
            )
        want = np.where(seed, 0, m)
        if np.array_equal(want, dc):
            return (dc * (1 << 31) + c).reshape(-1)
        nd = _np_flat_dist(wb, d, inside, res)
        return (nd * (1 << 31) + c).reshape(-1)

    state = _halo_fixpoint(init, res, finish, max_iters, "resolve_flats")

    # final pass: assign directions from the converged (W, d) state — the
    # d8 steepest-descent argmax where a lower neighbor exists (identical
    # to d8_flow's kernel), else the min-(d, compass) equal-W neighbor
    nbrs = [
        (1, 0, True), (1, 1, False), (0, 1, True), (-1, 1, False),
        (-1, 0, True), (0, -1, True), (-1, -1, False), (1, -1, False),
    ]

    def assign(halo: np.ndarray, mask: np.ndarray) -> dict:
        d = halo >> 31
        wb = halo & _FILL_MASK
        inside = mask > 0
        c = wb[1 : res + 1, 1 : res + 1]
        dc = d[1 : res + 1, 1 : res + 1]
        best_key = np.zeros((res, res), dtype=np.int64)
        best_dir = np.full((res, res), -1, dtype=np.int64)
        # steepest descent (exact d8_flow replica on the filled surface)
        for i, (dx, dy, orth) in enumerate(nbrs):
            nz = wb[1 + dy : 1 + dy + res, 1 + dx : 1 + dx + res]
            nm = inside[1 + dy : 1 + dy + res, 1 + dx : 1 + dx + res]
            drop = c - nz
            key = drop * drop * (2 if orth else 1)
            better = (drop > 0) & nm & (key > best_key)
            best_key[better] = key[better]
            best_dir[better] = i
        # flat gradient descent where no lower neighbor exists: min
        # (neighbor d, compass index) among equal-W in-raster neighbors
        # strictly below own d — packed as d * 16 + i so one running min
        # resolves both orderings at once
        flat = best_dir == -1
        best_fd = np.full((res, res), np.iinfo(np.int64).max, dtype=np.int64)
        for i, (dx, dy, _o) in enumerate(nbrs):
            nw = wb[1 + dy : 1 + dy + res, 1 + dx : 1 + dx + res]
            nm = inside[1 + dy : 1 + dy + res, 1 + dx : 1 + dx + res]
            nd = d[1 + dy : 1 + dy + res, 1 + dx : 1 + dx + res]
            ok = flat & nm & (nw == c) & (nd < dc)
            cand = nd * 16 + i
            upd = ok & (cand < best_fd)
            best_fd[upd] = cand[upd]
        resolved = flat & (best_fd < np.iinfo(np.int64).max)
        best_dir[resolved] = best_fd[resolved] % 16
        return {
            "d8_dir": best_dir.reshape(-1).tolist(),
            "d8_key": best_key.reshape(-1).tolist(),
            "flat_d": np.where(dc >= _FLAT_INF, -1, dc).reshape(-1).tolist(),
        }

    from engine.focal import _halo_apply

    return _halo_apply(
        state, res, 1, assign,
        fields=[
            ("d8_dir", T.ArrayType(T.LongType())),
            ("d8_key", T.ArrayType(T.LongType())),
            ("flat_d", T.ArrayType(T.LongType())),
        ],
    )


def condition_dem(
    tiles: DataFrame, res: int, connectivity: int = 8, max_iters: int = 64
) -> DataFrame:
    """Full hydrological conditioning: fill_depressions + resolve_flats —
    raw DEM in, complete D8 flow frame out (every cell drains; dir = -1
    only at raster-edge sinks). The standard preprocessing in front of
    flow_accumulation / basins / catchments."""
    filled = fill_depressions(tiles, res, connectivity, max_iters)
    return resolve_flats(filled, res, max_iters)


def resolve_flats_sql(cells_sql: str) -> str:
    """DuckDB twin of resolve_flats over a filled surface: `cells_sql` must
    emit (gx, gy, w). Independent derivation — seeds (lower in-raster
    neighbor or missing neighbor) via EXISTS, the flat gradient as a
    level-tracked recursive-CTE BFS over equal-w adjacency (UNION dedup;
    depth capped by the raster's L1 span, a valid upper bound on any
    8-connected in-raster BFS distance), the d8 half as the packed argmax
    of _d8_sql, and the flat argmin as MIN(d_n * 16 + dir) — the identical
    (distance, compass) lexicographic tie-break. Emits
    (gx, gy, dir, key, flat_d)."""
    nbrs = [
        (0, 1, 0, 2), (1, 1, 1, 1), (2, 0, 1, 2), (3, -1, 1, 1),
        (4, -1, 0, 2), (5, 0, -1, 2), (6, -1, -1, 1), (7, 1, -1, 1),
    ]
    nbr_rows = ", ".join(f"({d}, {dx}, {dy}, {m})" for d, dx, dy, m in nbrs)
    return f"""
        WITH RECURSIVE rcells AS MATERIALIZED ({cells_sql}),
        rnbr(dir, dx, dy, mult) AS (SELECT * FROM (VALUES {nbr_rows})),
        rcap AS (
          SELECT MAX(gx) - MIN(gx) + MAX(gy) - MIN(gy) + 1 AS cap
          FROM rcells
        ),
        rseeds AS (
          SELECT c.gx, c.gy FROM rcells c
          WHERE EXISTS (
            SELECT 1 FROM rnbr n
            WHERE NOT EXISTS (
              SELECT 1 FROM rcells c2
              WHERE c2.gx = c.gx + n.dx AND c2.gy = c.gy + n.dy
            )
          )
          OR EXISTS (
            SELECT 1 FROM rnbr n
            JOIN rcells c2
              ON c2.gx = c.gx + n.dx AND c2.gy = c.gy + n.dy
            WHERE c2.w < c.w
          )
        ),
        rwalk AS (
          SELECT gx, gy, 0 AS d FROM rseeds
          UNION
          SELECT c.gx, c.gy, r.d + 1
          FROM rwalk r
          JOIN rnbr n ON TRUE
          JOIN rcells rc ON rc.gx = r.gx AND rc.gy = r.gy
          JOIN rcells c
            ON c.gx = r.gx + n.dx AND c.gy = r.gy + n.dy AND c.w = rc.w
          WHERE r.d + 1 < (SELECT cap FROM rcap)
        ),
        rdist AS MATERIALIZED (
          SELECT gx, gy, MIN(d) AS d FROM rwalk GROUP BY gx, gy
        ),
        rbest AS (
          SELECT c.gx, c.gy,
                 MAX((c.w - n.w) * (c.w - n.w) * o.mult * 16
                     + (15 - o.dir)) AS packed
          FROM rcells c
          JOIN rnbr o ON TRUE
          JOIN rcells n ON n.gx = c.gx + o.dx AND n.gy = c.gy + o.dy
          WHERE c.w - n.w > 0
          GROUP BY c.gx, c.gy
        ),
        rflat AS (
          SELECT c.gx, c.gy, MIN(dn.d * 16 + o.dir) AS fpacked
          FROM rcells c
          JOIN rdist dc ON dc.gx = c.gx AND dc.gy = c.gy
          JOIN rnbr o ON TRUE
          JOIN rcells n
            ON n.gx = c.gx + o.dx AND n.gy = c.gy + o.dy AND n.w = c.w
          JOIN rdist dn ON dn.gx = n.gx AND dn.gy = n.gy AND dn.d < dc.d
          GROUP BY c.gx, c.gy
        )
        SELECT c.gx, c.gy,
               CAST(CASE WHEN b.packed IS NOT NULL THEN 15 - (b.packed % 16)
                         WHEN f.fpacked IS NOT NULL THEN f.fpacked % 16
                         ELSE -1 END AS BIGINT) AS dir,
               CAST(COALESCE(b.packed // 16, 0) AS BIGINT) AS key,
               CAST(COALESCE(dd.d, -1) AS BIGINT) AS flat_d
        FROM rcells c
        LEFT JOIN rbest b ON b.gx = c.gx AND b.gy = c.gy
        LEFT JOIN rflat f ON f.gx = c.gx AND f.gy = c.gy
        LEFT JOIN rdist dd ON dd.gx = c.gx AND dd.gy = c.gy
    """


# ---------------------------------------------------------------------------
# Strahler stream order
# ---------------------------------------------------------------------------
# State packing: packed = order * 2^31 + (stream_flag << 4) + (dir + 1).
# dir in [-1, 7] fits 4 bits; order is bounded by log2(#stream heads) + 1
# (order k needs >= 2^(k-1) heads), so 31 high bits are beyond generous.


def _np_tile_strahler(
    dirv: np.ndarray, stream: np.ndarray, order: np.ndarray,
    inside: np.ndarray, res: int,
) -> np.ndarray:
    """Exact per-tile Strahler solve given FIXED ring estimates: a Kahn
    topological peel of the tile-interior flow DAG (conditioned dirs are
    acyclic; cells on a cycle would simply keep their current order). Each
    interior cell's order is recomputed from its upstream STREAM neighbors'
    orders — ring neighbors contribute their current (monotone-from-below)
    estimates, interior neighbors their freshly peeled values; zero-order
    contributions are 'not yet known upstream' and are ignored, which is
    exactly what makes the global iteration a least-fixpoint climb.
    order(c) = 1 when no positive contribution, else max + 1 if the max is
    contributed at least twice, else max. Non-stream cells keep order 0
    (they gate topology but contribute nothing). Returns the res*res
    interior order grid."""
    pad = res + 2
    offs = np.array(_D8_OFFSETS, dtype=np.int64)  # (8, 2) as (dx, dy)
    # per-cell running contribution stats
    maxo = np.zeros((pad, pad), dtype=np.int64)
    cnt = np.zeros((pad, pad), dtype=np.int64)
    indeg = np.zeros((pad, pad), dtype=np.int64)
    out = order.copy()

    def contribute(sy, sx, o):
        """Fold contributions o (array) from source cells (sy, sx) into
        their flow targets' running (maxo, cnt_at_max)."""
        d = dirv[sy, sx]
        ok = d >= 0
        sy, sx, o, d = sy[ok], sx[ok], o[ok], d[ok]
        ty_ = sy + offs[d, 1]
        tx_ = sx + offs[d, 0]
        ok2 = (ty_ >= 1) & (ty_ <= res) & (tx_ >= 1) & (tx_ <= res)
        ty_, tx_, o = ty_[ok2], tx_[ok2], o[ok2]
        pos = o > 0
        # sequential fold (targets repeat within a wave): python loop over
        # the wave's edges — waves are small after the first
        for y, x, oo in zip(ty_[pos], tx_[pos], o[pos]):
            if oo > maxo[y, x]:
                maxo[y, x] = oo
                cnt[y, x] = 1
            elif oo == maxo[y, x]:
                cnt[y, x] += 1

    # in-degree of interior cells counting INTERIOR upstream only
    iy, ix = np.mgrid[1 : res + 1, 1 : res + 1]
    iy, ix = iy.ravel(), ix.ravel()
    d_all = dirv[iy, ix]
    has = d_all >= 0
    t_y = iy[has] + offs[d_all[has], 1]
    t_x = ix[has] + offs[d_all[has], 0]
    okt = (t_y >= 1) & (t_y <= res) & (t_x >= 1) & (t_x <= res)
    np.add.at(indeg, (t_y[okt], t_x[okt]), 1)

    # ring entries: fixed contributions into the interior
    ry, rx = np.nonzero(
        np.pad(np.zeros((res, res), dtype=bool), 1, constant_values=True)
    )
    rin = inside[ry, rx]
    contribute(ry[rin], rx[rin],
               np.where(stream[ry, rx][rin] > 0, order[ry, rx][rin], 0))

    frontier_y, frontier_x = np.nonzero(
        (indeg[1 : res + 1, 1 : res + 1] == 0)
    )
    fy, fx = frontier_y + 1, frontier_x + 1
    while fy.size:
        is_s = stream[fy, fx] > 0
        o = np.where(
            is_s,
            np.where(
                maxo[fy, fx] == 0, 1,
                maxo[fy, fx] + (cnt[fy, fx] >= 2).astype(np.int64),
            ),
            0,
        )
        out[fy, fx] = o
        contribute(fy, fx, np.where(is_s, o, 0))
        # advance the wave: decrement targets' indegree
        d = dirv[fy, fx]
        ok = d >= 0
        ty_ = fy[ok] + offs[d[ok], 1]
        tx_ = fx[ok] + offs[d[ok], 0]
        ok2 = (ty_ >= 1) & (ty_ <= res) & (tx_ >= 1) & (tx_ <= res)
        ty_, tx_ = ty_[ok2], tx_[ok2]
        np.subtract.at(indeg, (ty_, tx_), 1)
        nxt = indeg[ty_, tx_] == 0
        # dedup: two in-wave sources can feed the SAME target (a confluence
        # whose tributaries peel in the same wave) — the post-subtract check
        # then selects the target once per feeding edge, and processing it
        # twice would double-fold its contribution and push its own target's
        # indegree negative (stalling the chain). Unique (y, x) pairs only.
        packed = ty_[nxt] * np.int64(pad) + tx_[nxt]
        packed = np.unique(packed)
        fy, fx = packed // pad, packed % pad
    return out[1 : res + 1, 1 : res + 1]


def strahler_order(
    flow: DataFrame,
    res: int,
    stream_col: str | None = None,
    max_iters: int = 64,
) -> DataFrame:
    """Strahler stream order over a conditioned D8 flow frame (tx, ty,
    d8_dir [, `stream_col`: 0/1 int array marking stream cells, e.g.
    flow_accumulation >= threshold; None = every cell is a stream cell]):
    (tx, ty, strahler: array<long>) with order 0 on non-stream cells,
    1 on stream heads, and max(upstream orders) + 1 exactly when >= 2
    direct stream neighbors tie at the max — ESRI Stream Order (Strahler)
    semantics with DIRECT-neighbor contribution (a non-stream gap restarts
    the order, the standard raster behavior when the mask comes from an
    accumulation threshold, where gaps cannot occur).

    Distributed shape: Strahler is the LEAST fixpoint of its defining
    equations, so the engine climbs it from below on the shared halo
    fixpoint (_halo_fixpoint): per round, one radius-1 exchange ships each
    tile's current orders + dirs to its neighbors and an exact per-tile
    Kahn peel (_np_tile_strahler) re-solves the tile with ring entries
    fixed. Orders only rise and are bounded by log2(#heads) + 1, each
    round's solve is exact given its boundary, so convergence takes ~the
    longest flow path measured in TILES (same class as fill_depressions).
    Requires acyclic dirs (condition_dem output); max_iters is the rail.

    DuckDB twin: strahler_order_sql — unrolled order-level memberships
    S_k (order >= k iff downstream of a >=2-way S_{k-1} confluence), each
    a recursive-CTE downstream closure; 12 levels covers any raster with
    < 2^11 stream heads."""
    cols = ["tx", "ty", F.col("d8_dir")]
    stream_expr = (
        F.transform("d8_dir", lambda _: F.lit(1))
        if stream_col is None
        else F.col(stream_col)
    )
    init = flow.select(
        *cols[:2],
        F.zip_with(
            "d8_dir", stream_expr.alias("_s"),
            lambda d, s: (
                (F.when(s > 0, F.lit(1)).otherwise(F.lit(0)) * F.lit(16))
                + (d + F.lit(1))
            ).cast("long"),
        ).alias("counts"),
    )

    def finish(halo: np.ndarray, mask: np.ndarray) -> np.ndarray:
        order = halo >> 31
        low = halo & _FILL_MASK
        dirv = (low & 15) - 1
        stream = (low >> 4) & 1
        inside = mask > 0
        # off-raster ring cells must not flow anywhere or contribute
        dirv = np.where(inside, dirv, np.int64(-1))
        new_o = _np_tile_strahler(dirv, stream, order, inside, res)
        lowc = low[1 : res + 1, 1 : res + 1]
        return (new_o * (1 << 31) + lowc).reshape(-1)

    state = _halo_fixpoint(init, res, finish, max_iters, "strahler_order")
    return state.select(
        "tx", "ty",
        F.transform(
            "counts", lambda p: F.shiftright(p, 31).cast("long")
        ).alias("strahler"),
    )


def strahler_order_sql(cells_sql: str, max_order: int = 12) -> str:
    """DuckDB twin of strahler_order (all-cells stream mask): `cells_sql`
    emits (gx, gy, dir) — the conditioned flow frame exploded to pixels
    (dir -1 = sink). Independent derivation via order-level memberships:
    S_1 = all cells; S_{k+1} = the downstream closure of cells receiving
    >= 2 upstream S_k members (order is monotone nondecreasing downstream,
    so membership IS a closure); order = count of memberships. Each level
    is one recursive CTE; `max_order` levels is exact whenever the raster
    has < 2^(max_order - 1) heads (order k needs >= 2^(k-1) heads)."""
    nbrs = [
        (0, 1, 0), (1, 1, 1), (2, 0, 1), (3, -1, 1),
        (4, -1, 0), (5, 0, -1), (6, -1, -1), (7, 1, -1),
    ]
    nbr_rows = ", ".join(f"({d}, {dx}, {dy})" for d, dx, dy in nbrs)
    parts = [f"""
        scells AS MATERIALIZED ({cells_sql}),
        snbr(dir, dx, dy) AS (SELECT * FROM (VALUES {nbr_rows})),
        sedges AS MATERIALIZED (
          SELECT c.gx AS sgx, c.gy AS sgy,
                 c.gx + n.dx AS dgx, c.gy + n.dy AS dgy
          FROM scells c JOIN snbr n ON n.dir = c.dir
          JOIN scells t ON t.gx = c.gx + n.dx AND t.gy = c.gy + n.dy
        ),
        s1 AS (SELECT gx, gy FROM scells)"""]
    for k in range(2, max_order + 1):
        parts.append(f"""
        seed{k} AS (
          SELECT e.dgx AS gx, e.dgy AS gy
          FROM sedges e JOIN s{k - 1} p
            ON p.gx = e.sgx AND p.gy = e.sgy
          GROUP BY e.dgx, e.dgy HAVING COUNT(*) >= 2
        ),
        s{k} AS (
          SELECT gx, gy FROM seed{k}
          UNION
          SELECT e.dgx, e.dgy
          FROM s{k} r JOIN sedges e ON e.sgx = r.gx AND e.sgy = r.gy
        )""")
    unions = "\n          UNION ALL\n          ".join(
        f"SELECT gx, gy FROM s{k}" for k in range(1, max_order + 1)
    )
    return f"""
        WITH RECURSIVE {", ".join(parts)}
        SELECT gx, gy, COUNT(*) AS strahler
        FROM (
          {unions}
        ) m
        GROUP BY gx, gy
    """


def flow_accumulation_sql(cells_sql: str) -> str:
    """DuckDB twin of flow_accumulation (unit weights) over a conditioned
    flow frame: `cells_sql` emits (gx, gy, dir) — the flow frame exploded to
    pixels (dir -1 = sink; dirs presence-masked as everywhere in the d8
    family). INDEPENDENT derivation — no Kahn peel, no two-level contraction:
    acc(c) = COUNT of cells s whose downstream pointer walk passes through c,
    s = c included, i.e. ONE recursive-CTE closure seeding every cell at
    itself and stepping each (source, cursor) pair one pointer at a time,
    counted by cursor. Terminates because conditioned flow is acyclic
    (resolve_flats drains every interior cell; the flat pointer's BFS
    distance strictly decreases along it) and UNION dedups (s, c) pairs; the
    existence join keeps the walk inside the emitted domain, matching the
    engine's presence-masked edges."""
    nbrs = [
        (0, 1, 0), (1, 1, 1), (2, 0, 1), (3, -1, 1),
        (4, -1, 0), (5, 0, -1), (6, -1, -1), (7, 1, -1),
    ]
    nbr_rows = ", ".join(f"({d}, {dx}, {dy})" for d, dx, dy in nbrs)
    return f"""
        WITH RECURSIVE fcells AS MATERIALIZED ({cells_sql}),
        fnbr(dir, dx, dy) AS (SELECT * FROM (VALUES {nbr_rows})),
        fedges AS MATERIALIZED (
          SELECT c.gx AS sgx, c.gy AS sgy,
                 c.gx + n.dx AS dgx, c.gy + n.dy AS dgy
          FROM fcells c JOIN fnbr n ON n.dir = c.dir
          JOIN fcells t ON t.gx = c.gx + n.dx AND t.gy = c.gy + n.dy
        ),
        fwalk(sx, sy, cx, cy) AS (
          SELECT gx, gy, gx, gy FROM fcells
          UNION
          SELECT w.sx, w.sy, e.dgx, e.dgy
          FROM fwalk w JOIN fedges e ON e.sgx = w.cx AND e.sgy = w.cy
        )
        SELECT cx AS gx, cy AS gy, COUNT(*) AS acc
        FROM fwalk GROUP BY cx, cy
    """


# ---------------------------------------------------------------------------
# Cost surface (nearest-source accumulated cost; tile-native halo kernel)
# ---------------------------------------------------------------------------
# State packing: packed = dist * 2^22 + src_flag * 2^21 + cost, where cost
# in [1, 2^20) marks a passable cell (0 = barrier / nodata), src_flag pins
# the multi-source seeds, and dist uses the remaining 41 bits with
# INF = 2^41 - 1 (unreached / unreachable / barrier).

_COST_INF = (1 << 41) - 1
_COST_MASK = (1 << 21) - 1
_COST_CARD = 5
_COST_DIAG = 7


def _cost_mults(conn: int):
    offs = _D8_OFFSETS if conn == 8 else _D4_OFFSETS
    return offs, [
        _COST_DIAG if abs(dx) + abs(dy) == 2 else _COST_CARD
        for dx, dy in offs
    ]


def _np_tile_dijkstra(
    dist: np.ndarray, cost: np.ndarray, srcf: np.ndarray,
    inside: np.ndarray, res: int, conn: int,
) -> np.ndarray:
    """Exact per-tile multi-source Dijkstra given FIXED ring estimates:
    the heap is seeded by the tile's own source cells (at 0) and by every
    passable in-raster ring cell holding a finite current estimate; a move
    a->b costs (cost_a + cost_b) * (5 cardinal / 7 diagonal). First-pop
    settles a cell (nonneg move costs). Returns the res*res interior dist
    grid (INF where unreached or impassable)."""
    import heapq

    pad = res + 2
    offs, mults = _cost_mults(conn)
    passable = inside & (cost > 0)
    out = np.full((pad, pad), _COST_INF, dtype=np.int64)
    heap: list = []
    for y in range(pad):
        xs = (0, pad - 1) if 0 < y < pad - 1 else range(pad)
        for x in xs:
            if passable[y, x] and dist[y, x] < _COST_INF:
                heap.append((int(dist[y, x]), y * pad + x))
    iy, ix = np.nonzero(srcf[1 : res + 1, 1 : res + 1] > 0)
    for y, x in zip(iy + 1, ix + 1):
        if passable[y, x]:
            heap.append((0, y * pad + x))
    heapq.heapify(heap)
    settled = np.zeros((pad, pad), dtype=bool)
    while heap:
        d, idx = heapq.heappop(heap)
        y, x = divmod(idx, pad)
        if settled[y, x]:
            continue
        settled[y, x] = True
        if 1 <= y <= res and 1 <= x <= res:
            out[y, x] = d
        c = int(cost[y, x])
        for (dx, dy), m in zip(offs, mults):
            ny, nx = y + dy, x + dx
            if (
                1 <= ny <= res and 1 <= nx <= res
                and passable[ny, nx] and not settled[ny, nx]
            ):
                nd = d + (c + int(cost[ny, nx])) * m
                if nd >= _COST_INF:
                    raise ValueError(
                        "cost_surface: accumulated cost exceeds the"
                        " 2^41 domain"
                    )
                heapq.heappush(heap, (nd, ny * pad + nx))
    return out[1 : res + 1, 1 : res + 1]


def _cost_init(
    tiles: DataFrame, res: int, sources
) -> DataFrame:
    spark = tiles.sparkSession
    if not isinstance(sources, DataFrame):
        sources = local_relation(
            spark, [(int(x), int(y)) for x, y in sources], "gx long, gy long"
        )
    tx, ty, pix = tile_pixel(res)
    spt = (
        sources.select(tx.alias("tx"), ty.alias("ty"), pix.alias("pix"))
        .groupBy("tx", "ty")
        .agg(F.collect_set("pix").alias("_spix"))
    )
    hi = 1 << 20
    src_set = F.coalesce(F.col("_spix"), F.array().cast("array<int>"))
    return (
        tiles.join(F.broadcast(spt), ["tx", "ty"], "left")
        .select(
            "tx", "ty",
            F.transform(
                "counts",
                lambda c, i: (
                    F.when(
                        array_contains_safe(src_set, i) & (c > 0),
                        F.lit(0),
                    )
                    .otherwise(F.lit(_COST_INF))
                    * F.lit(1 << 22)
                    + F.when(
                        array_contains_safe(src_set, i) & (c > 0),
                        F.lit(1 << 21),
                    ).otherwise(F.lit(0))
                    + F.when(c > 0, c).otherwise(F.lit(0))
                    + F.coalesce(
                        F.assert_true(
                            c < F.lit(hi),
                            F.lit(
                                "cost_surface: cost out of the"
                                " cost < 2^20 domain"
                            ),
                        ).cast("long"),
                        F.lit(0),
                    )
                ).cast("long"),
            ).alias("counts"),
        )
    )


def array_contains_safe(arr, i):
    """array_contains with a Column needle (F.array_contains needs a
    literal in some Spark versions): EXISTS x == i."""
    return F.exists(arr, lambda x: x == i)


def _cost_state(
    tiles: DataFrame, res: int, sources, connectivity: int, max_iters: int
) -> DataFrame:
    if connectivity not in (4, 8):
        raise ValueError(f"connectivity must be 4 or 8, got {connectivity}")
    init = _cost_init(tiles, res, sources)
    conn = connectivity
    offs, mults = _cost_mults(conn)

    def finish(halo: np.ndarray, mask: np.ndarray) -> np.ndarray:
        dist = halo >> 22
        low = halo & _COST_MASK
        srcf = (halo >> 21) & 1
        inside = mask > 0
        cost = np.where(inside, low, np.int64(0))
        passable = cost > 0
        # vectorized stationarity fast path: one Jacobi relaxation sweep;
        # if no interior estimate improves, the tile already satisfies its
        # local Bellman equations for the current ring (sources are pinned
        # at 0 from init; move costs are strictly positive), so it IS the
        # least fixpoint given its boundary and the heap solve is skipped.
        g = np.where(passable, dist, _COST_INF)
        cc = cost[1 : res + 1, 1 : res + 1]
        best = g[1 : res + 1, 1 : res + 1].copy()
        for (dx, dy), m in zip(offs, mults):
            nb_d = g[1 + dy : 1 + dy + res, 1 + dx : 1 + dx + res]
            nb_c = cost[1 + dy : 1 + dy + res, 1 + dx : 1 + dx + res]
            cand = nb_d + (nb_c + cc) * np.int64(m)
            best = np.minimum(best, cand)
        pc = passable[1 : res + 1, 1 : res + 1]
        dc = dist[1 : res + 1, 1 : res + 1]
        new = np.where(pc, np.minimum(dc, best), np.int64(_COST_INF))
        lowc = low[1 : res + 1, 1 : res + 1]
        if np.array_equal(new, dc):
            return (dc * (1 << 22) + (srcf[1 : res + 1, 1 : res + 1] << 21)
                    + lowc).reshape(-1)
        nd = _np_tile_dijkstra(dist, cost, srcf, inside, res, conn)
        return (nd * (1 << 22) + (srcf[1 : res + 1, 1 : res + 1] << 21)
                + lowc).reshape(-1)

    return _halo_fixpoint(init, res, finish, max_iters, "cost_surface")


def cost_surface(
    tiles: DataFrame,
    res: int,
    sources,
    connectivity: int = 8,
    max_iters: int = 64,
) -> DataFrame:
    """Cost surface (ESRI Cost Distance / GRASS r.cost semantics — the
    NEAREST-source accumulated cost; see cost_distance for the per-source
    (source, cell) labeling on the exploded cell graph, the right shape
    for few sources / path extraction) over a friction raster: (tx, ty, counts) with counts read as int64 per-cell
    costs (>= 1 passable, <= 0 barrier/nodata, < 2^20) -> (tx, ty,
    cost_dist: array<long>) where cost_dist[p] is the MINIMUM accumulated
    cost from the nearest source over 8- (or 4-) connected paths, with a
    move a->b costing (cost_a + cost_b) * (5 cardinal / 7 diagonal) — the
    classic (c_a+c_b)/2 x {1, sqrt2} metric scaled by 10 with sqrt2 ~= 1.4,
    kept EXACT in int64 so the python oracle and both parallelism levels
    match bit for bit. -1 = barrier or unreachable. `sources` is a (gx, gy)
    DataFrame or list of pairs (pour points / facilities — broadcast-sized
    by nature); sources on barrier cells or off-raster are ignored.

    Distributed shape: block-Jacobi from above on the shared halo fixpoint
    (_halo_fixpoint, same machinery as fill_depressions/resolve_flats/
    strahler_order): per round, ONE radius-1 exchange ships each tile's
    current estimates + (cost, src) statics to its neighbors, and an exact
    per-tile multi-source Dijkstra (_np_tile_dijkstra) re-solves the tile
    against those fixed ring values, with a vectorized one-sweep
    stationarity fast path so converged tiles cost a numpy relaxation, not
    a heap walk. Estimates start at INF, decrease monotonically (the solve
    is monotone in its ring), and are bounded below by the true distance,
    so the sweep converges in ~(tile-crossings of the longest optimal
    path) rounds; cells never leave their tile. max_iters is the rail.

    DuckDB twin: none — Dijkstra's priority order has no bounded-recursion
    SQL expression (duckdb 1.0 lacks USING KEY recursive CTEs), so parity
    is pinned by the global-heap python oracle in tests (the
    flow_accumulation / catchments precedent) and by closed forms at
    16.8M cells in bench_kernels.py. Reference provenance: the reference
    has no raster surface; this extends the SURVEY.md raster family
    (fill/flats/d8/acc/strahler/EDT/viewshed + cost surfaces)."""
    state = _cost_state(tiles, res, sources, connectivity, max_iters)
    return state.select(
        "tx", "ty",
        F.transform(
            "counts",
            lambda p: F.when(
                F.shiftright(p, 22) == F.lit(_COST_INF), F.lit(-1)
            ).otherwise(F.shiftright(p, 22)).cast("long"),
        ).alias("cost_dist"),
    )


def cost_allocation(
    tiles: DataFrame,
    res: int,
    sources,
    connectivity: int = 8,
    max_iters: int = 64,
) -> DataFrame:
    """Cost allocation (ESRI Cost Allocation): (gx, gy, cost_dist, src_gx,
    src_gy) — every reachable passable cell assigned to the source that
    attains its minimum accumulated cost, ties broken by the FIRST
    optimal predecessor in packed (gx, gy) order at every step (fully
    deterministic; the python oracle replays the same rule). Barrier and
    unreachable cells are omitted.

    Shape: the converged cost_distance state + ONE more halo pass deriving
    each cell's optimal-predecessor pointer (argmin over neighbors of
    dist_n + move cost == dist_c, min packed id on ties; sources self-
    root), then the shared _jump_fixpoint pointer doubling (the catchments
    machinery) walks every cell to its source in O(log diameter)
    rounds. Move costs are strictly positive (cost >= 1), so dist strictly
    decreases along pointers — the forest cannot cycle."""
    from engine.focal import _halo_apply
    from pyspark.sql import types as T

    state = _cost_state(tiles, res, sources, connectivity, max_iters)
    conn = connectivity
    offs, mults = _cost_mults(conn)

    def pred_finish(halo: np.ndarray, mask: np.ndarray, key) -> dict:
        tx, ty = key
        pad = res + 2
        dist = halo >> 22
        low = halo & _COST_MASK
        srcf = (halo >> 21) & 1
        inside = mask > 0
        cost = np.where(inside, low, np.int64(0))
        passable = cost > 0
        g = np.where(passable, dist, _COST_INF)
        yy, xx = np.mgrid[0:pad, 0:pad]
        ggx = tx * res + (xx - 1)
        ggy = ty * res + (yy - 1)
        pid = _pack_np(ggx, ggy)
        cc = cost[1 : res + 1, 1 : res + 1]
        dc = g[1 : res + 1, 1 : res + 1]
        best = np.full((res, res), np.iinfo(np.int64).max, dtype=np.int64)
        for (dx, dy), m in zip(offs, mults):
            nb_d = g[1 + dy : 1 + dy + res, 1 + dx : 1 + dx + res]
            nb_c = cost[1 + dy : 1 + dy + res, 1 + dx : 1 + dx + res]
            nb_id = pid[1 + dy : 1 + dy + res, 1 + dx : 1 + dx + res]
            opt = (nb_d < _COST_INF) & (nb_d + (nb_c + cc) * np.int64(m) == dc)
            best = np.where(opt, np.minimum(best, nb_id), best)
        ctr = pid[1 : res + 1, 1 : res + 1]
        sc = srcf[1 : res + 1, 1 : res + 1] > 0
        fin = (dc < _COST_INF) & (cc > 0)
        parent = np.where(
            sc & fin, ctr,
            np.where(fin & (best < np.iinfo(np.int64).max), best,
                     np.int64(-1)),
        )
        return {
            "parent": parent.reshape(-1).tolist(),
            "dist": np.where(fin, dc, np.int64(-1)).reshape(-1).tolist(),
        }

    fields = [
        ("parent", T.ArrayType(T.LongType())),
        ("dist", T.ArrayType(T.LongType())),
    ]
    ptr = _halo_apply(state, res, 1, pred_finish, fields=fields,
                      pass_key=True)
    gx, gy = pixel_xy(res)
    cells = ptr.select(
        "tx", "ty",
        F.posexplode(F.arrays_zip("parent", "dist")).alias("pix", "v"),
    ).select(
        gx.alias("gx"), gy.alias("gy"),
        F.col("v.parent").alias("parent"),
        F.col("v.dist").alias("cost_dist"),
    ).filter(F.col("parent") >= 0)
    edges = cells.select(_pack(F.col("gx"), F.col("gy")).alias("src"), "parent")
    p = _jump_fixpoint(truncate_lineage(edges), max_iters,
                       "cost_allocation")
    spark = tiles.sparkSession
    if not isinstance(sources, DataFrame):
        sources = local_relation(
            spark, [(int(x), int(y)) for x, y in sources], "gx long, gy long"
        )
    spack = sources.select(
        _pack(F.col("gx"), F.col("gy")).alias("s_id"),
        F.col("gx").alias("src_gx"),
        F.col("gy").alias("src_gy"),
    ).dropDuplicates(["s_id"])
    return (
        cells.select("gx", "gy", "cost_dist",
                     _pack(F.col("gx"), F.col("gy")).alias("src"))
        .join(p, "src")
        .join(F.broadcast(spack), F.col("parent") == F.col("s_id"))
        .select("gx", "gy", "cost_dist", "src_gx", "src_gy")
    )


# Horizon-scan directions, compass-indexed: E, NE, N, NW, W, SW, S, SE.
# Cardinal steps have unit ground length, diagonal sqrt(2) — the factor is
# constant within a direction so the EXACT rational horizon search below
# never sees it; only the float SVF layer multiplies it back in.
_HORIZON_DIRS = [
    (1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0), (-1, -1), (0, -1), (1, -1)
]


def horizon_angles(
    tiles: DataFrame, res: int, radius: int
) -> DataFrame:
    """Bounded-radius horizon (maximum elevation angle) per pixel in the 8
    compass directions — the primitive under sky-view factor, topographic
    openness and cast-shadow products (SAGA SVF / gdaldem-adjacent family).
    For direction d, the horizon tangent is

        tan(h_d) = max over steps s = 1..radius of (z_s - z_c) / (s * len_d)

    over the PRESENT sample cells along the direction's lattice ray
    (absent cells are transparent, like viewshed; negative drops clamp to
    horizon 0 = flat sky). The max is kept EXACT as the winning sample's
    rational pair (h{i}_num = dz, h{i}_den = s) compared by
    cross-multiplication — no float enters the search; ties prefer the
    NEAREST sample (smallest s), and no-positive-drop pixels emit (0, 1).
    One radius-R halo pass, numpy shift-accumulate over 8 * R window
    slices. sky_view_factor composes the float layer.

    Reference provenance: the reference has no raster surface; this
    extends SURVEY.md's terrain family (the viewshed LOS discipline turned
    into a per-pixel all-directions product)."""
    from engine.focal import _halo_apply

    if not (1 <= radius < res):
        raise ValueError(f"radius must be in [1, res); got {radius}")
    r = radius

    def finish(halo: np.ndarray, mask: np.ndarray) -> dict:
        zc = halo[r : r + res, r : r + res]
        out = {}
        for i, (dx, dy) in enumerate(_HORIZON_DIRS):
            bn = np.zeros((res, res), dtype=np.int64)
            bd = np.ones((res, res), dtype=np.int64)
            for s in range(1, r + 1):
                ox, oy = s * dx, s * dy
                zn = halo[r + oy : r + oy + res, r + ox : r + ox + res]
                mn = mask[r + oy : r + oy + res, r + ox : r + ox + res] > 0
                dz = zn - zc
                better = mn & (dz * bd > bn * s)
                bn = np.where(better, dz, bn)
                bd = np.where(better, s, bd)
            out[f"h{i}_num"] = bn.reshape(-1).tolist()
            out[f"h{i}_den"] = bd.reshape(-1).tolist()
        return out

    fields = []
    for i in range(8):
        fields.append((f"h{i}_num", T.ArrayType(T.LongType())))
        fields.append((f"h{i}_den", T.ArrayType(T.LongType())))
    return _halo_apply(tiles, res, r, finish, fields=fields)


def sky_view_factor(
    horizons: DataFrame, cellsize: float = 1.0, z_factor: float = 1.0
) -> DataFrame:
    """Attach per-pixel double arrays (svf, mean_horizon_rad) to a
    horizon_angles frame — pure Column HOFs over the 16 exact rational
    arrays. The classic n-direction estimator (Zakšek et al. 2011
    convention):

        svf = 1 - (1/8) * sum over directions of sin(h_d)

    with tan(h_d) = z_factor * num / (den * len_d * cellsize), len_d = 1
    cardinal / sqrt(2) diagonal, and sin t = tan / sqrt(1 + tan^2). svf = 1
    on flat open terrain, -> 0 in a deep pit; mean_horizon_rad is the plain
    directional mean of h_d."""
    import math as _math

    pairs = F.arrays_zip(
        *[c for i in range(8) for c in (f"h{i}_num", f"h{i}_den")]
    )

    def per_pixel(out: str):
        def expr(s):
            sins = []
            hs = []
            for i in range(8):
                ln = _math.sqrt(2.0) if _HORIZON_DIRS[i][0] * _HORIZON_DIRS[i][1] != 0 else 1.0
                t = (
                    s[f"h{i}_num"].cast("double") * F.lit(float(z_factor))
                    / (
                        s[f"h{i}_den"].cast("double")
                        * F.lit(ln * float(cellsize))
                    )
                )
                sins.append(t / F.sqrt(F.lit(1.0) + t * t))
                hs.append(F.atan(t))
            if out == "svf":
                total = sins[0]
                for x in sins[1:]:
                    total = total + x
                return F.lit(1.0) - total / F.lit(8.0)
            total = hs[0]
            for x in hs[1:]:
                total = total + x
            return total / F.lit(8.0)

        return F.transform(pairs, expr)

    return horizons.select(
        "*",
        per_pixel("svf").alias("svf"),
        per_pixel("mean").alias("mean_horizon_rad"),
    )


def horizon_angles_sql(cells_sql: str, radius: int) -> str:
    """DuckDB twin of horizon_angles, exploded to one row per (pixel,
    direction): (gx, gy, dir, num, den) — an INDEPENDENT derivation: every
    (pixel, dir, step) sample row is generated by a lateral range join and
    the rational argmax is selected by a NOT EXISTS cross-multiplication
    (a strictly better or equally-good-but-nearer sample kills a
    candidate), not by any incremental fold."""
    dirs = ", ".join(
        f"({i}, {dx}, {dy})" for i, (dx, dy) in enumerate(_HORIZON_DIRS)
    )
    return f"""
        WITH hzcells AS MATERIALIZED ({cells_sql}),
        hzdirs(dir, dx, dy) AS (SELECT * FROM (VALUES {dirs})),
        hzsteps AS (SELECT CAST(s AS BIGINT) AS s
                    FROM range(1, {radius + 1}) r(s)),
        hzsamples AS (
          SELECT c.gx, c.gy, d.dir, st.s, t.z - c.z AS dz
          FROM hzcells c
          JOIN hzdirs d ON TRUE
          JOIN hzsteps st ON TRUE
          JOIN hzcells t
            ON t.gx = c.gx + d.dx * st.s AND t.gy = c.gy + d.dy * st.s
          WHERE t.z > c.z
        ),
        hzbest AS (
          SELECT a.gx, a.gy, a.dir, a.dz AS num, a.s AS den
          FROM hzsamples a
          WHERE NOT EXISTS (
            SELECT 1 FROM hzsamples b
            WHERE b.gx = a.gx AND b.gy = a.gy AND b.dir = a.dir
              AND (b.dz * a.s > a.dz * b.s
                   OR (b.dz * a.s = a.dz * b.s AND b.s < a.s))
          )
        )
        SELECT c.gx, c.gy, d.dir,
               COALESCE(h.num, 0)::BIGINT AS num,
               COALESCE(h.den, 1)::BIGINT AS den
        FROM hzcells c
        JOIN hzdirs d ON TRUE
        LEFT JOIN hzbest h
          ON h.gx = c.gx AND h.gy = c.gy AND h.dir = d.dir
    """


def intervisibility(
    tiles: DataFrame,
    res: int,
    points: DataFrame,
    max_range: int,
    height: int = 0,
    id_col: str = "pid",
) -> DataFrame:
    """Point-to-point line-of-sight JOIN over the terrain raster (the
    visibility-graph builder: comms planning, lookout networks): for every
    unordered pair of points within euclidean max_range cells, whether the
    straight sight line between their eyes clears the terrain. Pure Column
    algebra — blocked pair join + lattice-ray sample explode + ONE
    equi-join against the sparse cells + a per-pair aggregate; no UDF.

    Conventions are np_viewshed_counts' exactly: samples at
    k = 1..D-1 (D = chebyshev), position = A + round-half-away(k*delta/D)
    componentwise; a PRESENT sample blocks iff its elevation angle from
    the eye STRICTLY exceeds the target's (grazing lines stay visible),
    compared by sign analysis + cross-multiplied squares — no float.
    Absent cells are transparent. The ray is cast FROM the smaller pid
    (lattice rounding makes the two directions differ on half-sample
    edges; one documented deterministic direction, like the viewshed
    twin). Points must sit on present raster cells (off-raster points
    drop out of the join); both eyes are terrain + height. Returns
    (pid_a, pid_b, dist2, n_blockers, visible), pid_a < pid_b.

    Scale: the pair join is the lag_pairs grid blocking at cell =
    max_range; the sample explode fans each pair by <= max_range rows and
    equi-joins the sparse cell frame — O(pairs * range) slim rows, the
    colocation/variogram shuffle discipline. |z| + height < 2^18 and
    max_range <= 2^11 keep the squared products in int64 (the viewshed
    guard, enforced here via the same raise discipline)."""
    if not (1 <= int(max_range) <= (1 << 11)):
        raise ValueError(f"max_range must be in [1, 2048], got {max_range}")
    if not (0 <= int(height) < (1 << 17)):
        raise ValueError(f"height out of range: {height}")
    R = int(max_range)
    h = int(height)
    gx, gy = pixel_xy(res)
    cells = tiles.select(
        "tx", "ty", F.posexplode("counts").alias("pix", "z")
    ).select(
        gx.alias("gx"), gy.alias("gy"),
        F.when(
            F.abs(F.col("z")) < F.lit(1 << 18), F.col("z").cast("long")
        ).otherwise(
            F.raise_error(F.lit(
                "intervisibility: |elevation| must be < 2^18 for exact "
                "int64 angle comparisons"
            ))
        ).alias("z"),
    )
    pts = points.select(
        F.col(id_col).cast("long").alias("pid"),
        F.col("gx").cast("long").alias("gx"),
        F.col("gy").cast("long").alias("gy"),
    ).join(cells, ["gx", "gy"])  # off-raster points drop here
    # blocked pair join at cell size R (each unordered pair once)
    cx = F.floor(F.col("gx") / F.lit(R)).cast("long")
    cy = F.floor(F.col("gy") / F.lit(R)).cast("long")
    b_side = pts.select(
        F.col("pid").alias("pid_b"), F.col("gx").alias("bx"),
        F.col("gy").alias("by"), F.col("z").alias("bz"),
        cx.alias("_cx"), cy.alias("_cy"),
    )
    offs = F.explode(
        F.array(*[
            F.struct(F.lit(i).alias("dx"), F.lit(j).alias("dy"))
            for i in (-1, 0, 1) for j in (-1, 0, 1)
        ])
    )
    a_side = pts.select(
        F.col("pid").alias("pid_a"), F.col("gx").alias("ax"),
        F.col("gy").alias("ay"), F.col("z").alias("az"),
        cx.alias("_acx"), cy.alias("_acy"),
    ).select(
        "*", offs.alias("_o")
    ).select(
        "pid_a", "ax", "ay", "az",
        (F.col("_acx") + F.col("_o.dx")).alias("_cx"),
        (F.col("_acy") + F.col("_o.dy")).alias("_cy"),
    )
    ddx = F.col("bx") - F.col("ax")
    ddy = F.col("by") - F.col("ay")
    d2 = ddx * ddx + ddy * ddy
    pairs = (
        a_side.join(b_side, ["_cx", "_cy"])
        .filter((F.col("pid_a") < F.col("pid_b")) & (d2 <= F.lit(R * R)))
        .select(
            "pid_a", "pid_b", "ax", "ay", "az", "bx", "by", "bz",
            d2.alias("dist2"),
            F.greatest(F.abs(ddx), F.abs(ddy)).alias("D"),
        )
    )
    # lattice-ray samples k = 1..D-1 from the a side (pid_a < pid_b)
    vx = F.col("k") * (F.col("bx") - F.col("ax"))
    vy = F.col("k") * (F.col("by") - F.col("ay"))

    def rha(v):  # round half away from zero of v / D
        return F.signum(v).cast("long") * (
            (F.lit(2) * F.abs(v) + F.col("D"))
            / (F.lit(2) * F.col("D"))
        ).cast("long")

    samples = pairs.filter(F.col("D") >= 2).select(
        "pid_a", "pid_b", "ax", "ay", "az", "bx", "by", "bz", "dist2", "D",
        F.explode(F.sequence(F.lit(1), F.col("D") - 1)).alias("k"),
    ).select(
        "pid_a", "pid_b", "az", "bz", "dist2",
        rha(vx).alias("px"), rha(vy).alias("py"),
        (F.col("ax") + rha(vx)).alias("sgx"),
        (F.col("ay") + rha(vy)).alias("sgy"),
    )
    zo = F.col("az") + F.lit(h)
    a_ = F.col("z") - zo          # sample rise
    b_ = F.col("bz") + F.lit(h) - zo  # target-eye rise
    dp2 = F.col("px") * F.col("px") + F.col("py") * F.col("py")
    lhs = a_ * a_ * F.col("dist2")
    rhs = b_ * b_ * dp2
    blocks = (
        ((a_ >= 0) & (b_ < 0))
        | ((a_ >= 0) & (b_ >= 0) & (lhs > rhs))
        | ((a_ < 0) & (b_ < 0) & (lhs < rhs))
    )
    blocked = (
        samples.join(
            cells.select(
                F.col("gx").alias("sgx"), F.col("gy").alias("sgy"), "z"
            ),
            ["sgx", "sgy"],
        )  # absent samples are transparent: inner join drops them
        .filter(blocks)
        .groupBy("pid_a", "pid_b")
        .agg(F.count("*").alias("n_blockers"))
    )
    return (
        pairs.select("pid_a", "pid_b", "dist2")
        .join(blocked, ["pid_a", "pid_b"], "left")
        .select(
            "pid_a", "pid_b", "dist2",
            F.coalesce(F.col("n_blockers"), F.lit(0)).alias("n_blockers"),
            (F.coalesce(F.col("n_blockers"), F.lit(0)) == 0)
            .alias("visible"),
        )
    )


def openness(
    tiles: DataFrame,
    res: int,
    radius: int,
    cellsize: float = 1.0,
    z_factor: float = 1.0,
) -> DataFrame:
    """Topographic openness (Yokoyama et al. 2002): per pixel, positive
    openness = mean over the 8 azimuths of the zenith angle (pi/2 -
    horizon elevation angle) — large on exposed ridges/plains, small in
    pits; negative openness = the same on the INVERTED surface (how open
    the terrain is looking down) — large in valleys. Both from the exact
    horizon_angles machinery: one halo scan per sign (the inverted scan
    negates z, which the strip exchange carries as-is), the float layer a
    Column HOF over the 16 rational pairs. Returns (tx, ty, pos_open,
    neg_open) in radians, flat pixels = pi/2 exactly."""
    import math as _math

    pos = horizon_angles(tiles, res, radius)
    neg_in = tiles.select(
        "tx", "ty",
        F.transform("counts", lambda c: -c).alias("counts"),
    )
    neg = horizon_angles(neg_in, res, radius)

    def mean_zenith():
        pairs = F.arrays_zip(
            *[c for i in range(8) for c in (f"h{i}_num", f"h{i}_den")]
        )

        def expr(s):
            tot = None
            for i in range(8):
                ln = (
                    _math.sqrt(2.0)
                    if _HORIZON_DIRS[i][0] * _HORIZON_DIRS[i][1] != 0
                    else 1.0
                )
                t = (
                    s[f"h{i}_num"].cast("double") * F.lit(float(z_factor))
                    / (
                        s[f"h{i}_den"].cast("double")
                        * F.lit(ln * float(cellsize))
                    )
                )
                z = F.lit(_math.pi / 2.0) - F.atan(t)
                tot = z if tot is None else tot + z
            return tot / F.lit(8.0)

        return F.transform(pairs, expr)

    p = pos.select("tx", "ty", mean_zenith().alias("pos_open"))
    n = neg.select("tx", "ty", mean_zenith().alias("neg_open"))
    return p.join(n, ["tx", "ty"])


def multidirectional_hillshade(
    grads: DataFrame,
    cellsize: float = 1.0,
    z_factor: float = 1.0,
    altitude_deg: float = 45.0,
    azimuths_deg: tuple = (225.0, 270.0, 315.0, 360.0),
    weights: tuple = (1.0, 1.0, 1.0, 1.0),
) -> DataFrame:
    """USGS-style multidirectional hillshade: the weighted mean of
    single-azimuth Horn hillshades (default four suns W-through-N —
    softens the single-source convention's washed-out NW slopes) as one
    Column HOF over the exact gradient numerators; attach as `hillshade_md`
    to a terrain_gradients frame."""
    if len(azimuths_deg) != len(weights) or not azimuths_deg:
        raise ValueError("azimuths_deg and weights must match and be nonempty")
    wsum = float(sum(weights))

    def arr():
        def expr(s):
            tot = None
            for az, w in zip(azimuths_deg, weights):
                shade = _shade_exprs(
                    s["dzdx8"], s["dzdy8"], cellsize, z_factor,
                    az, altitude_deg,
                )[2]
                term = shade * F.lit(float(w) / wsum)
                tot = term if tot is None else tot + term
            return tot

        return F.transform(F.arrays_zip("dzdx8", "dzdy8"), expr)

    return grads.select("*", arr().alias("hillshade_md"))
