"""Spatial + temporal join operators.

- pip_join: point-in-polygon as cell-cover equi-join + vectorized ray-cast refine —
  the graft analog of the reference's parent-propagation equi-join
  (/root/reference/.../SparkJobs.scala:55-62, SURVEY.md §2.4 J1). The rewrite into
  (broadcastable equi-join + refine filter) happens at plan-construction time; no
  custom Catalyst rule needed (SURVEY.md §4).
- knn_join: exact k-nearest-neighbors via grid-cell disk expansion with a distance
  guarantee, brute-force fallback for stragglers (SURVEY.md §2.4 additions).
- asof_join: as-of/interval assignment via union + window (the reference's temporal
  assignment, ChangeUtils.scala:57-91 / SURVEY.md §2.4 J3), plus a range-join variant.
- tile_assign: raster-tile <-> vector-cell assignment via pure Column math.

Distances are planar in the integer anchor space (x: 32-bit lon fraction, y: 31-bit
lat fraction; see engine.cells) — exact, deterministic, and reproducible in ANSI SQL.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import cells
from .session import local_relation, local_table


# ---------------------------------------------------------------------------
# Exact point-in-polygon (vectorized even-odd ray cast) — numpy oracle + refine UDF
# ---------------------------------------------------------------------------
def np_point_in_polygon(
    px: np.ndarray, py: np.ndarray, xs: np.ndarray, ys: np.ndarray
) -> np.ndarray:
    """Even-odd ray cast: True where (px, py) is strictly inside / on-edge-ish of the
    polygon (xs, ys). Vectorized over points; loops over the <=12 edges."""
    inside = np.zeros(px.shape, dtype=bool)
    nv = len(xs)
    j = nv - 1
    for i in range(nv):
        xi, yi, xj, yj = xs[i], ys[i], xs[j], ys[j]
        crosses = (yi > py) != (yj > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            x_int = (xj - xi) * (py - yi) / (yj - yi) + xi
        inside ^= crosses & (px < x_int)
        j = i
    return inside


def np_point_in_multipolygon(
    px: np.ndarray, py: np.ndarray, rings: list[tuple[np.ndarray, np.ndarray]]
) -> np.ndarray:
    """Even-odd containment over multiple edge loops (outer ring + holes, the
    OSM multipolygon outer/inner-role semantics the reference's relations
    carry): XOR of per-ring parities == inside the outer minus the holes for
    nested disjoint holes, and the correct even-odd result in general."""
    inside = np.zeros(px.shape, dtype=bool)
    for xs, ys in rings:
        inside ^= np_point_in_polygon(px, py, xs, ys)
    return inside


def polygon_cover(
    polygons: DataFrame,
    res_min: int = 7,
    res_max: int = 11,
    max_cells: int = 1024,
    driver_side_limit: int = 5000,
    classify_interior: bool = True,
    attach_rings: bool = False,
    convex: bool = True,
) -> DataFrame:
    """(poly_id, res, cell) cover: for each polygon pick the finest res in
    [res_min, res_max] whose bbox cover stays under max_cells, then emit every grid
    cell overlapping the bbox. Analog of the reference's bbox-union discipline
    (Bbox.scala:5-8) used as a join-pruning cover.

    classify_interior feeds the ring to _cover_one, which always applies the
    (concave-safe, hull-based) SAT cull; the 4-corner full_inside
    classification additionally requires convex=True — for concave rings the
    cover keeps the cull but leaves full_inside False everywhere (every
    candidate goes through the exact refine).

    Polygon sets small enough to broadcast (the common case — they are the dim
    side) are covered driver-side in numpy and shipped as a local DataFrame: zero
    Python workers, zero serial Arrow startup cost in the hot path. Larger sets
    fall back to a distributed mapInPandas.

    Size probe = ONE limit(driver_side_limit+1).collect(), not count()-then-
    collect(): every Spark action costs ~0.5s of fixed scheduling latency on
    the bench host regardless of row count, and this path runs once per
    pip_join call — two actions here was the dominant cost of small-polygon
    joins."""
    try:
        rows = (
            polygons.select("poly_id", "bbox", "ring")
            .limit(driver_side_limit + 1)
            .collect()
        )
        n_polys = len(rows)
    except Exception:
        rows, n_polys = None, driver_side_limit + 1
    if n_polys <= driver_side_limit:
        parts, rings = [], ([] if attach_rings else None)
        for row in rows:
            b = row["bbox"]
            rx = np.array([v["lon"] for v in row["ring"]], dtype=np.float64)
            ry = np.array([v["lat"] for v in row["ring"]], dtype=np.float64)
            part = _cover_one(
                row["poly_id"],
                b["min"]["lon"], b["min"]["lat"], b["max"]["lon"], b["max"]["lat"],
                res_min, res_max, max_cells,
                ring_xs=rx if classify_interior else None,
                ring_ys=ry if classify_interior else None,
                convex=convex,
            )
            parts.append(part)
            if attach_rings:
                ring = [
                    {"lon": float(a), "lat": float(bb)} for a, bb in zip(rx, ry)
                ]
                # interior rows never evaluate the ray cast (short-circuit),
                # so skip their ring payload — shrinks the broadcast ~8x
                rings.extend(None if f else ring for f in part[3].tolist())
        return _cover_relation(polygons.sparkSession, parts, res_min, rings)

    def gen(batches):
        for pdf in batches:
            out_poly, out_res, out_cell, out_full = [], [], [], []
            for row in pdf.itertuples(index=False):
                b = row.bbox
                if classify_interior:
                    rx = np.array([v["lon"] for v in row.ring], dtype=np.float64)
                    ry = np.array([v["lat"] for v in row.ring], dtype=np.float64)
                else:
                    rx = ry = None
                pid, res, cc, full = _cover_one(
                    row.poly_id,
                    b["min"]["lon"], b["min"]["lat"], b["max"]["lon"], b["max"]["lat"],
                    res_min, res_max, max_cells, ring_xs=rx, ring_ys=ry,
                    convex=convex,
                )
                out_poly.extend([pid] * len(cc))
                out_res.extend([res] * len(cc))
                out_cell.extend(cc.tolist())
                out_full.extend(full.tolist())
            yield pd.DataFrame({"poly_id": out_poly, "res": out_res,
                                "cell": out_cell, "full_inside": out_full})

    return polygons.select("poly_id", "bbox", "ring").mapInPandas(
        gen, schema="poly_id long, res int, cell long, full_inside boolean"
    )


def _cover_relation(spark, parts, res_min: int, rings=None) -> DataFrame:
    """The driver-built cover as one local relation, assembled as columns
    from per-polygon (poly_id, res, cells, full_inside) parts; `rings`
    adds the per-row ring payload. The cover's resolution set is known
    right here and pinned on the frame, so pip_join never issues a per-call
    distinct().collect(); its size is the local table's row count, so
    _materialize_if_large never issues a count() action."""
    n = [len(p[2]) for p in parts]
    cols = {
        "poly_id": np.repeat(np.array([p[0] for p in parts], np.int64), n),
        "res": np.repeat(np.array([p[1] for p in parts], np.int32), n),
        "cell": np.concatenate(
            [np.zeros(0, np.int64)] + [np.asarray(p[2], np.int64) for p in parts]
        ),
        "full_inside": np.concatenate(
            [np.zeros(0, bool)] + [np.asarray(p[3], bool) for p in parts]
        ),
    }
    schema = "poly_id long, res int, cell long, full_inside boolean"
    if rings is not None:
        cols["ring"] = rings
        schema += ", ring array<struct<lon:double,lat:double>>"
    df = local_relation(spark, cols, schema)
    df._pip_used_res = sorted({int(p[1]) for p in parts if len(p[2])}) or [
        res_min
    ]
    return df


def _cover_one(poly_id, lon0, lat0, lon1, lat1, res_min, res_max, max_cells,
               ring_xs=None, ring_ys=None, convex=True):
    """Cover of one bbox: finest res whose cell count fits under max_cells.

    When the polygon ring is given AND convex=True, each cover cell is
    classified: full_inside = all 4 cell corners strictly inside -> the whole
    cell is inside (convexity), so points in it skip the ray-cast refine
    entirely. Boundary cells are the ~4/sqrt(max_cells) residue that still
    needs the exact test. For a CONCAVE ring the 4-corner test is unsound (all
    corners inside does not imply the cell is inside), so convex=False keeps
    full_inside all-False — every candidate goes through the exact refine. The
    SAT cull below remains valid for concave rings: separation from the
    vertex hull implies separation from the polygon (polygon ⊆ hull), so it
    only ever DROPS provably-disjoint cells.

    Domain: the grid covers lon [-180,180] x lat [-90,90]. A bbox CROSSING
    the edge is fine — the clamped cover equals the cover of bbox∩domain,
    which still contains every grid cell the polygon's in-domain region
    touches (and a ring crossing the edge still overlaps the edge cells, so
    the SAT cull keeps them). A bbox ENTIRELY outside the domain is not:
    clamping collapses it onto the edge row and the SAT cull then rightly
    drops those cells as hull-disjoint — a silent empty cover, i.e. missed
    join pairs (caught by the overlay bench's closed form as a 16x pair
    undercount). Raise loudly for that case instead."""
    if lon1 < -180.0 or lon0 > 180.0 or lat1 < -90.0 or lat0 > 90.0:
        raise ValueError(
            f"polygon {poly_id}: bbox ({lon0},{lat0})..({lon1},{lat1}) lies "
            "entirely outside the grid domain lon [-180,180] x lat [-90,90]; "
            "cell-cover blocking would silently produce an empty cover"
        )
    # r6: candidate levels are res_max, res_max-2, ... plus res_min (stride
    # 2 instead of every level). Every DISTINCT cover level multiplies the
    # big side's per-point probe rows in pip_join's explode — measured on
    # the 4M-point flagship, collapsing 5 levels to {11,9,7} cut the timed
    # join 2.98 -> 2.38 s with an identical result checksum, while a
    # quantized polygon still fits max_cells (a coarser fit is never
    # larger) and boundary-cell refine volume grows only for the polys
    # whose natural level was skipped. Result-identical by construction:
    # the cover stays a superset of the polygon's cells at SOME level and
    # the refine is exact.
    res = res_min
    for r in list(range(res_max, res_min, -2)) + [res_min]:
        n = 2**r
        nx = int((lon1 + 180) / 360 * n) - int((lon0 + 180) / 360 * n) + 1
        ny = int((lat1 + 90) / 180 * n) - int((lat0 + 90) / 180 * n) + 1
        if nx * ny <= max_cells:
            res = r
            break
    n = 2**res
    x0 = max(0, min(n - 1, int((lon0 + 180) / 360 * n)))
    x1 = max(0, min(n - 1, int((lon1 + 180) / 360 * n)))
    y0 = max(0, min(n - 1, int((lat0 + 90) / 180 * n)))
    y1 = max(0, min(n - 1, int((lat1 + 90) / 180 * n)))
    xs = np.arange(x0, x1 + 1, dtype=np.int64)
    ys = np.arange(y0, y1 + 1, dtype=np.int64)
    cc = res * cells._RES_SHIFT + (xs[:, None] * cells._IX_SHIFT + ys[None, :]).reshape(-1)
    if ring_xs is None:
        return poly_id, res, cc, np.zeros(cc.shape, dtype=bool)
    # corner coordinates in degrees, flattened to match cc's (xs-major) layout
    gx0 = np.repeat(xs / n * 360.0 - 180.0, len(ys))
    gx1 = np.repeat((xs + 1) / n * 360.0 - 180.0, len(ys))
    gy0 = np.tile(ys / n * 180.0 - 90.0, len(xs))
    gy1 = np.tile((ys + 1) / n * 180.0 - 90.0, len(xs))
    if convex:
        full = (
            np_point_in_polygon(gx0, gy0, ring_xs, ring_ys)
            & np_point_in_polygon(gx0, gy1, ring_xs, ring_ys)
            & np_point_in_polygon(gx1, gy0, ring_xs, ring_ys)
            & np_point_in_polygon(gx1, gy1, ring_xs, ring_ys)
        )
    else:
        full = np.zeros(cc.shape, dtype=bool)
    # SAT cull (convex polygon vs axis-aligned cell): a cell separated from the
    # polygon along any edge-normal axis cannot contain inside points -> drop it
    # from the cover entirely (bbox corners of an ellipse-ish polygon are ~20%
    # of the cover; dropping them cuts candidate volume before the join).
    keep = np.ones(cc.shape, dtype=bool)
    nv = len(ring_xs)
    for i in range(nv):
        j = (i + 1) % nv
        a = -(ring_ys[j] - ring_ys[i])
        b = ring_xs[j] - ring_xs[i]
        poly_proj = a * ring_xs + b * ring_ys
        pmin, pmax = poly_proj.min(), poly_proj.max()
        cell_min = np.minimum(a * gx0, a * gx1) + np.minimum(b * gy0, b * gy1)
        cell_max = np.maximum(a * gx0, a * gx1) + np.maximum(b * gy0, b * gy1)
        keep &= (cell_max >= pmin) & (cell_min <= pmax)
    return poly_id, res, cc[keep], full[keep]


_COVER_TMP_DIRS: list[str] = []
_COVER_ATEXIT_REGISTERED = False


def cleanup_cover_dirs() -> int:
    """Remove every temp directory created by _materialize_if_large in this
    process. Returns the number of directories removed. Also registered via
    atexit, so long-lived sessions (the driver harness, bench loops) don't
    accumulate one orphan dir per materialized cover.

    EXIT-SCOPE ONLY: a materialized cover dir backs the parquet scan inside
    every DataFrame a prior pip_join/multiring cover call returned — calling
    this while such a plan is still live turns its next action into a
    FileNotFoundException. Invoke it only after all pip results are consumed
    (end of a pipeline/test), or rely on the atexit hook."""
    import shutil

    n = 0
    while _COVER_TMP_DIRS:
        d = _COVER_TMP_DIRS.pop()
        shutil.rmtree(d, ignore_errors=True)
        n += 1
    return n


def _materialize_if_large(
    cover: DataFrame, threshold: int = 20000, force: bool = False,
) -> DataFrame:
    """A driver-built cover is a LocalRelation: it gets re-serialized by the
    single-threaded driver into every job that uses it (measured ~10s of serial
    time per run for a 200k-row cover with ring payloads — the dominant Amdahl
    term). Covers above `threshold` rows are written once per pip_join call to a
    temp parquet and read back, so every action on the returned plan references
    a (tiny, distributed, cacheable) scan instead of embedding the rows.

    force=True materializes regardless of plan shape — used for DISTRIBUTED
    (mapInPandas) covers that feed multiple consumers (used_res probe + the
    join itself), so the cover is computed once, not per consumer. Temp dirs
    are tracked and removed at process exit (cleanup_cover_dirs)."""
    import atexit
    import tempfile

    global _COVER_ATEXIT_REGISTERED

    used_res = getattr(cover, "_pip_used_res", None)
    table = local_table(cover)
    if not force:
        # a driver-built cover is a local relation whose table gives the
        # row count — the under-threshold decision then costs ZERO Spark
        # actions instead of a plan-toString + count per pip call (~0.5s of
        # serial driver latency per join on this host)
        if table is not None:
            if table.num_rows <= threshold:
                return cover
        else:
            plan = cover._jdf.queryExecution().logical().toString()
            if "LocalRelation" not in plan and "LogicalRDD" not in plan:
                return cover
            if cover.count() <= threshold:
                return cover
    d = tempfile.mkdtemp(prefix="pip_cover_")
    _COVER_TMP_DIRS.append(d)
    if not _COVER_ATEXIT_REGISTERED:
        atexit.register(cleanup_cover_dirs)
        _COVER_ATEXIT_REGISTERED = True
    path = d + "/cover.parquet"
    cover.write.mode("overwrite").parquet(path)
    out = cover.sparkSession.read.parquet(path)
    if used_res is not None:
        out._pip_used_res = used_res
    return out


def pip_refine_udf(poly_rings: dict[int, tuple[np.ndarray, np.ndarray]]):
    """pandas_udf (poly_id, lon, lat) -> bool exact inside-test. `poly_rings` is a
    driver-side dict broadcast into the closure (polygon side is a dim table)."""

    @F.pandas_udf(T.BooleanType())
    def _refine(poly_id: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
        out = np.zeros(len(poly_id), dtype=bool)
        pid = poly_id.to_numpy(np.int64)
        px = lon.to_numpy(np.float64)
        py = lat.to_numpy(np.float64)
        for p in np.unique(pid):
            ring = poly_rings.get(int(p))
            if ring is None:
                continue
            m = pid == p
            out[m] = np_point_in_polygon(px[m], py[m], ring[0], ring[1])
        return pd.Series(out)

    return _refine


def raycast_inside_expr(ring: Column, lon: Column, lat: Column) -> Column:
    """Even-odd ray cast as a Column aggregate over the ring's edges — JVM-side, no
    Python workers. (An unrolled CASE-per-edge variant was measured 4x SLOWER —
    the giant expression tree falls out of whole-stage codegen; the HOF form stays
    compact.) Semantically identical to np_point_in_polygon (same edge test, same
    division), so the two paths agree bit-for-bit on the same doubles."""
    n = F.size(ring)
    idx = F.sequence(F.lit(1), n)

    def edge_crossing(acc: Column, i: Column) -> Column:
        vi = F.element_at(ring, i)
        vj = F.element_at(ring, F.when(i == 1, n).otherwise(i - 1))
        xi, yi = vi.getField("lon"), vi.getField("lat")
        xj, yj = vj.getField("lon"), vj.getField("lat")
        crosses = (yi > lat) != (yj > lat)
        x_int = (xj - xi) * (lat - yi) / (yj - yi) + xi
        return F.when(crosses & (lon < x_int), ~acc).otherwise(acc)

    return F.aggregate(idx, F.lit(False), edge_crossing)


def raycast_inside_rings_expr(rings: Column, lon: Column, lat: Column) -> Column:
    """Even-odd containment over an array<array<struct<lon,lat>>> of edge loops
    (outer + holes): XOR-fold of the single-ring ray cast — JVM-side, same
    HOF discipline as raycast_inside_expr."""
    return F.aggregate(
        rings,
        F.lit(False),
        lambda acc, ring: acc != raycast_inside_expr(ring, lon, lat),  # boolean XOR
    )


def _multiring_cover_one(poly_id, b, rings, res_min, res_max, max_cells,
                         assume_convex):
    """Cover rows for ONE multipolygon: cover + full_inside against the OUTER
    ring (convexity-gated — see _cover_one), then full_inside revoked for any
    cover cell whose bbox intersects a hole's bbox (conservative: such cells
    fall back to the exact even-odd multi-ring ray cast)."""
    pid, res, cc, full = _cover_one(
        poly_id,
        b["min"]["lon"], b["min"]["lat"], b["max"]["lon"], b["max"]["lat"],
        res_min, res_max, max_cells,
        ring_xs=rings[0][0], ring_ys=rings[0][1], convex=assume_convex,
    )
    n = 2**res
    ix = (cc - res * cells._RES_SHIFT) // cells._IX_SHIFT
    iy = cc % cells._IX_SHIFT
    cx0, cx1 = ix / n * 360.0 - 180.0, (ix + 1) / n * 360.0 - 180.0
    cy0, cy1 = iy / n * 180.0 - 90.0, (iy + 1) / n * 180.0 - 90.0
    for hx, hy in rings[1:]:
        hx0, hx1, hy0, hy1 = hx.min(), hx.max(), hy.min(), hy.max()
        touches_hole = (cx1 >= hx0) & (cx0 <= hx1) & (cy1 >= hy0) & (cy0 <= hy1)
        full &= ~touches_hole
    return pid, res, cc, full


def _np_rings(raw) -> list[tuple[np.ndarray, np.ndarray]]:
    return [
        (
            np.array([v["lon"] for v in ring], dtype=np.float64),
            np.array([v["lat"] for v in ring], dtype=np.float64),
        )
        for ring in raw
    ]


def multiring_cover(
    polygons: DataFrame,
    rings_col: str = "rings",
    res_min: int = 7,
    res_max: int = 11,
    max_cells: int = 1024,
    driver_side_limit: int = 5000,
    assume_convex: bool = True,
    n_polys: int | None = None,
) -> DataFrame:
    """(poly_id, res, cell, full_inside) cover for multipolygons — the multiring
    twin of polygon_cover, with the same two physical strategies: sets small
    enough to broadcast are covered driver-side (zero Python workers in the hot
    path); larger sets run a distributed mapInPandas over the polygon rows and
    are materialized once to parquet (no driver collect at any size).

    n_polys: pass the polygon count if the caller already knows it — skips the
    size probe entirely. Otherwise ONE limit(driver_side_limit+1).collect()
    serves as both probe and driver-side fetch (see polygon_cover: each Spark
    action costs ~0.5s fixed latency on the bench host). The returned cover
    carries `_pip_n_polys` so pip_join_multiring never re-counts."""
    rows = None
    if n_polys is None:
        try:
            rows = (
                polygons.select("poly_id", "bbox", rings_col)
                .limit(driver_side_limit + 1)
                .collect()
            )
            n_polys = len(rows)
        except Exception:
            n_polys = driver_side_limit + 1
    if n_polys <= driver_side_limit:
        if rows is None:
            rows = polygons.select("poly_id", "bbox", rings_col).collect()
        parts = [
            _multiring_cover_one(
                row["poly_id"], row["bbox"], _np_rings(row[rings_col]),
                res_min, res_max, max_cells, assume_convex,
            )
            for row in rows
        ]
        df = _cover_relation(polygons.sparkSession, parts, res_min)
        out_df = _materialize_if_large(df)
        out_df._pip_n_polys = n_polys
        return out_df

    def gen(batches):
        import json

        for pdf in batches:
            out_poly, out_res, out_cell, out_full = [], [], [], []
            for row in pdf.itertuples(index=False):
                pid, res, cc, full = _multiring_cover_one(
                    row.poly_id, row.bbox, _np_rings(json.loads(row.rings_json)),
                    res_min, res_max, max_cells, assume_convex,
                )
                out_poly.extend([pid] * len(cc))
                out_res.extend([res] * len(cc))
                out_cell.extend(cc.tolist())
                out_full.extend(full.tolist())
            yield pd.DataFrame({"poly_id": out_poly, "res": out_res,
                                "cell": out_cell, "full_inside": out_full})

    # rings cross the Arrow boundary as JSON: pandas conversion of the ragged
    # array<array<struct>> column (outer ring + differently-sized holes) trips
    # numpy's inhomogeneous-shape check; a string column is shape-free
    dist = polygons.select(
        "poly_id", "bbox", F.to_json(F.col(rings_col)).alias("rings_json")
    ).mapInPandas(
        gen, schema="poly_id long, res int, cell long, full_inside boolean"
    )
    # materialize once: the cover feeds two consumers (used_res probe + join);
    # without this the mapInPandas cover would be recomputed per consumer
    return _materialize_if_large(dist, force=True)


def pip_join_multiring(
    points: DataFrame,
    polygons: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    res_min: int = 7,
    res_max: int = 11,
    max_cells: int = 1024,
    rings_col: str = "rings",
    assume_convex: bool = True,
    driver_side_limit: int = 5000,
    broadcast_cover: bool | None = None,
) -> DataFrame:
    """Point-in-MULTIPOLYGON join: polygons carry `rings_col` =
    array<array<struct<lon,lat>>> — rings[0] the outer ring, rings[1:] holes
    (OSM relation outer/inner member roles, ObjectVersion.scala relations).

    Same plan shape as pip_join: bbox cell-cover equi-join on (res, cell) +
    codegen'd even-odd refine over all rings, with the same two regimes:
    a broadcastable polygon set ships a driver-built cover + broadcast ring
    dim (no point-side shuffle); a larger set builds the cover DISTRIBUTED
    (multiring_cover's mapInPandas path — no .collect() anywhere) and degrades
    to shuffled equi-joins on (res, cell) and poly_id, which AQE handles.

    assume_convex gates the outer-ring full_inside classification exactly like
    pip_join: concave OUTER rings (the general OSM relation case) must pass
    False, leaving every candidate to the exact refine — all 4 corners of a
    cell being inside a concave ring does NOT imply the cell is inside."""
    cover = multiring_cover(
        polygons, rings_col, res_min, res_max, max_cells,
        driver_side_limit=driver_side_limit, assume_convex=assume_convex,
    )
    # the cover's size probe already determined which regime we're in — read
    # it back instead of paying a second count() action on the polygon side
    n_polys = getattr(cover, "_pip_n_polys", driver_side_limit + 1)
    if broadcast_cover is None:
        broadcast_cover = n_polys <= driver_side_limit
    used_res = getattr(cover, "_pip_used_res", None) or sorted(
        r["res"] for r in cover.select("res").distinct().collect()
    ) or [res_min]
    enc = F.array(
        *[
            F.struct(
                F.lit(r).alias("res"),
                cells.grid_encode_lonlat(F.col(lon_col), F.col(lat_col), r).alias("cell"),
            )
            for r in used_res
        ]
    )
    pts_exp = points.select("*", F.explode(enc).alias("_rc")).select(
        "*", F.col("_rc.res").alias("_pip_res"), F.col("_rc.cell").alias("_pip_cell")
    ).drop("_rc")
    cover = cover.withColumnRenamed("res", "_pip_res").withColumnRenamed(
        "cell", "_pip_cell"
    )
    rings_dim = polygons.select("poly_id", rings_col)
    if broadcast_cover:
        # a polygon set small enough to broadcast as a cover is small enough
        # to broadcast as a ring dim (rings are one row per polygon)
        cover = F.broadcast(cover)
        rings_dim = F.broadcast(rings_dim)
    cand = pts_exp.join(cover, ["_pip_res", "_pip_cell"], "inner").join(
        rings_dim, "poly_id"
    )
    keep = F.col("full_inside") | raycast_inside_rings_expr(
        F.col(rings_col), F.col(lon_col), F.col(lat_col)
    )
    return cand.filter(keep).drop("_pip_res", "_pip_cell", "full_inside", rings_col)


def collect_poly_rings(polygons: DataFrame) -> dict[int, tuple[np.ndarray, np.ndarray]]:
    rows = polygons.select("poly_id", "ring").collect()
    return {
        int(r["poly_id"]): (
            np.array([v["lon"] for v in r["ring"]], dtype=np.float64),
            np.array([v["lat"] for v in r["ring"]], dtype=np.float64),
        )
        for r in rows
    }


def build_pip_cover(
    polygons: DataFrame,
    res_min: int = 7,
    res_max: int = 11,
    max_cells: int = 1024,
    exact: bool = True,
    refine_impl: str = "native",
    assume_convex: bool = True,
) -> DataFrame:
    """Build (and materialize) the cover relation for pip_join once, so callers
    that join MANY point partitions against the SAME polygons (e.g. the
    checkpointed pipeline's per-unit loop, jobs/run_pipeline.py) pay the
    driver-side cover build a single time and every per-unit job broadcasts a
    cached parquet scan instead of re-deriving the cover.

    Rings do NOT ride in the cover (native refine joins them from a tiny
    poly_id-keyed broadcast dim instead): a per-boundary-cell ring copy
    multiplied the broadcast payload ~10x, and the broadcast build is driver-
    serial — the dominant Amdahl term of the N-vs-4N scaling gate."""
    cover = polygon_cover(
        polygons, res_min, res_max, max_cells=max_cells,
        classify_interior=exact,
        attach_rings=False,
        convex=assume_convex,
    )
    return _materialize_if_large(cover)


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    res_min: int = 7,
    res_max: int = 11,
    broadcast_cover: bool = True,
    exact: bool = True,
    refine_impl: str = "native",
    assume_convex: bool = True,
    max_cells: int = 1024,
    cover: DataFrame | None = None,
) -> DataFrame:
    """Point-in-polygon join: returns `points` columns + poly_id for every
    (point, polygon) containment pair.

    Plan shape (scale rationale): the huge point side is touched exactly once — a
    per-res cell encode (pure Column int math, codegen'd) + an equi-join against the
    broadcast cover. No point-side shuffle at all when the cover broadcasts; with
    broadcast_cover=False it degrades to a shuffled equi-join on `cell` (still an
    equi-join — AQE skew handling applies; pair with engine.skew salting for hot
    cells). The exact ray-cast refine runs on the (much smaller) candidate set only:

    - refine_impl="native" (default): ring attached via a second broadcast join and
      ray-cast evaluated as a Column aggregate over edges — stays inside
      whole-stage codegen, zero Python workers (measured ~5x better multi-core
      scaling than the UDF path, which oversubscribes CPUs with python workers);
    - refine_impl="pandas_udf": Arrow-batched numpy ray-cast (kept for parity and
      for polygon sets too large to carry rings through the join).
    """
    if cover is None:
        cover = build_pip_cover(
            polygons, res_min, res_max, max_cells=max_cells,
            exact=exact, refine_impl=refine_impl, assume_convex=assume_convex,
        )
    # Single scan of the point side: explode each point's (res, cell) only for the
    # resolutions the cover actually uses (usually 1-3 of the res_min..res_max
    # range), one equi-join on (res, cell). (A union of per-res joins would scan
    # the points once per level and multiply task count; exploding unused levels
    # multiplies candidate volume.) The res set is pinned on the cover frame by
    # polygon_cover/build_pip_cover; the distinct().collect() below only fires
    # for a caller-supplied cover that lacks it (one action per call was pure
    # serial driver cost in per-unit pipeline loops).
    used_res = getattr(cover, "_pip_used_res", None) or sorted(
        r["res"] for r in cover.select("res").distinct().collect()
    ) or [res_min]
    enc = F.array(
        *[
            F.struct(
                F.lit(r).alias("res"),
                cells.grid_encode_lonlat(F.col(lon_col), F.col(lat_col), r).alias(
                    "cell"
                ),
            )
            for r in used_res
        ]
    )
    # internal join keys use _pip_-prefixed names so caller columns (e.g. an
    # existing `cell`) are never clobbered or dropped
    pts_exp = points.select("*", F.explode(enc).alias("_rc")).select(
        "*", F.col("_rc.res").alias("_pip_res"), F.col("_rc.cell").alias("_pip_cell")
    ).drop("_rc")
    cover = cover.withColumnRenamed("res", "_pip_res").withColumnRenamed(
        "cell", "_pip_cell"
    )
    if broadcast_cover:
        cover = F.broadcast(cover)
    if not exact:
        return (
            pts_exp.join(cover, ["_pip_res", "_pip_cell"], "inner")
            .drop("_pip_res", "_pip_cell", "full_inside")
        )
    if refine_impl == "native":
        # Two broadcast hash joins over a single point-side scan: the scalar
        # cover on (res, cell), then the ring dim on poly_id. Keeping rings OUT
        # of the per-cell cover (one ring per polygon, not one per boundary
        # cell) cuts the driver-serial broadcast build ~10x — the Amdahl term
        # the N-vs-4N scaling gate divides by.
        # `full_inside OR raycast` short-circuits in codegen: points in proven
        # interior cells (the vast majority at max_cells=1024) never run the ray
        # cast; only the ~4/sqrt(max_cells) boundary-cell residue pays it.
        cand = pts_exp.join(cover, ["_pip_res", "_pip_cell"], "inner")
        if "ring" not in cand.columns:
            rings_dim = polygons.select("poly_id", "ring")
            # a polygon set too large to broadcast as a cover is too large to
            # broadcast as a ring dim: degrade to the shuffled equi-join on
            # poly_id together with the cover (AQE handles both)
            if broadcast_cover:
                rings_dim = F.broadcast(rings_dim)
            cand = cand.join(rings_dim, "poly_id")
        keep = F.col("full_inside") | raycast_inside_expr(
            F.col("ring"), F.col(lon_col), F.col(lat_col)
        )
        return cand.filter(keep).drop("_pip_res", "_pip_cell", "full_inside", "ring")
    cand = pts_exp.join(cover, ["_pip_res", "_pip_cell"], "inner").drop(
        "_pip_res", "_pip_cell"
    )
    rings = collect_poly_rings(polygons)
    refine = pip_refine_udf(rings)
    keep = F.col("full_inside") | refine(
        F.col("poly_id"), F.col(lon_col), F.col(lat_col)
    )
    return cand.filter(keep).drop("full_inside")


# ---------------------------------------------------------------------------
# kNN join — disk expansion with exact guarantee + brute-force fallback
# ---------------------------------------------------------------------------
def _sq_dist(ax: Column, ay: Column, bx: Column, by: Column) -> Column:
    dx = (ax - bx).cast("double")
    dy = (ay - by).cast("double")
    return dx * dx + dy * dy


def knn_join(
    queries: DataFrame,
    points: DataFrame,
    k: int = 3,
    res: int | None = None,
    query_id: str = "query_id",
    point_id: str = "point_id",
    max_radius: int = 8,
) -> DataFrame:
    """Exact kNN: for each query row, the k nearest point rows by planar squared
    distance in the integer anchor space, rank ties broken by point id.

    Both inputs need integer coords (x, y) (engine.cells.phash_x/phash_y of a phash,
    or any integer planar coords). Expansion: join queries x points on grid-cell
    membership of growing Chebyshev disks (r = 0, 1, 2, 4, ... max_radius cells at
    `res`); a query settles once its k-th candidate distance is <= the guaranteed
    uncovered distance of the current disk. Unsettled stragglers (sparse regions)
    fall back to a brute-force cross join — bounded, because they are the residue.

    Returns (query_id, point_id, rank, sq_dist).

    res=None auto-sizes the grid to the point density: ~4k expected points per
    disk(1), so dense data settles in one or two rounds and sparse data falls
    through to brute force quickly instead of crawling an over-fine lattice.
    When |queries| x |points| is small enough that a broadcast cross join is
    cheaper than the iterative expansion (< ~5e7 pairs), the planner picks the
    brute-force physical strategy outright — same exact semantics.
    """
    if res is None:
        import math

        n_points = points.count()
        n_queries = queries.count()
        if n_queries * n_points <= 5e7:
            return knn_brute_force(queries, points, k, query_id, point_id)
        # 2^(2*res) cells; want n_points / 4^res * 9 ≈ 4k  =>  res ≈ log4(9n/4k)
        res = max(0, min(12, int(math.log2(max(2.0, 9.0 * n_points / (4.0 * k))) / 2)))
    n = 2**res
    cellw_x = float(2**32) / n  # anchor x-units per cell
    cellw_y = float(2**31) / n
    q = queries.select(
        query_id, F.col("x").alias("qx"), F.col("y").alias("qy")
    ).withColumn("qcell", cells.grid_pack(res, (F.col("qx") / F.lit(2**32 // n)).cast("long"),
                                          (F.col("qy") / F.lit(2**31 // n)).cast("long")))
    p = points.select(
        point_id, F.col("x").alias("px"), F.col("y").alias("py")
    ).withColumn("pcell", cells.grid_pack(res, (F.col("px") / F.lit(2**32 // n)).cast("long"),
                                          (F.col("py") / F.lit(2**31 // n)).cast("long")))
    p = p.persist()
    _persisted = [p]
    results = None
    remaining = q
    # r6: the ring schedule is FIXED (0, 1, 2, ... doubling to max_radius,
    # then the brute-force residue), so the whole expansion builds lazily —
    # per-round lazy persists keep each window computed once, and the single
    # final localCheckpoint materializes everything in ONE job. The old
    # per-round isEmpty early-exit probes cost one driver action per round;
    # without them a post-settle round is an empty cached frame flowing
    # through short-circuit joins — no measurable work at any scale.
    radii = [0]
    while radii[-1] < max_radius:
        radii.append(1 if radii[-1] == 0 else radii[-1] * 2)
    for radius in radii:
        # candidate cells: non-wrapping Chebyshev disk of `radius` around qcell
        qix, qiy = cells.grid_ix(F.col("qcell")), cells.grid_iy(F.col("qcell"))
        span = F.sequence(F.lit(-radius), F.lit(radius))
        disk = F.array_distinct(
            F.filter(
                F.flatten(
                    F.transform(
                        span,
                        lambda dx: F.transform(
                            span,
                            lambda dy: F.when(
                                ((qix + dx) >= 0)
                                & ((qix + dx) < n)
                                & ((qiy + dy) >= 0)
                                & ((qiy + dy) < n),
                                F.lit(res * cells._RES_SHIFT)
                                + (qix + dx) * F.lit(cells._IX_SHIFT)
                                + (qiy + dy),
                            ),
                        ),
                    )
                ),
                lambda c: c.isNotNull(),
            )
        )
        cand_cells = remaining.withColumn("ccell", F.explode(disk))
        cand = cand_cells.join(p, cand_cells.ccell == p.pcell, "inner")
        scored = cand.withColumn(
            "sq_dist", _sq_dist(F.col("qx"), F.col("qy"), F.col("px"), F.col("py"))
        )
        w = Window.partitionBy(query_id).orderBy("sq_dist", point_id)
        topk = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, point_id, "rank", "sq_dist", "qx", "qy", "qcell")
        )
        # guarantee: distance from query point to the uncovered region boundary
        qix_l = cells.grid_ix(F.col("qcell"))
        qiy_l = cells.grid_iy(F.col("qcell"))
        dist_bound = F.least(
            F.col("qx") - (qix_l - radius) * F.lit(cellw_x),
            (qix_l + radius + 1) * F.lit(cellw_x) - F.col("qx"),
            F.col("qy") - (qiy_l - radius) * F.lit(cellw_y),
            (qiy_l + radius + 1) * F.lit(cellw_y) - F.col("qy"),
        ).cast("double")
        settled_q = (
            topk.groupBy(query_id, "qcell", "qx", "qy")
            .agg(F.count("*").alias("cnt"), F.max("sq_dist").alias("kth"))
            .filter(
                (F.col("cnt") >= k) & (F.sqrt(F.col("kth")) <= dist_bound)
            )
            .select(query_id)
        )
        # persist the per-round top-k: the settle probe below and the final
        # results materialization both read it — without the cache the
        # candidate window (the round's dominant compute) ran twice (r6)
        topk = topk.persist()
        settled_rows = topk.join(settled_q, query_id, "left_semi").select(
            query_id, point_id, "rank", "sq_dist"
        )
        results = settled_rows if results is None else results.unionByName(settled_rows)
        remaining = remaining.join(settled_q, query_id, "left_anti")
        results = results.persist()
        remaining = remaining.persist()
        _persisted += [topk, results, remaining]
    # brute force the stragglers (exact; bounded residue — empty when every
    # query settled inside the rings, in which case the cross join is a
    # no-op over an empty cached frame)
    bf = remaining.crossJoin(p).withColumn(
        "sq_dist", _sq_dist(F.col("qx"), F.col("qy"), F.col("px"), F.col("py"))
    )
    w = Window.partitionBy(query_id).orderBy("sq_dist", point_id)
    bf_topk = (
        bf.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, point_id, "rank", "sq_dist")
    )
    results = results.unionByName(bf_topk)
    # materialize + truncate lineage, then release every intermediate cache
    out = results.localCheckpoint(eager=True)
    for f in _persisted:
        f.unpersist()
    return out


def knn_brute_force(
    queries: DataFrame,
    points: DataFrame,
    k: int = 3,
    query_id: str = "query_id",
    point_id: str = "point_id",
) -> DataFrame:
    """Reference implementation (and the right plan when queries is tiny: broadcast
    cross join + per-query top-k window)."""
    q = queries.select(query_id, F.col("x").alias("qx"), F.col("y").alias("qy"))
    p = points.select(point_id, F.col("x").alias("px"), F.col("y").alias("py"))
    scored = F.broadcast(q).crossJoin(p).withColumn(
        "sq_dist", _sq_dist(F.col("qx"), F.col("qy"), F.col("px"), F.col("py"))
    )
    w = Window.partitionBy(query_id).orderBy("sq_dist", point_id)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, point_id, "rank", "sq_dist")
    )


# ---------------------------------------------------------------------------
# Geodesic distance (haversine) — Column math, SQL-twin-able
# ---------------------------------------------------------------------------
_DEG2RAD_F = float(np.pi / 180.0)
EARTH_RADIUS_M = 6371008.8  # IUGG mean


def haversine_m(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle distance in meters (haversine, double Column math — libm
    trig, identical expression order to haversine_m_sql)."""
    dphi = (lat2 - lat1) * _DEG2RAD_F
    dlam = (lon2 - lon1) * _DEG2RAD_F
    a = (
        F.sin(dphi / 2.0) * F.sin(dphi / 2.0)
        + F.cos(lat1 * _DEG2RAD_F)
        * F.cos(lat2 * _DEG2RAD_F)
        * F.sin(dlam / 2.0)
        * F.sin(dlam / 2.0)
    )
    return 2.0 * EARTH_RADIUS_M * F.asin(F.sqrt(a))


def haversine_m_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    """DuckDB twin of haversine_m (same constants, same op order)."""
    c = repr(_DEG2RAD_F)
    dphi = f"(({lat2}) - ({lat1})) * {c}"
    dlam = f"(({lon2}) - ({lon1})) * {c}"
    a = (
        f"(sin(({dphi}) / 2.0) * sin(({dphi}) / 2.0)"
        f" + cos(({lat1}) * {c}) * cos(({lat2}) * {c})"
        f" * sin(({dlam}) / 2.0) * sin(({dlam}) / 2.0))"
    )
    return f"(2.0 * {EARTH_RADIUS_M!r} * asin(sqrt({a})))"


def knn_geo_brute_force(
    queries: DataFrame,
    points: DataFrame,
    k: int = 3,
    query_id: str = "query_id",
    point_id: str = "point_id",
) -> DataFrame:
    """Geodesic kNN (haversine) for a broadcastable query set: broadcast cross
    join + per-query top-k window — the exact/oracle plan. knn_geo_join is the
    scale path (ring expansion with a haversine distance guarantee). Inputs
    need (id, lon, lat). Returns (query_id, point_id, rank, dist_m)."""
    q = queries.select(query_id, F.col("lon").alias("_qlon"), F.col("lat").alias("_qlat"))
    p = points.select(point_id, F.col("lon").alias("_plon"), F.col("lat").alias("_plat"))
    scored = F.broadcast(q).crossJoin(p).withColumn(
        "dist_m",
        haversine_m(F.col("_qlon"), F.col("_qlat"), F.col("_plon"), F.col("_plat")),
    )
    w = Window.partitionBy(query_id).orderBy("dist_m", point_id)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, point_id, "rank", "dist_m")
    )


_GEO_FAR = 2.1e7  # > half Earth circumference: "this direction is fully covered"


def geo_settle_bound(
    qlon: Column, qlat: Column, qix: Column, qiy: Column, radius: int, res: int
) -> Column:
    """Sound lower bound (meters) on the haversine distance from a query at
    (qlon, qlat) in grid cell (qix, qiy) to ANY point whose cell lies outside
    the covered rect [qix-radius, qix+radius] x [qiy-radius, qiy+radius] on
    the 2^res x 2^res lon/lat grid. Soundness is fuzz-tested against exact
    haversine over random configurations incl. poles and the antimeridian
    (tests/test_knn.py::test_geo_settle_bound_sound); construction is in the
    knn_geo_join docstring. Clamped edges mean the region beyond is empty
    (lat) or wraps into the opposite lon term, hence _GEO_FAR."""
    n = 2**res
    cellw_lon = 360.0 / n
    cellw_lat = 180.0 / n
    lon_w = (qix - radius) * F.lit(cellw_lon) - 180.0
    lon_e = (qix + radius + 1) * F.lit(cellw_lon) - 180.0
    lat_s = F.greatest(F.lit(-90.0), (qiy - radius) * F.lit(cellw_lat) - 90.0)
    lat_n = F.least(F.lit(90.0), (qiy + radius + 1) * F.lit(cellw_lat) - 90.0)
    d_north = F.when(
        (qiy + radius + 1) >= n, F.lit(_GEO_FAR)
    ).otherwise((lat_n - qlat) * F.lit(EARTH_RADIUS_M * _DEG2RAD_F))
    d_south = F.when(
        (qiy - radius) <= 0, F.lit(_GEO_FAR)
    ).otherwise((qlat - lat_s) * F.lit(EARTH_RADIUS_M * _DEG2RAD_F))
    cos_floor = F.least(
        F.cos(lat_s * F.lit(_DEG2RAD_F)), F.cos(lat_n * F.lit(_DEG2RAD_F))
    )
    cos_q = F.cos(qlat * F.lit(_DEG2RAD_F))

    def lon_bound(dlon_deg: Column, covered: Column) -> Column:
        ang = dlon_deg * F.lit(_DEG2RAD_F)
        return F.when(covered, F.lit(_GEO_FAR)).otherwise(
            2.0
            * EARTH_RADIUS_M
            * F.asin(F.sqrt(F.greatest(F.lit(0.0), cos_q * cos_floor)) * F.sin(ang / 2.0))
        )

    # wrap-aware lon separations: direct arc to the near edge vs the
    # around-the-antimeridian arc to the region's far end (the far end of
    # the east region [lon_e, 180] is 180 === -180, reached westward in
    # qlon + 180 degrees; symmetrically for the west region). A clamped
    # edge means that lon region is EMPTY (the other region's wrap term
    # still accounts for dateline-crossing neighbors), hence FAR.
    dlon_e = F.least(lon_e - qlon, F.lit(180.0) + qlon)
    dlon_w = F.least(qlon - lon_w, F.lit(180.0) - qlon)
    d_east = lon_bound(dlon_e, (qix + radius + 1) >= n)
    d_west = lon_bound(dlon_w, (qix - radius) <= 0)
    return F.least(d_north, d_south, d_east, d_west)


def knn_geo_join(
    queries: DataFrame,
    points: DataFrame,
    k: int = 3,
    res: int | None = None,
    query_id: str = "query_id",
    point_id: str = "point_id",
    max_radius: int = 8,
) -> DataFrame:
    """Exact geodesic kNN at scale (VERDICT r3 item 4): ring expansion on a
    lon/lat grid with the distance guarantee AND the final rank computed in
    haversine meters — the geodesic twin of knn_join. Inputs need (id, lon,
    lat) in degrees; returns (query_id, point_id, rank, dist_m), rank ties
    broken by point id. Result-identical to knn_geo_brute_force (parity test
    in tests/test_knn.py) because dist_m is the same haversine_m expression
    and the settle guarantee is a sound lower bound on the distance to any
    point outside the covered cell rectangle.

    Guarantee construction (the cos(lat) floor VERDICT asked for): the
    uncovered region beyond the covered rect [lon_w, lon_e] x [lat_s, lat_n]
    decomposes into (a) beyond a lat edge — central angle >= |dlat|, so
    d >= R * rad(lat_n - qlat) (meridian arc, exact spherical bound) — and
    (b) beyond a lon edge within the lat band — from the haversine identity
    sin^2(t/2) >= cos(qlat) * cos_floor * sin^2(dlon/2), with cos_floor =
    min(cos(lat_s), cos(lat_n)) (cos is unimodal, so the band minimum is at
    an endpoint; it degrades to 0 near the poles, where the lat bounds take
    over). Longitude separations are wrap-aware (min of the direct and
    around-the-antimeridian arc), so queries near the dateline settle
    correctly instead of unsoundly.

    Scale shape is knn_join's: per round one equi-join of exploded disk cells
    against the bucketed point table, per-query top-k window, settled queries
    retire; stragglers (sparse regions) brute-force as a bounded residue.
    res=None auto-sizes like knn_join, and small |Q| x |P| short-circuits to
    the broadcast brute force."""
    if res is None:
        import math

        n_points = points.count()
        n_queries = queries.count()
        if n_queries * n_points <= 5e7:
            return knn_geo_brute_force(queries, points, k, query_id, point_id)
        res = max(0, min(12, int(math.log2(max(2.0, 9.0 * n_points / (4.0 * k))) / 2)))
    n = 2**res
    cellw_lon = 360.0 / n
    cellw_lat = 180.0 / n

    def cell_ix(lon: Column) -> Column:
        return F.least(
            F.lit(n - 1),
            F.greatest(F.lit(0), F.floor((lon + 180.0) / cellw_lon)),
        ).cast("long")

    def cell_iy(lat: Column) -> Column:
        return F.least(
            F.lit(n - 1),
            F.greatest(F.lit(0), F.floor((lat + 90.0) / cellw_lat)),
        ).cast("long")

    q = queries.select(
        query_id, F.col("lon").alias("qlon"), F.col("lat").alias("qlat")
    ).withColumn("qcell", cells.grid_pack(res, cell_ix(F.col("qlon")), cell_iy(F.col("qlat"))))
    p = points.select(
        point_id, F.col("lon").alias("plon"), F.col("lat").alias("plat")
    ).withColumn("pcell", cells.grid_pack(res, cell_ix(F.col("plon")), cell_iy(F.col("plat"))))
    p = p.persist()
    _persisted = [p]
    results = None
    remaining = q
    # r6: fixed lazy ring schedule + single materialization (see knn_join)
    radii = [0]
    while radii[-1] < max_radius:
        radii.append(1 if radii[-1] == 0 else radii[-1] * 2)
    for radius in radii:
        qix, qiy = cells.grid_ix(F.col("qcell")), cells.grid_iy(F.col("qcell"))
        span = F.sequence(F.lit(-radius), F.lit(radius))
        disk = F.array_distinct(
            F.filter(
                F.flatten(
                    F.transform(
                        span,
                        lambda dx: F.transform(
                            span,
                            lambda dy: F.when(
                                ((qix + dx) >= 0)
                                & ((qix + dx) < n)
                                & ((qiy + dy) >= 0)
                                & ((qiy + dy) < n),
                                F.lit(res * cells._RES_SHIFT)
                                + (qix + dx) * F.lit(cells._IX_SHIFT)
                                + (qiy + dy),
                            ),
                        ),
                    )
                ),
                lambda c: c.isNotNull(),
            )
        )
        cand_cells = remaining.withColumn("ccell", F.explode(disk))
        cand = cand_cells.join(p, cand_cells.ccell == p.pcell, "inner")
        scored = cand.withColumn(
            "dist_m",
            haversine_m(F.col("qlon"), F.col("qlat"), F.col("plon"), F.col("plat")),
        )
        w = Window.partitionBy(query_id).orderBy("dist_m", point_id)
        topk = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(query_id, point_id, "rank", "dist_m", "qlon", "qlat", "qcell")
        )
        dist_bound = geo_settle_bound(
            F.col("qlon"), F.col("qlat"),
            cells.grid_ix(F.col("qcell")), cells.grid_iy(F.col("qcell")),
            radius, res,
        )
        settled_q = (
            topk.groupBy(query_id, "qcell", "qlon", "qlat")
            .agg(F.count("*").alias("cnt"), F.max("dist_m").alias("kth"))
            .filter((F.col("cnt") >= k) & (F.col("kth") <= dist_bound))
            .select(query_id)
        )
        # persist the per-round top-k (same rationale as knn_join — the
        # settle probe and the final materialization share the window)
        topk = topk.persist()
        settled_rows = topk.join(settled_q, query_id, "left_semi").select(
            query_id, point_id, "rank", "dist_m"
        )
        results = settled_rows if results is None else results.unionByName(settled_rows)
        remaining = remaining.join(settled_q, query_id, "left_anti")
        results = results.persist()
        remaining = remaining.persist()
        _persisted += [topk, results, remaining]
    # brute-force residue (empty when every query settled inside the rings)
    bf = remaining.crossJoin(p).withColumn(
        "dist_m",
        haversine_m(
            F.col("qlon"), F.col("qlat"), F.col("plon"), F.col("plat")
        ),
    )
    w = Window.partitionBy(query_id).orderBy("dist_m", point_id)
    bf_topk = (
        bf.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, point_id, "rank", "dist_m")
    )
    results = results.unionByName(bf_topk)
    out = results.localCheckpoint(eager=True)
    for f in _persisted:
        f.unpersist()
    return out


# ---------------------------------------------------------------------------
# As-of join (temporal assignment) — union + window, the J3 rebuild
# ---------------------------------------------------------------------------
def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_payload: list[str] | None = None,
    right_tiebreak: str | None = None,
) -> DataFrame:
    """For each left row, attach the payload of the latest right row with
    right_ts <= left_ts for the same key (backward as-of; ties include the
    boundary — the *intended* semantics of the reference's version assignment,
    SURVEY.md §2.9 Q1).

    Implemented as union-of-streams + `last(..., ignorenulls=True)` running window —
    one shuffle on (key), no theta join. This is the scalable form of
    ChangeUtils.generateSecondOrderChanges's takeWhile walk (ChangeUtils.scala:57-91).
    """
    right_payload = right_payload or [c for c in right.columns if c not in (on, right_ts)]
    payload_struct = F.struct(*[F.col(c) for c in right_payload])
    # deterministic ordering among same-timestamp right rows: the row with the
    # largest tiebreak value wins (defaults to the first payload column)
    tb_col = right_tiebreak or right_payload[0]
    # each side carries the OTHER side's columns as a single null struct, not
    # per-column nulls: right-stream rows used to shuffle left-width null
    # columns (pure shuffle-byte waste at wide left schemas)
    left_struct_t = T.StructType(
        [T.StructField(c, left.schema[c].dataType) for c in left.columns]
    )
    r = right.select(
        F.col(on).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.col(tb_col).cast("long").alias("_tb"),
        payload_struct.alias("_payload"),
        F.lit(None).cast(left_struct_t).alias("_lp"),
    )
    l = left.select(
        F.col(on).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(0).cast("long").alias("_tb"),
        F.lit(None).cast(r.schema["_payload"].dataType).alias("_payload"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lp"),
    )
    u = r.unionByName(l)
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_side", "_tb")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = u.withColumn("_m", F.last("_payload", ignorenulls=True).over(w)).filter(
        F.col("_side") == 1
    )
    out_cols = [F.col("_lp").getField(c).alias(c) for c in left.columns]
    out_cols += [F.col("_m").getField(c).alias(c) for c in right_payload]
    return filled.select(*out_cols)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_from: str,
    right_to: str,
) -> DataFrame:
    """Range/interval join: left rows matched to right rows whose
    [right_from, right_to) contains left_ts, same key. Broadcast the right side when
    it is a dim; otherwise rely on the equi-key shuffle + AQE."""
    cond = (
        (left[on] == right[on])
        & (left[left_ts] >= right[right_from])
        & (left[left_ts] < right[right_to])
    )
    return left.join(right, cond, "inner").drop(right[on])


# ---------------------------------------------------------------------------
# Raster tile assignment — pure Column math
# ---------------------------------------------------------------------------
def tile_assign(points: DataFrame, z: int, lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """Assign each point to its (z, x, y) equirect tile; tile_id = z*2^50 + x*2^25 + y.
    Same lattice as grid res z, so vector cells map onto raster tiles by parent
    arithmetic alone (no join needed for cell->tile: it is grid_parent + repack)."""
    n = 2**z
    x = F.least(
        F.lit(n - 1), F.greatest(F.lit(0), F.floor((F.col(lon_col) + 180.0) / 360.0 * n))
    ).cast("long")
    y = F.least(
        F.lit(n - 1), F.greatest(F.lit(0), F.floor((F.col(lat_col) + 90.0) / 180.0 * n))
    ).cast("long")
    return points.withColumn("z", F.lit(z)).withColumn(
        "tile_id", F.lit(z * 2**50) + x * F.lit(2**25) + y
    )


def cell_to_tile(cell: Column, cell_res: int, z: int) -> Column:
    """Map a grid cell to the containing tile at zoom z (z <= cell_res): pure
    integer arithmetic, no join."""
    if z > cell_res:
        raise ValueError("tile zoom must be <= cell res")
    d = 2 ** (cell_res - z)
    tx = (cells.grid_ix(cell) / F.lit(d)).cast("long")
    ty = (cells.grid_iy(cell) / F.lit(d)).cast("long")
    return F.lit(z * 2**50) + tx * F.lit(2**25) + ty
