"""Raster warp / resample over the tile grid — the gdalwarp analog for the
image x geo axis, exact-integer end to end.

The transform is given in the standard INVERSE form (target pixel -> source
coordinate) as a RATIONAL affine: integer coefficients (a, b, c, d, e, f)
over one positive integer denominator `den`:

    sx = (a*X + b*Y + c) / den        sy = (d*X + e*Y + f) / den

for target GLOBAL pixel (X, Y). Rational coefficients cover every practical
warp — integer shifts, p/q zooms, 90-degree rotations, shears, half-pixel
grid registration — and make the kernel EXACT: with fx = sx_num mod den in
[0, den), the bilinear weights

    w00 = (den-fx)(den-fy)   w10 = fx(den-fy)
    w01 = (den-fx)fy         w11 = fx*fy

are integers summing to den^2, so the resampled value is emitted as the
int64 numerator `val_num` = sum(w_i * z_i) of the exact rational
val_num / den^2 — no float crosses the operator, and the DuckDB twin
(warp_sql) hash-matches bit for bit. method='nearest' rounds half-up
exactly (floor((2*sx_num + den) / (2*den))) and emits the source value
verbatim (scale 1).

Absent source cells read as 0 — the same zero padding as the whole focal/
raster family. Output is dense per target tile (val_num[res*res], row-major
like `counts`), one row per tile of `out_tiles` (default: the source tile
keys, the common same-grid case).

Plan shape at scale: target pixels are generated (no scan), the ONE wide op
is the (gx, gy) equi-join of <= 4 target-pixel probes per output pixel
against the sparse nonzero source cells, then one map-side-combined hash
agg and the bounded res^2 dense assembly (the heatmap_tiles pattern). Zero
UDFs; everything is whole-stage-codegen Column math. Probes with weight 0
(fx or fy = 0 — on-lattice hits) are filtered before the join, so an
integer shift costs exactly one probe per pixel.

Reference provenance: the reference has no raster surface; this extends the
raster family (SURVEY.md section 2 additions) with the resampling step every
multi-source tile pipeline needs (sensor grid -> map grid registration,
pyramid alignment, datum shifts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .raster import floor_div, pixel_xy


def _sparse_cells(tiles: DataFrame, res: int) -> DataFrame:
    gx, gy = pixel_xy(res)
    return (
        tiles.select("tx", "ty", F.posexplode("counts").alias("pix", "z"))
        .filter(F.col("z") != 0)
        .select(
            gx.alias("sgx"), gy.alias("sgy"), F.col("z").cast("long").alias("z")
        )
    )


def affine_resample(
    tiles: DataFrame,
    res: int,
    coeffs: tuple[int, int, int, int, int, int],
    den: int = 1,
    out_tiles: DataFrame | None = None,
    method: str = "bilinear",
) -> DataFrame:
    """Warp the tile raster through the inverse rational affine — returns
    (tx, ty, val_num: array<long>) dense per target tile; true values are
    val_num / den^2 (bilinear) or val_num (nearest)."""
    a, b, c, d, e, f = (int(v) for v in coeffs)
    den = int(den)
    if den <= 0:
        raise ValueError("den must be a positive integer")
    if method not in ("bilinear", "nearest"):
        raise ValueError(f"method must be 'bilinear' or 'nearest', got {method!r}")

    if out_tiles is None:
        out_tiles = tiles.select("tx", "ty")
    gx, gy = pixel_xy(res)
    tgt = out_tiles.select(
        F.col("tx").cast("long").alias("tx"),
        F.col("ty").cast("long").alias("ty"),
        F.explode(F.sequence(F.lit(0), F.lit(res * res - 1))).alias("pix"),
    ).select("tx", "ty", "pix", gx.alias("X"), gy.alias("Y"))
    sxn = a * F.col("X") + b * F.col("Y") + F.lit(c)
    syn = d * F.col("X") + e * F.col("Y") + F.lit(f)

    if method == "nearest":
        probes = tgt.select(
            "tx", "ty", "pix",
            floor_div(2 * sxn + den, 2 * den).alias("sgx"),
            floor_div(2 * syn + den, 2 * den).alias("sgy"),
            F.lit(1).cast("long").alias("w"),
        )
    else:
        gx0 = floor_div(sxn, den)
        gy0 = floor_div(syn, den)
        fx = F.pmod(sxn, F.lit(den))
        fy = F.pmod(syn, F.lit(den))
        quad = F.array(
            *[
                F.struct(
                    F.lit(dx).alias("dx"),
                    F.lit(dy).alias("dy"),
                    (
                        (fx if dx else (den - fx)) * (fy if dy else (den - fy))
                    ).cast("long").alias("w"),
                )
                for dx in (0, 1)
                for dy in (0, 1)
            ]
        )
        probes = (
            tgt.select(
                "tx", "ty", "pix", gx0.alias("gx0"), gy0.alias("gy0"),
                F.explode(quad).alias("q"),
            )
            .filter(F.col("q.w") != 0)
            .select(
                "tx", "ty", "pix",
                (F.col("gx0") + F.col("q.dx")).alias("sgx"),
                (F.col("gy0") + F.col("q.dy")).alias("sgy"),
                F.col("q.w").alias("w"),
            )
        )

    src = _sparse_cells(tiles, res)
    hits = probes.join(src, ["sgx", "sgy"]).groupBy("tx", "ty", "pix").agg(
        F.sum(F.col("w") * F.col("z")).alias("v")
    )
    # dense assembly: complete the pixel set (left join against the dense
    # target frame), then ONE sorted-struct fold — array_sort orders by the
    # leading pix field, so the transform is O(res^2 log res^2) per tile.
    # (The map_from_entries + per-slot element_at idiom heatmap_tiles uses
    # is right for SPARSE maps but O(res^4) here, where warp output is
    # dense: element_at linearly scans the 4096-key map per slot — measured
    # 42-92 s at a mere 1M cells before this assembly; 3.8-7.4 s after.)
    full = tgt.select("tx", "ty", "pix").join(
        hits, ["tx", "ty", "pix"], "left"
    ).select(
        "tx", "ty", "pix", F.coalesce(F.col("v"), F.lit(0)).alias("v")
    )
    dense = F.transform(
        F.array_sort(F.collect_list(F.struct("pix", "v"))), lambda s: s["v"]
    )
    return full.groupBy("tx", "ty").agg(dense.alias("val_num"))


def warp_sql(
    tiles_table: str,
    res: int,
    coeffs: tuple[int, int, int, int, int, int],
    den: int = 1,
    out_tiles_sql: str | None = None,
    method: str = "bilinear",
) -> str:
    """DuckDB twin of affine_resample — identical probe/weight algebra, so
    (tx, ty, val_num) rows hash-match the Spark operator exactly."""
    a, b, c, d, e, f = (int(v) for v in coeffs)
    den = int(den)
    if den <= 0:
        raise ValueError("den must be a positive integer")
    if method not in ("bilinear", "nearest"):
        raise ValueError(f"method must be 'bilinear' or 'nearest', got {method!r}")
    out_sql = out_tiles_sql or f"SELECT tx, ty FROM {tiles_table}"
    # DuckDB's % is truncated, not floored: (x % d + d) % d is the pmod
    pm = "((({x}) % {d} + {d}) % {d})"

    def fdiv(x: str, dd: int) -> str:
        rem = pm.format(x=x, d=dd)
        return f"CAST((({x}) - {rem}) / {dd} AS BIGINT)"

    sxn = f"({a} * X + {b} * Y + {c})"
    syn = f"({d} * X + {e} * Y + {f})"
    if method == "nearest":
        probes = f"""
          SELECT tx, ty, pix,
                 {fdiv(f'2 * {sxn} + {den}', 2 * den)} AS sgx,
                 {fdiv(f'2 * {syn} + {den}', 2 * den)} AS sgy,
                 CAST(1 AS BIGINT) AS w
          FROM w_tgt
        """
    else:
        fx = pm.format(x=sxn, d=den)
        fy = pm.format(x=syn, d=den)
        probes = f"""
          SELECT tx, ty, pix,
                 {fdiv(sxn, den)} + o.dx AS sgx,
                 {fdiv(syn, den)} + o.dy AS sgy,
                 CAST((CASE WHEN o.dx = 1 THEN {fx} ELSE {den} - {fx} END)
                    * (CASE WHEN o.dy = 1 THEN {fy} ELSE {den} - {fy} END)
                      AS BIGINT) AS w
          FROM w_tgt, (VALUES (0, 0), (1, 0), (0, 1), (1, 1)) o(dx, dy)
        """
    return f"""
        WITH w_out AS MATERIALIZED (
          SELECT CAST(tx AS BIGINT) AS tx, CAST(ty AS BIGINT) AS ty
          FROM ({out_sql})
        ), w_tgt AS (
          SELECT tx, ty, i AS pix,
                 tx * {res} + i % {res} AS X,
                 ty * {res} + i // {res} AS Y
          FROM w_out, range(0, {res * res}) t(i)
        ), w_src AS MATERIALIZED (
          SELECT tx * {res} + i % {res} AS sgx,
                 ty * {res} + i // {res} AS sgy,
                 counts[i + 1] AS z
          FROM {tiles_table}, range(0, {res * res}) t(i)
          WHERE counts[i + 1] <> 0
        ), w_probes AS (
          SELECT * FROM ({probes}) WHERE w <> 0
        ), w_hits AS (
          SELECT p.tx, p.ty, p.pix, SUM(p.w * s.z)::BIGINT AS v
          FROM w_probes p JOIN w_src s
            ON s.sgx = p.sgx AND s.sgy = p.sgy
          GROUP BY 1, 2, 3
        ), w_dense AS (
          SELECT tx, ty, MAP(list(pix), list(v)) AS m
          FROM w_hits GROUP BY 1, 2
        )
        SELECT o.tx, o.ty,
               COALESCE(
                 list_transform(range(0, {res * res}),
                                i -> COALESCE(m[i][1], 0)::BIGINT),
                 list_transform(range(0, {res * res}), i -> 0::BIGINT)
               ) AS val_num
        FROM w_out o LEFT JOIN w_dense d USING (tx, ty)
    """


def sample_at_points(
    points: DataFrame,
    tiles: DataFrame,
    res: int,
    den: int = 1,
    id_col: str = "pid",
    xn_col: str = "xn",
    yn_col: str = "yn",
    method: str = "bilinear",
) -> DataFrame:
    """Sample the tile raster at point locations — the ST_Value /
    gdallocationinfo analog: extract the raster value under each vector
    point, exactly.

    Points carry their position in GLOBAL PIXEL coordinates as integer
    numerators over the shared positive denominator `den`: the point sits at
    source pixel (xn/den, yn/den). Integer pixel coordinates address lattice
    NODES (the same convention as affine_resample); callers sampling at cell
    centers pass 2*gx+1 / 2*gy+1 over den=2 (or any equivalent rational).

    method='bilinear' returns val_num = the exact int64 numerator of the
    rational value over den^2 (the 4-neighbor integer-weight sum — weights
    total den^2); method='nearest' rounds half-up exactly and returns the
    cell value verbatim (scale 1). Absent cells read as 0 (the family's zero
    padding), so points outside the raster sample 0 rather than erroring —
    output has exactly one row per input point either way.

    Plan shape at scale: <= 4 slim probe rows per point (on-lattice zero
    weights filtered — an integer-coordinate point costs one probe), ONE
    (sgx, sgy) equi-join against the sparse nonzero source cells, one
    map-side-combined hash agg on the point id, and a left join back to the
    id spine for the all-zero-neighborhood points. No UDF; whole-stage
    codegen end to end. The raster side is the smaller relation in the
    common DEM-sampling case (fixes >> cells) and broadcasts; a dense
    planet-scale raster flips it to a shuffled equi-join on the same key —
    either way no pairwise blowup exists anywhere.

    DuckDB twin: sample_at_points_sql (hash-exact — every weight and sum is
    int64).

    Reference provenance: no reference analog (the reference has no raster
    surface); this is the point-probe half of the raster<->vector axis —
    affine_resample moves grids, sample_at_points reads them at vector
    locations (sample elevation/density under each image anchor or fix).
    """
    den = int(den)
    if den <= 0:
        raise ValueError("den must be a positive integer")
    if method not in ("bilinear", "nearest"):
        raise ValueError(f"method must be 'bilinear' or 'nearest', got {method!r}")
    pts = points.select(
        F.col(id_col).alias("_pid"),
        F.col(xn_col).cast("long").alias("_xn"),
        F.col(yn_col).cast("long").alias("_yn"),
    )
    if method == "nearest":
        probes = pts.select(
            "_pid",
            floor_div(2 * F.col("_xn") + den, 2 * den).alias("sgx"),
            floor_div(2 * F.col("_yn") + den, 2 * den).alias("sgy"),
            F.lit(1).cast("long").alias("w"),
        )
    else:
        gx0 = floor_div(F.col("_xn"), den)
        gy0 = floor_div(F.col("_yn"), den)
        fx = F.pmod(F.col("_xn"), F.lit(den))
        fy = F.pmod(F.col("_yn"), F.lit(den))
        quad = F.array(
            *[
                F.struct(
                    F.lit(dx).alias("dx"),
                    F.lit(dy).alias("dy"),
                    (
                        (fx if dx else (den - fx)) * (fy if dy else (den - fy))
                    ).cast("long").alias("w"),
                )
                for dx in (0, 1)
                for dy in (0, 1)
            ]
        )
        probes = (
            pts.select("_pid", gx0.alias("gx0"), gy0.alias("gy0"),
                       F.explode(quad).alias("q"))
            .filter(F.col("q.w") != 0)
            .select(
                "_pid",
                (F.col("gx0") + F.col("q.dx")).alias("sgx"),
                (F.col("gy0") + F.col("q.dy")).alias("sgy"),
                F.col("q.w").alias("w"),
            )
        )
    src = _sparse_cells(tiles, res)
    hits = probes.join(src, ["sgx", "sgy"]).groupBy("_pid").agg(
        F.sum(F.col("w") * F.col("z")).alias("v")
    )
    return pts.select("_pid").join(hits, "_pid", "left").select(
        F.col("_pid").alias(id_col),
        F.coalesce(F.col("v"), F.lit(0).cast("long")).alias("val_num"),
    )


def sample_at_points_sql(
    points_sql: str,
    tiles_table: str,
    res: int,
    den: int = 1,
    method: str = "bilinear",
) -> str:
    """DuckDB twin of sample_at_points — identical probe/weight algebra.
    points_sql must yield (pid, xn, yn) integer rows."""
    den = int(den)
    if den <= 0:
        raise ValueError("den must be a positive integer")
    if method not in ("bilinear", "nearest"):
        raise ValueError(f"method must be 'bilinear' or 'nearest', got {method!r}")
    pm = "((({x}) % {d} + {d}) % {d})"

    def fdiv(x: str, dd: int) -> str:
        rem = pm.format(x=x, d=dd)
        return f"CAST((({x}) - {rem}) / {dd} AS BIGINT)"

    if method == "nearest":
        probes = f"""
          SELECT pid,
                 {fdiv(f'2 * xn + {den}', 2 * den)} AS sgx,
                 {fdiv(f'2 * yn + {den}', 2 * den)} AS sgy,
                 CAST(1 AS BIGINT) AS w
          FROM w_pts
        """
    else:
        fx = pm.format(x="xn", d=den)
        fy = pm.format(x="yn", d=den)
        probes = f"""
          SELECT pid,
                 {fdiv('xn', den)} + o.dx AS sgx,
                 {fdiv('yn', den)} + o.dy AS sgy,
                 CAST((CASE WHEN o.dx = 1 THEN {fx} ELSE {den} - {fx} END)
                    * (CASE WHEN o.dy = 1 THEN {fy} ELSE {den} - {fy} END)
                      AS BIGINT) AS w
          FROM w_pts, (VALUES (0, 0), (1, 0), (0, 1), (1, 1)) o(dx, dy)
        """
    return f"""
        WITH w_pts AS MATERIALIZED (
          SELECT pid, CAST(xn AS BIGINT) AS xn, CAST(yn AS BIGINT) AS yn
          FROM ({points_sql})
        ), w_src AS MATERIALIZED (
          SELECT tx * {res} + i % {res} AS sgx,
                 ty * {res} + i // {res} AS sgy,
                 counts[i + 1] AS z
          FROM {tiles_table}, range(0, {res * res}) t(i)
          WHERE counts[i + 1] <> 0
        ), w_probes AS (
          SELECT * FROM ({probes}) WHERE w <> 0
        ), w_hits AS (
          SELECT p.pid, SUM(p.w * s.z)::BIGINT AS v
          FROM w_probes p JOIN w_src s
            ON s.sgx = p.sgx AND s.sgy = p.sgy
          GROUP BY 1
        )
        SELECT p.pid, COALESCE(h.v, 0)::BIGINT AS val_num
        FROM w_pts p LEFT JOIN w_hits h USING (pid)
    """


def elevation_profile(
    lines: DataFrame,
    tiles: DataFrame,
    res: int,
    spacing: float,
    den: int = 256,
    id_col: str = "line_id",
    pts_col: str = "pts",
    method: str = "bilinear",
) -> DataFrame:
    """Terrain profile along polylines (the 'elevation profile' every route
    planner draws): place stations along each line at ~`spacing` pixel
    intervals and read the raster under each with sample_at_points'
    exact-rational machinery. Lines carry vertices as array<struct<x, y>>
    in global PIXEL units (doubles); per segment the station count is
    ceil(len/spacing) (>= 1, so every vertex is a station), stations sit at
    exact parameter fractions j/n_s and are QUANTIZED to the 1/den pixel
    lattice (round half up, documented <= 1/(2 den) px placement error —
    the sampling itself is then exact at the quantized position).

    Returns one row per station: (line_id, station — 0-based along the
    whole line — dist_e6 — cumulative euclidean distance in e6-floored
    pixel units, exact int64 prefix sums of per-segment floors — xn, yn,
    and val_num: the den^2-scaled bilinear numerator / verbatim nearest
    value). Column algebra + ONE sample_at_points call; segment joints
    emit once (the closing vertex of segment i is station 0 of segment
    i+1 only when i+1 doesn't exist)."""
    if spacing <= 0:
        raise ValueError("spacing must be > 0")
    den = int(den)
    segs = lines.select(
        F.col(id_col).alias("line_id"),
        F.posexplode(pts_col).alias("si", "p"),
    ).select(
        "line_id", "si",
        F.col("p.x").alias("x1"), F.col("p.y").alias("y1"),
        F.lead("p.x").over(
            Window.partitionBy("line_id").orderBy("si")
        ).alias("x2"),
        F.lead("p.y").over(
            Window.partitionBy("line_id").orderBy("si")
        ).alias("y2"),
    ).filter(F.col("x2").isNotNull())
    seg_len = F.sqrt(
        (F.col("x2") - F.col("x1")) * (F.col("x2") - F.col("x1"))
        + (F.col("y2") - F.col("y1")) * (F.col("y2") - F.col("y1"))
    )
    segs = segs.select(
        "*",
        F.greatest(
            F.ceil(seg_len / F.lit(float(spacing))).cast("long"), F.lit(1)
        ).alias("ns"),
        F.floor(seg_len * F.lit(1e6)).cast("long").alias("len_e6"),
    ).withColumn(
        "off_e6",
        F.coalesce(
            F.sum("len_e6").over(
                Window.partitionBy("line_id").orderBy("si")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).withColumn(
        "st_off",
        F.coalesce(
            F.sum("ns").over(
                Window.partitionBy("line_id").orderBy("si")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    # stations: j = 0 only on the first segment; 1..ns on every segment
    st = segs.select(
        "line_id", "si", "x1", "y1", "x2", "y2", "ns", "len_e6",
        "off_e6", "st_off",
        F.explode(
            F.sequence(
                F.when(F.col("si") == 0, F.lit(0)).otherwise(F.lit(1))
                .cast("long"),
                F.col("ns"),
            )
        ).alias("j"),
    )
    t = F.col("j").cast("double") / F.col("ns").cast("double")
    xs = F.col("x1") + (F.col("x2") - F.col("x1")) * t
    ys = F.col("y1") + (F.col("y2") - F.col("y1")) * t
    stations = st.select(
        "line_id",
        (F.col("st_off") + F.col("j")).alias("station"),
        (
            F.col("off_e6")
            + F.floor(F.col("len_e6").cast("double") * t).cast("long")
        ).alias("dist_e6"),
        F.floor(xs * F.lit(float(den)) + F.lit(0.5)).cast("long").alias("xn"),
        F.floor(ys * F.lit(float(den)) + F.lit(0.5)).cast("long").alias("yn"),
        F.concat_ws("#", "line_id", F.col("st_off") + F.col("j"))
        .alias("pid"),
    )
    sampled = sample_at_points(
        stations.select("pid", "xn", "yn"), tiles, res, den=den,
        method=method,
    )
    return stations.join(sampled, "pid").select(
        "line_id", "station", "dist_e6", "xn", "yn", "val_num"
    ).orderBy("line_id", "station")
