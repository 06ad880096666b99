"""Contour extraction (marching squares) over a sparse integer cell field —
pure Column algebra, exact rational crossings, DuckDB-twinnable.

Input is the engine's sparse raster shape: one row per nonzero cell
(gx, gy, z) with integer values; absent cells read as 0 (the same zero
padding focal/pyramid use). `contour_segments(level)` emits every marching-
squares line segment of the iso-line z = level: the field is sampled at
lattice points (cell coords as corner values), each 2x2 block of corners
maps to one of 16 cases, and the standard case table yields 0-2 segments
whose endpoints sit on block edges at the linear-interpolation crossing
t = (level - z_first) / (z_second - z_first).

Exactness: with integer z and integer level, every crossing is the rational
num/den with num = level - z_first, den = z_second - z_first (sign-
normalized to den > 0, never reduced). Both engines compute the identical
(num, den) pair from the identical corner values, so segment rows are
hash-comparable with zero float traffic — and because an edge's two
adjacent blocks read the SAME two corner cells, the (ex, ey, horiz, num,
den) tuple is a canonical cross-block key for the crossing point, which is
what `contour_lines` links on.

Saddle convention: cases 5 (SW+NE) and 10 (SE+NW) emit the two separated
corner-cutting segments (no center-average disambiguation) — deterministic
and engine-independent, matching the common "separated" marching-squares
variant.

Plan shape at scale: one explode(4) corner scatter + ONE groupBy(block)
hash agg (map-side combined) assembles corner quads; case index, segment
table lookup (a literal array-of-arrays, element_at — no join), and the
crossing arithmetic are whole-stage-codegen Column math. Output cardinality
is O(boundary length), not O(area). `contour_lines` adds one linking
plan over the crossing-point graph: tile-local union-find plus a global
stitch over boundary chains (engine.graph.tile_local_components).

Level must be >= 0 so the implicit all-zero background is "outside"
(level < 0 would make the infinite absent region inside and the iso-line
unbounded); z > level is the inside test, so level = 0 contours the
support boundary of a nonnegative field.

Reference provenance: the reference (osm-history-analysis) has no raster
surface; this extends the raster family (engine/raster.py, engine/focal.py,
engine/pyramid.py) with the raster -> vector iso-line extraction step a
density/heatmap pipeline publishes (SURVEY.md section 2 additions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Edges of a block (bx, by): 0 = bottom (SW-SE), 1 = right (SE-NE),
# 2 = top (NW-NE), 3 = left (SW-NW). Corner bits of the case index:
# 1 = SW inside, 2 = SE, 4 = NE, 8 = NW ("inside" = z > level).
CASE_SEGMENTS: dict[int, list[tuple[int, int]]] = {
    0: [],
    1: [(3, 0)],
    2: [(0, 1)],
    3: [(3, 1)],
    4: [(1, 2)],
    5: [(3, 0), (1, 2)],  # saddle: SW and NE cut separately
    6: [(0, 2)],
    7: [(3, 2)],
    8: [(2, 3)],
    9: [(0, 2)],
    10: [(0, 1), (2, 3)],  # saddle: SE and NW cut separately
    11: [(1, 2)],
    12: [(3, 1)],
    13: [(0, 1)],
    14: [(3, 0)],
    15: [],
}

_SEG_FIELDS = ("ex", "ey", "horiz", "num", "den")


def _corner_quads(
    cells: DataFrame, gx_col: str, gy_col: str, z_col: str
) -> DataFrame:
    """Sparse cells -> one row per block that has >= 1 nonzero corner, with
    the four corner values z0 (SW) z1 (SE) z2 (NW) z3 (NE), absent = 0."""
    pts = cells.select(
        F.col(gx_col).cast("long").alias("_gx"),
        F.col(gy_col).cast("long").alias("_gy"),
        F.col(z_col).cast("long").alias("_z"),
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (0, 1)
            for dy in (0, 1)
        ]
    )
    ex = pts.withColumn("_o", F.explode(offsets)).select(
        (F.col("_gx") - F.col("_o.dx")).alias("bx"),
        (F.col("_gy") - F.col("_o.dy")).alias("by"),
        (F.col("_o.dx") + 2 * F.col("_o.dy")).alias("_c"),
        "_z",
    )
    aggs = [
        F.coalesce(
            F.max(F.when(F.col("_c") == k, F.col("_z"))), F.lit(0)
        ).cast("long").alias(f"z{k}")
        for k in range(4)
    ]
    return ex.groupBy("bx", "by").agg(*aggs)


def _edge_endpoint(edge: Column, level: int, prefix: str) -> list[Column]:
    """Crossing point of `edge` (0-3) of block (bx, by): the lattice anchor
    (ex, ey), orientation (horiz: 1 = crossing at (ex + t, ey), 0 = at
    (ex, ey + t)), and t = num/den sign-normalized to den > 0. The anchor is
    always the lexicographically smaller lattice endpoint, so adjacent
    blocks derive the identical tuple for a shared crossing."""
    L = F.lit(int(level))

    def pick(e0, e1, e2, e3) -> Column:
        return (
            F.when(edge == 0, e0)
            .when(edge == 1, e1)
            .when(edge == 2, e2)
            .otherwise(e3)
        )

    bx, by = F.col("bx"), F.col("by")
    z0, z1, z2, z3 = (F.col(f"z{k}") for k in range(4))
    ex = pick(bx, bx + 1, bx, bx)
    ey = pick(by, by, by + 1, by)
    horiz = pick(F.lit(1), F.lit(0), F.lit(1), F.lit(0)).cast("long")
    num = pick(L - z0, L - z1, L - z2, L - z0)
    den = pick(z1 - z0, z3 - z1, z3 - z2, z2 - z0)
    neg = den < 0
    num = F.when(neg, -num).otherwise(num)
    den = F.when(neg, -den).otherwise(den)
    cols = dict(zip(_SEG_FIELDS, (ex, ey, horiz, num, den)))
    return [
        c.cast("long").alias(f"{prefix}_{name}") for name, c in cols.items()
    ]


def contour_segments(
    cells: DataFrame,
    level: int,
    gx_col: str = "gx",
    gy_col: str = "gy",
    z_col: str = "z",
) -> DataFrame:
    """Iso-line segments of the field at z = level (integer, >= 0).

    Returns one row per marching-squares segment:
      (bx, by, kase, ea, a_ex, a_ey, a_horiz, a_num, a_den,
                     eb, b_ex, b_ey, b_horiz, b_num, b_den)
    — all int64. Endpoint coordinates in field units are
    (a_ex + a_num/a_den, a_ey) when a_horiz = 1 else
    (a_ex, a_ey + a_num/a_den); `segment_xy` materializes the doubles.
    """
    if level < 0:
        raise ValueError("level must be >= 0 (absent cells read as 0)")
    quads = _corner_quads(cells, gx_col, gy_col, z_col)
    L = F.lit(int(level))
    inside = [(F.col(f"z{k}") > L).cast("int") for k in range(4)]
    kase = (
        inside[0] + 2 * inside[1] + 4 * inside[3] + 8 * inside[2]
    ).alias("kase")
    seg_table = F.array(
        *[
            F.array(
                *[
                    F.struct(
                        F.lit(ea).alias("ea"), F.lit(eb).alias("eb")
                    )
                    for ea, eb in CASE_SEGMENTS[k]
                ]
            )
            for k in range(16)
        ]
    )
    w = quads.withColumn("kase", kase).withColumn(
        "_seg", F.explode(F.element_at(seg_table, F.col("kase") + 1))
    )
    ea = F.col("_seg.ea").cast("long")
    eb = F.col("_seg.eb").cast("long")
    return w.select(
        F.col("bx").cast("long").alias("bx"),
        F.col("by").cast("long").alias("by"),
        F.col("kase").cast("long").alias("kase"),
        ea.alias("ea"),
        *_edge_endpoint(F.col("_seg.ea"), level, "a"),
        eb.alias("eb"),
        *_edge_endpoint(F.col("_seg.eb"), level, "b"),
    )


def segment_xy(segments: DataFrame) -> DataFrame:
    """Attach double endpoint coordinates (ax, ay, bx2, by2) to a
    contour_segments frame — the lossy view consumers plot; the rational
    columns stay the exact record."""

    def xy(p: str) -> tuple[Column, Column]:
        t = F.col(f"{p}_num") / F.col(f"{p}_den")
        h = F.col(f"{p}_horiz") == 1
        x = F.when(h, F.col(f"{p}_ex") + t).otherwise(F.col(f"{p}_ex"))
        y = F.when(h, F.col(f"{p}_ey")).otherwise(F.col(f"{p}_ey") + t)
        return x, y

    ax, ay = xy("a")
    bx2, by2 = xy("b")
    return segments.select(
        "*",
        ax.alias("ax"),
        ay.alias("ay"),
        bx2.alias("bx2"),
        by2.alias("by2"),
    )


def _point_key(prefix: str) -> Column:
    return F.concat_ws(
        ":",
        *[F.col(f"{prefix}_{name}").cast("string") for name in _SEG_FIELDS],
    )


def contour_lines(segments: DataFrame) -> DataFrame:
    """Link segments into iso-lines: connected components over the crossing-
    point graph (two segments are linked iff they share an endpoint key —
    exact, because the rational endpoint tuples are canonical across
    blocks). Returns the input plus `line_id`: the component's minimum
    endpoint key string — deterministic and engine-independent.

    Component TOPOLOGY runs on xxhash64 of the point key (the component
    kernels need int64 nodes; a collision needs ~2^32 distinct crossing
    points on one iso-level to be likely and would only merge two lines,
    never drop a segment); the LABEL is an exact min-string agg over the
    component, so labels are reproducible regardless.

    Components come from engine.graph.tile_local_components: tile-local
    union-find + a global stitch over boundary chains, keyed by the
    a-endpoint anchor (a_ex, a_ey) and valid for any node degree (the r5
    A/B/C at 4M segments measured it 3.08x faster than the generic CC; see
    BENCH/BASELINE.md). The references: tests/test_contour.py checks line
    counts and sizes against the dense numpy marching-squares oracle, and
    tools/bench_kernels.py's contour part asserts closed-form ring counts
    and sizes at scale."""
    from engine.graph import tile_local_components

    ak, bk = _point_key("a"), _point_key("b")
    seg = segments.withColumn("_ak", ak).withColumn("_bk", bk)
    comp = tile_local_components(
        seg.select(
            F.xxhash64(F.col("_ak")).alias("u"),
            F.xxhash64(F.col("_bk")).alias("v"),
            "a_ex",
            "a_ey",
        ),
        src="u", dst="v", ax="a_ex", ay="a_ey", tile_shift=8,
    )
    labels = (
        seg.select(F.col("_ak").alias("k"))
        .unionAll(seg.select(F.col("_bk").alias("k")))
        .distinct()
        .withColumn("_h", F.xxhash64(F.col("k")))
        .join(comp, F.col("_h") == F.col("id"))
        .groupBy("comp")
        .agg(F.min("k").alias("line_id"))
    )
    out = (
        seg.withColumn("_h", F.xxhash64(F.col("_ak")))
        .join(comp, F.col("_h") == F.col("id"))
        .join(labels, "comp")
        .drop("_ak", "_bk", "_h", "id", "comp")
    )
    return out


def contour_segments_sql(
    cells_sql: str,
    level: int,
    gx_col: str = "gx",
    gy_col: str = "gy",
    z_col: str = "z",
) -> str:
    """DuckDB twin of contour_segments: identical corner scatter, case
    index, case table (as VALUES), and rational crossing arithmetic —
    int-exact, so rows hash-match the Spark operator."""
    if level < 0:
        raise ValueError("level must be >= 0")
    L = int(level)
    seg_rows = ", ".join(
        f"({k}, {i}, {ea}, {eb})"
        for k, segs in CASE_SEGMENTS.items()
        for i, (ea, eb) in enumerate(segs)
    )

    def endpoint(e: str, p: str) -> str:
        # mirrors _edge_endpoint: anchor, orientation, sign-normalized t
        ex = f"CASE WHEN {e} = 1 THEN bx + 1 ELSE bx END"
        ey = f"CASE WHEN {e} = 2 THEN by + 1 ELSE by END"
        hz = f"CASE WHEN {e} IN (0, 2) THEN 1 ELSE 0 END"
        num = (
            f"CASE {e} WHEN 0 THEN {L} - z0 WHEN 1 THEN {L} - z1 "
            f"WHEN 2 THEN {L} - z2 ELSE {L} - z0 END"
        )
        den = (
            f"CASE {e} WHEN 0 THEN z1 - z0 WHEN 1 THEN z3 - z1 "
            f"WHEN 2 THEN z3 - z2 ELSE z2 - z0 END"
        )
        return f"""
            CAST({ex} AS BIGINT) AS {p}_ex,
            CAST({ey} AS BIGINT) AS {p}_ey,
            CAST({hz} AS BIGINT) AS {p}_horiz,
            CAST(CASE WHEN ({den}) < 0 THEN -({num}) ELSE {num} END
                 AS BIGINT) AS {p}_num,
            CAST(CASE WHEN ({den}) < 0 THEN -({den}) ELSE {den} END
                 AS BIGINT) AS {p}_den"""

    return f"""
        WITH ms_cells AS MATERIALIZED (
          SELECT CAST({gx_col} AS BIGINT) AS gx,
                 CAST({gy_col} AS BIGINT) AS gy,
                 CAST({z_col} AS BIGINT) AS z
          FROM ({cells_sql})
        ), ms_scatter AS (
          SELECT gx - o.dx AS bx, gy - o.dy AS by,
                 o.dx + 2 * o.dy AS c, z
          FROM ms_cells,
               (VALUES (0, 0), (1, 0), (0, 1), (1, 1)) AS o(dx, dy)
        ), ms_quads AS MATERIALIZED (
          SELECT bx, by,
                 COALESCE(MAX(CASE WHEN c = 0 THEN z END), 0) AS z0,
                 COALESCE(MAX(CASE WHEN c = 1 THEN z END), 0) AS z1,
                 COALESCE(MAX(CASE WHEN c = 2 THEN z END), 0) AS z2,
                 COALESCE(MAX(CASE WHEN c = 3 THEN z END), 0) AS z3
          FROM ms_scatter GROUP BY bx, by
        ), ms_cased AS (
          SELECT *,
                 (CASE WHEN z0 > {L} THEN 1 ELSE 0 END)
               + (CASE WHEN z1 > {L} THEN 2 ELSE 0 END)
               + (CASE WHEN z3 > {L} THEN 4 ELSE 0 END)
               + (CASE WHEN z2 > {L} THEN 8 ELSE 0 END) AS kase
          FROM ms_quads
        ), ms_segtab(kase, seg_i, ea, eb) AS (
          SELECT * FROM (VALUES {seg_rows})
        )
        SELECT CAST(q.bx AS BIGINT) AS bx, CAST(q.by AS BIGINT) AS by,
               CAST(q.kase AS BIGINT) AS kase,
               CAST(s.ea AS BIGINT) AS ea,
               {endpoint('s.ea', 'a')},
               CAST(s.eb AS BIGINT) AS eb,
               {endpoint('s.eb', 'b')}
        FROM ms_cased q JOIN ms_segtab s ON q.kase = s.kase
    """
