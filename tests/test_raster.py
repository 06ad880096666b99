"""engine.raster: per-tile point-density grids vs Python + DuckDB oracles."""

import math
import random

import pytest
from pyspark.sql import functions as F

from engine import raster
from tests.conftest import spark  # noqa: F401


def _py_heatmap(rows, s, res, weights=None):
    tiles = {}
    for i, (x, y) in enumerate(rows):
        tx, ty = math.floor(x / s), math.floor(y / s)
        fx, fy = x / s - math.floor(x / s), y / s - math.floor(y / s)
        px = min(int(fx * res), res - 1)
        py = min(int(fy * res), res - 1)
        g = tiles.setdefault((tx, ty), [0] * (res * res))
        g[py * res + px] += 1 if weights is None else weights[i]
    return tiles


def _collect(df):
    return {
        (r["tx"], r["ty"]): (list(r["counts"]), r["n_points"], r["max_count"])
        for r in df.collect()
    }


def test_matches_python_oracle(spark):
    rng = random.Random(3)
    rows = [(rng.uniform(-50, 50), rng.uniform(-50, 50)) for _ in range(3000)]
    s, res = 10.0, 8
    df = spark.createDataFrame(rows, "x double, y double")
    got = _collect(raster.heatmap_tiles(df.repartition(7), s, res))
    want = _py_heatmap(rows, s, res)
    assert set(got) == set(want)
    for k, grid in want.items():
        counts, n_points, max_count = got[k]
        assert counts == grid, k
        assert n_points == sum(grid)
        assert max_count == max(grid)


def test_weighted_and_edges(spark):
    # exact tile-edge and pixel-edge points: half-open binning, upper edge
    # clamps into the last pixel only via the interior fraction (1.0 -> next
    # tile's pixel 0, not a clamp)
    rows = [
        (0.0, 0.0, 5),    # tile (0,0) pixel (0,0)
        (10.0, 0.0, 7),   # tile (1,0) pixel (0,0) — upper x edge
        (9.999999, 0.0, 1),  # tile (0,0) last x pixel
        (-0.000001, 0.0, 2),  # tile (-1,0) last x pixel
    ]
    df = spark.createDataFrame(rows, "x double, y double, w long")
    got = _collect(raster.heatmap_tiles(df, 10.0, 4, weight_col="w"))
    assert got[(0, 0)][0][0] == 5
    assert got[(1, 0)][0][0] == 7
    assert got[(0, 0)][0][3] == 1
    assert got[(-1, 0)][0][3] == 2
    assert got[(0, 0)][1] == 6 and got[(0, 0)][2] == 5


def test_res_one_counts_per_tile(spark):
    rng = random.Random(5)
    rows = [(rng.uniform(0, 30), rng.uniform(0, 30)) for _ in range(500)]
    df = spark.createDataFrame(rows, "x double, y double")
    got = _collect(raster.heatmap_tiles(df, 10.0, 1))
    per_tile = {}
    for x, y in rows:
        k = (math.floor(x / 10), math.floor(y / 10))
        per_tile[k] = per_tile.get(k, 0) + 1
    assert {k: v[0][0] for k, v in got.items()} == per_tile


def test_validation(spark):
    df = spark.createDataFrame([(0.0, 0.0)], "x double, y double")
    with pytest.raises(ValueError):
        raster.heatmap_tiles(df, 0.0)
    with pytest.raises(ValueError):
        raster.heatmap_tiles(df, 1.0, res=0)


def test_sql_twin_matches_spark(spark):
    import duckdb

    rng = random.Random(11)
    rows = [(rng.uniform(-40, 40), rng.uniform(-40, 40)) for _ in range(2000)]
    s, res = 8.0, 5
    df = spark.createDataFrame(rows, "x double, y double")
    got = _collect(raster.heatmap_tiles(df, s, res))
    con = duckdb.connect()
    con.execute("CREATE TABLE t(x DOUBLE, y DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = {
        (r[0], r[1]): (list(r[2]), r[3], r[4])
        for r in con.execute(raster.heatmap_tiles_sql("t", s, res)).fetchall()
    }
    assert got == want


# ---------------------------------------------------------------------------
# areal interpolation
# ---------------------------------------------------------------------------
def _mk_polys(spark, rows):
    return spark.createDataFrame(
        [(pid, [{"x": x, "y": y} for x, y in ring], v) for pid, ring, v in rows],
        "poly_id: long, ring: array<struct<x:double,y:double>>, value: double",
    )


def test_areal_mass_conservation(spark):
    # irregular polygons spanning several tiles: total value is conserved
    rng = random.Random(13)
    rows = []
    for pid in range(20):
        cx, cy = rng.uniform(-20, 20), rng.uniform(-20, 20)
        rad = rng.uniform(3, 12)
        ring = [
            (cx + rad * (1 + 0.3 * rng.random()) * math.cos(2 * math.pi * k / 9),
             cy + rad * (1 + 0.3 * rng.random()) * math.sin(2 * math.pi * k / 9))
            for k in range(9)
        ]
        rows.append((pid, ring, rng.uniform(10, 1000)))
    df = _mk_polys(spark, rows)
    out = raster.tile_areal_interp(df.repartition(4), 5.0).collect()
    assert sum(r["value"] for r in out) == pytest.approx(
        sum(v for _, _, v in rows), rel=1e-9
    )


def test_areal_uniform_square_split(spark):
    # unit-density 10x10 square over a 5-lattice: four tiles, 25% each
    sq = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)]
    df = _mk_polys(spark, [(0, sq, 400.0)])
    got = {(r["tx"], r["ty"]): r["value"]
           for r in raster.tile_areal_interp(df, 5.0).collect()}
    assert got == {(0, 0): pytest.approx(100.0), (1, 0): pytest.approx(100.0),
                   (0, 1): pytest.approx(100.0), (1, 1): pytest.approx(100.0)}


def test_areal_overlapping_polys_sum(spark):
    # two coincident squares: tile value sums both; n_polys counts both
    sq = [(1.0, 1.0), (4.0, 1.0), (4.0, 4.0), (1.0, 4.0)]
    df = _mk_polys(spark, [(0, sq, 9.0), (1, sq, 18.0)])
    out = raster.tile_areal_interp(df, 5.0).collect()
    assert len(out) == 1
    assert out[0]["value"] == pytest.approx(27.0)
    assert out[0]["n_polys"] == 2


def test_areal_degenerate_polygon_dropped(spark):
    # zero-area ring contributes nothing rather than NaN
    line = [(0.0, 0.0), (5.0, 0.0), (0.0, 0.0)]
    sq = [(1.0, 1.0), (2.0, 1.0), (2.0, 2.0), (1.0, 2.0)]
    df = _mk_polys(spark, [(0, line, 100.0), (1, sq, 7.0)])
    out = raster.tile_areal_interp(df, 5.0).collect()
    assert len(out) == 1
    assert out[0]["value"] == pytest.approx(7.0)


# ---------------------------------------------------------------------------
# raster_regions (raster -> vector region extraction)
# ---------------------------------------------------------------------------
_OFF, _K = 1 << 30, 1 << 31


def _mk_tiles(spark, tiles):
    return spark.createDataFrame(
        [(tx, ty, grid) for (tx, ty), grid in tiles.items()],
        "tx long, ty long, counts array<long>",
    )


def _py_regions(tiles, res, classify, conn=4, min_cells=1):
    cells = {}
    for (tx, ty), g in tiles.items():
        for i, v in enumerate(g):
            if v:
                c = classify(v)
                if c is not None:
                    cells[(tx * res + i % res, ty * res + i // res)] = (v, c)
    nbrs = [(1, 0), (-1, 0), (0, 1), (0, -1)]
    if conn == 8:
        nbrs += [(1, 1), (-1, -1), (1, -1), (-1, 1)]
    seen, out = set(), {}
    for start in cells:
        if start in seen:
            continue
        seen.add(start)
        stack, members = [start], [start]
        while stack:
            cur = stack.pop()
            for dx, dy in nbrs:
                nxt = (cur[0] + dx, cur[1] + dy)
                if (nxt in cells and nxt not in seen
                        and cells[nxt][1] == cells[cur][1]):
                    seen.add(nxt)
                    stack.append(nxt)
                    members.append(nxt)
        if len(members) < min_cells:
            continue
        rid = min((gx + _OFF) * _K + (gy + _OFF) for gx, gy in members)
        xs = [c[0] for c in members]
        ys = [c[1] for c in members]
        out[rid] = (
            cells[members[0]][1], len(members),
            sum(cells[c][0] for c in members),
            min(xs), max(xs), min(ys), max(ys),
        )
    return out


def _collect_regions(df):
    return {
        r["region_id"]: (
            r["cls"], r["n_cells"], r["total"],
            r["min_gx"], r["max_gx"], r["min_gy"], r["max_gy"],
        )
        for r in df.collect()
    }


@pytest.mark.parametrize("conn", [4, 8])
def test_regions_match_flood_fill(spark, conn):
    rng = random.Random(29)
    res = 6
    tiles = {}
    for tx in range(-1, 2):
        for ty in range(-1, 2):
            tiles[(tx, ty)] = [
                rng.randint(0, 9) if rng.random() < 0.55 else 0
                for _ in range(res * res)
            ]
    classify = lambda v: (1 if v >= 5 else 0) if v else None  # noqa: E731
    got = _collect_regions(
        raster.raster_regions(
            _mk_tiles(spark, tiles).repartition(3), res,
            classify=lambda c: F.when(c >= 5, 1).otherwise(0),
            connectivity=conn,
        )
    )
    assert got == _py_regions(tiles, res, classify, conn=conn)


def test_regions_rook_vs_queen_and_min_cells(spark):
    res = 4
    # two diagonal blobs: separate under rook, one region under queen
    g = [0] * 16
    g[0] = 7          # (0,0)
    g[1 * res + 1] = 7  # (1,1) diagonal neighbor
    g[3 * res + 3] = 2  # isolated far cell
    tiles = {(0, 0): g}
    rook = _collect_regions(raster.raster_regions(_mk_tiles(spark, tiles), res))
    assert len(rook) == 3
    queen = _collect_regions(
        raster.raster_regions(_mk_tiles(spark, tiles), res, connectivity=8)
    )
    assert len(queen) == 2
    (big,) = [v for v in queen.values() if v[1] == 2]
    assert big == (1, 2, 14, 0, 1, 0, 1)
    filtered = _collect_regions(
        raster.raster_regions(_mk_tiles(spark, tiles), res, connectivity=8,
                              min_cells=2)
    )
    assert len(filtered) == 1


def test_regions_class_boundary_not_merged(spark):
    res = 4
    g = [0] * 16
    g[5], g[6] = 3, 9  # adjacent cells, different classes under >=5 split
    tiles = {(0, 0): g}
    out = _collect_regions(
        raster.raster_regions(
            _mk_tiles(spark, tiles), res,
            classify=lambda c: F.when(c >= 5, F.lit(1)).otherwise(F.lit(0)),
        )
    )
    assert len(out) == 2  # same-adjacency but class wall keeps them apart


def test_regions_validation(spark):
    df = _mk_tiles(spark, {(0, 0): [1] * 16})
    with pytest.raises(ValueError):
        raster.raster_regions(df, 4, connectivity=6)


# ---------------------------------------------------------------------------
# local_algebra (raster calculator) + zonal_crosstab (combine/tabulate area)
# ---------------------------------------------------------------------------
def _rand_tile_map(rng, res, keys, lo=0, hi=9):
    return {k: [rng.randint(lo, hi) for _ in range(res * res)] for k in keys}


def _tiles_df(spark, tiles):
    return spark.createDataFrame(
        [(tx, ty, g) for (tx, ty), g in tiles.items()],
        "tx long, ty long, counts array<long>",
    )


def test_local_algebra_matches_python(spark):
    rng = random.Random(5)
    res = 6
    keys_a = {(0, 0), (0, 1), (1, 0), (2, 2)}
    keys_b = {(0, 0), (1, 0), (1, 1)}  # partial overlap: zero-fill both ways
    a = _rand_tile_map(rng, res, keys_a)
    b = _rand_tile_map(rng, res, keys_b)
    got = {
        (r["tx"], r["ty"]): list(r["counts"])
        for r in raster.local_algebra(
            [_tiles_df(spark, a), _tiles_df(spark, b)],
            lambda x, y: x - 2 * y,
            res=res,
        ).collect()
    }
    zeros = [0] * (res * res)
    want = {}
    for k in keys_a | keys_b:
        ga, gb = a.get(k, zeros), b.get(k, zeros)
        want[k] = [x - 2 * y for x, y in zip(ga, gb)]
    assert got == want


def test_local_algebra_unary_and_ternary(spark):
    rng = random.Random(6)
    res = 4
    a = _rand_tile_map(rng, res, {(0, 0), (1, 1)})
    b = _rand_tile_map(rng, res, {(0, 0)})
    c = _rand_tile_map(rng, res, {(1, 1)})
    dfa, dfb, dfc = (_tiles_df(spark, t) for t in (a, b, c))
    un = {
        (r["tx"], r["ty"]): list(r["counts"])
        for r in raster.local_algebra([dfa], lambda x: x * 3 + 1, res=res)
        .collect()
    }
    assert un == {k: [v * 3 + 1 for v in g] for k, g in a.items()}
    zeros = [0] * (res * res)
    ter = {
        (r["tx"], r["ty"]): list(r["counts"])
        for r in raster.local_algebra(
            [dfa, dfb, dfc],
            lambda x, y, z: F.when(z > 0, x + y).otherwise(x - y),
            res=res,
        ).collect()
    }
    want = {}
    for k in set(a) | set(b) | set(c):
        ga, gb, gc = a.get(k, zeros), b.get(k, zeros), c.get(k, zeros)
        want[k] = [
            (x + y) if z > 0 else (x - y) for x, y, z in zip(ga, gb, gc)
        ]
    assert ter == want
    with pytest.raises(ValueError):
        raster.local_algebra([], lambda x: x, res=res)
    with pytest.raises(ValueError):
        raster.local_algebra([dfa] * 4, lambda *xs: xs[0], res=res)


def test_zonal_crosstab_matches_python(spark):
    rng = random.Random(7)
    res = 6
    keys = {(0, 0), (0, 1), (1, 0)}
    zones = _rand_tile_map(rng, res, keys, lo=0, hi=3)   # 0 = nodata
    values = _rand_tile_map(rng, res, keys | {(5, 5)}, lo=0, hi=4)
    got = {
        (r["zone"], r["value"]): (r["n_cells"], r["value_sum"])
        for r in raster.zonal_crosstab(
            _tiles_df(spark, zones), _tiles_df(spark, values), res=res
        ).collect()
    }
    want = {}
    for k in keys:
        for pix in range(res * res):
            z = zones[k][pix]
            if z == 0:
                continue
            v = values[k][pix]
            n, s = want.get((z, v), (0, 0))
            want[(z, v)] = (n + 1, s + v)
    assert got == want
    # zone cells with no value tile counterpart don't appear; value-only
    # tiles ((5,5)) contribute nothing
    assert all(z != 0 for z, _ in got)


def test_zonal_crosstab_duckdb_twin(spark):
    import duckdb

    rng = random.Random(8)
    res = 5
    keys = {(0, 0), (2, 1), (-1, 3)}
    zones = _rand_tile_map(rng, res, keys, lo=0, hi=2)
    values = _rand_tile_map(rng, res, keys, lo=0, hi=5)
    con = duckdb.connect()
    for name, tiles in (("zt", zones), ("vt", values)):
        con.execute(f"CREATE TABLE {name}(tx BIGINT, ty BIGINT, counts BIGINT[])")
        con.executemany(
            f"INSERT INTO {name} VALUES (?, ?, ?)",
            [(tx, ty, g) for (tx, ty), g in tiles.items()],
        )
    got = {
        (r["zone"], r["value"]): (r["n_cells"], r["value_sum"])
        for r in raster.zonal_crosstab(
            _tiles_df(spark, zones), _tiles_df(spark, values), res=res
        ).collect()
    }
    want = {
        (r[0], r[1]): (r[2], r[3])
        for r in con.execute(
            raster.zonal_crosstab_sql("zt", "vt", res)
        ).fetchall()
    }
    assert got == want


# ---------------------------------------------------------------------------
# polygon rasterization (scanline burn)
# ---------------------------------------------------------------------------
def _star_poly(rng, cx, cy, r_lo, r_hi, n):
    """Simple (possibly concave) polygon: angle-sorted random radii."""
    angs = sorted(rng.uniform(0, 2 * math.pi) for _ in range(n))
    return [
        (cx + rng.uniform(r_lo, r_hi) * math.cos(a),
         cy + rng.uniform(r_lo, r_hi) * math.sin(a))
        for a in angs
    ]


def _brute_burn(polys, pitch):
    """Per-pixel even-odd oracle: pixel center inside iff an ODD number of
    edge crossings of the center row lie STRICTLY RIGHT of the center —
    the half-open [c0, c1) twin of the scanline rule. polys: list of
    (poly_id, [rings], value, priority)."""
    out = {}
    for pid, rings, val, pri in polys:
        ys = [v[1] for r in rings for v in r]
        gy_lo = math.ceil(min(ys) / pitch - 0.5)
        gy_hi = math.floor(max(ys) / pitch - 0.5)
        xs_ = [v[0] for r in rings for v in r]
        gx_lo = math.ceil(min(xs_) / pitch - 0.5) - 1
        gx_hi = math.floor(max(xs_) / pitch - 0.5) + 1
        for gy in range(gy_lo, gy_hi + 1):
            yc = (gy + 0.5) * pitch
            crossings = []
            for r in rings:
                n = len(r)
                for i in range(n):
                    x1, y1 = r[i]
                    x2, y2 = r[(i + 1) % n]
                    if (y1 <= yc) != (y2 <= yc):
                        crossings.append(x1 + (yc - y1) * (x2 - x1) / (y2 - y1))
            for gx in range(gx_lo, gx_hi + 1):
                cx = (gx + 0.5) * pitch
                if sum(1 for c in crossings if c > cx) % 2 == 1:
                    k = (gx, gy)
                    best = out.get(k)
                    if best is None or (-pri, pid) < best[:2]:
                        out[k] = (-pri, pid, val)
    return {k: (v[2], v[1]) for k, v in out.items()}


def _burn_df(spark, polys):
    return spark.createDataFrame(
        [
            (pid, [[{"x": x, "y": y} for x, y in r] for r in rings], val, pri)
            for pid, rings, val, pri in polys
        ],
        "poly_id long, rings array<array<struct<x:double,y:double>>>, "
        "v long, pri long",
    )


def test_rasterize_rect_closed_form(spark):
    # [1, 5) x [2, 4) on pitch 1: centers 1.5..4.5 x 2.5..3.5 -> 4 x 2 pixels;
    # a rect whose left edge sits EXACTLY on a center (x = 1.5) includes it
    rows = [
        (1, [[(1.0, 2.0), (5.0, 2.0), (5.0, 4.0), (1.0, 4.0)]], 9, 0),
        (2, [[(1.5, 10.0), (3.5, 10.0), (3.5, 11.0), (1.5, 11.0)]], 7, 0),
    ]
    got = {
        (r["gx"], r["gy"]): (r["value"], r["poly_id"])
        for r in raster.rasterize_polygons(
            _burn_df(spark, rows), 8.0, 8, rings_col="rings",
            value_col="v", priority_col="pri",
        ).collect()
    }
    want = {(gx, gy): (9, 1) for gx in range(1, 5) for gy in range(2, 4)}
    want.update({(gx, 10): (7, 2) for gx in range(1, 3)})  # half-open: 1.5 in, 3.5 out
    assert got == want


def test_rasterize_matches_bruteforce(spark):
    rng = random.Random(23)
    polys = []
    for pid in range(12):
        rings = [_star_poly(rng, rng.uniform(-20, 20), rng.uniform(-20, 20),
                            3.0, 9.0, rng.randint(5, 11))]
        polys.append((pid, rings, 100 + pid, rng.randint(0, 3)))
    s, res = 8.0, 8  # pitch 1
    got = {
        (r["gx"], r["gy"]): (r["value"], r["poly_id"])
        for r in raster.rasterize_polygons(
            _burn_df(spark, polys).repartition(5), s, res, rings_col="rings",
            value_col="v", priority_col="pri",
        ).collect()
    }
    want = _brute_burn(polys, s / res)
    assert got == want
    assert len(got) > 100  # the draw actually burned something substantial


def test_rasterize_donut_even_odd(spark):
    donut = [(7, [
        [(0.0, 0.0), (6.0, 0.0), (6.0, 6.0), (0.0, 6.0)],
        [(2.0, 2.0), (4.0, 2.0), (4.0, 4.0), (2.0, 4.0)],
    ], 1, 0)]
    got = {
        (r["gx"], r["gy"])
        for r in raster.rasterize_polygons(
            _burn_df(spark, donut), 8.0, 8, rings_col="rings",
            value_col="v", priority_col="pri",
        ).collect()
    }
    assert len(got) == 36 - 4
    assert (3, 3) not in got and (1, 1) in got


def test_rasterize_single_ring_column_and_defaults(spark):
    # single-ring column auto-wraps; default value = poly_id, priority 0
    # (overlap tie -> lower poly_id wins)
    df = spark.createDataFrame(
        [
            (5, [{"x": 0.0, "y": 0.0}, {"x": 3.0, "y": 0.0},
                 {"x": 3.0, "y": 2.0}, {"x": 0.0, "y": 2.0}]),
            (2, [{"x": 1.0, "y": 0.0}, {"x": 4.0, "y": 0.0},
                 {"x": 4.0, "y": 2.0}, {"x": 1.0, "y": 2.0}]),
        ],
        "poly_id long, ring array<struct<x:double,y:double>>",
    )
    got = {
        (r["gx"], r["gy"]): r["value"]
        for r in raster.rasterize_polygons(df, 8.0, 8).collect()
    }
    assert got[(0, 0)] == 5 and got[(3, 0)] == 2
    assert got[(1, 0)] == 2 and got[(2, 1)] == 2  # tie -> lower poly_id


def test_rasterize_duckdb_twin(spark):
    import duckdb

    rng = random.Random(31)
    polys = []
    for pid in range(10):
        rings = [_star_poly(rng, rng.uniform(-15, 15), rng.uniform(-15, 15),
                            2.0, 7.0, rng.randint(4, 9))]
        if pid == 0:  # one donut exercises the even-odd flatten
            rings.append([(v[0] * 0.3, v[1] * 0.3) for v in rings[0]])
        polys.append((pid, rings, 50 + pid, rng.randint(0, 2)))
    s, res = 10.0, 16
    got = {
        (r["gx"], r["gy"]): (r["value"], r["poly_id"])
        for r in raster.rasterize_polygons(
            _burn_df(spark, polys), s, res, rings_col="rings",
            value_col="v", priority_col="pri",
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE pt(poly_id BIGINT, "
        "rings STRUCT(x DOUBLE, y DOUBLE)[][], v BIGINT, pri BIGINT)"
    )
    con.executemany(
        "INSERT INTO pt VALUES (?, ?, ?, ?)",
        [
            (pid, [[{"x": x, "y": y} for x, y in r] for r in rings], val, pri)
            for pid, rings, val, pri in polys
        ],
    )
    want = {
        (r[0], r[1]): (r[2], r[3])
        for r in con.execute(
            raster.rasterize_polygons_sql(
                "pt", s, res, value_expr="v", priority_expr="pri"
            )
        ).fetchall()
    }
    assert got == want and len(got) > 200


def test_sparse_to_tiles_assembly(spark):
    # negative coordinates land in the right tile via pmod; absent pixels 0
    res = 4
    cells = spark.createDataFrame(
        [(-1, -1, 9), (0, 0, 5), (3, 3, 7), (4, 0, 2)],
        "gx long, gy long, value long",
    )
    got = {
        (r["tx"], r["ty"]): list(r["counts"])
        for r in raster.sparse_to_tiles(cells, res=res).collect()
    }
    assert got[(-1, -1)][3 * res + 3] == 9
    t00 = got[(0, 0)]
    assert t00[0] == 5 and t00[3 * res + 3] == 7 and sum(t00) == 12
    assert got[(1, 0)][0] == 2


def test_rasterize_feeds_zonal_crosstab(spark):
    # the composition the operator exists for: polygon zones x value raster
    zones_polys = _burn_df(spark, [
        (1, [[(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0)]], 1, 0),
        (2, [[(4.0, 0.0), (8.0, 0.0), (8.0, 4.0), (4.0, 4.0)]], 2, 0),
    ])
    zones = raster.sparse_to_tiles(
        raster.rasterize_polygons(
            zones_polys, 8.0, 8, rings_col="rings", value_col="v"
        ),
        res=8,
    )
    pts = spark.createDataFrame(
        [(0.5, 0.5), (1.5, 0.5), (5.5, 2.5), (5.5, 2.5)], "x double, y double"
    )
    values = raster.heatmap_tiles(pts, 8.0, 8)
    got = {
        (r["zone"], r["value"]): r["n_cells"]
        for r in raster.zonal_crosstab(zones, values, res=8).collect()
    }
    # zone 1 is 16 cells (2 with a point), zone 2 is 16 (1 with 2 points)
    assert got[(1, 1)] == 2 and got[(1, 0)] == 14
    assert got[(2, 2)] == 1 and got[(2, 0)] == 15


# ---------------------------------------------------------------------------
# zonal statistics (per-zone stats of a value raster)
# ---------------------------------------------------------------------------
def test_zonal_stats_tiles_matches_python_and_duckdb(spark):
    import duckdb

    rng = random.Random(17)
    res = 5
    keys = {(0, 0), (1, 2), (-2, 1)}
    zones = _rand_tile_map(rng, res, keys, lo=0, hi=3)
    values = _rand_tile_map(rng, res, keys, lo=0, hi=9)
    got = {
        r["zone"]: (r["n_cells"], r["vsum"], r["vmin"], r["vmax"])
        for r in raster.zonal_stats_tiles(
            _tiles_df(spark, zones), _tiles_df(spark, values), res=res
        ).collect()
    }
    want = {}
    for k in keys:
        for i in range(res * res):
            z, v = zones[k][i], values[k][i]
            if z == 0:
                continue
            n, s, mn, mx = want.get(z, (0, 0, 10**9, -1))
            want[z] = (n + 1, s + v, min(mn, v), max(mx, v))
    assert got == want
    con = duckdb.connect()
    for name, tiles in (("zt", zones), ("vt", values)):
        con.execute(f"CREATE TABLE {name}(tx BIGINT, ty BIGINT, counts BIGINT[])")
        con.executemany(
            f"INSERT INTO {name} VALUES (?, ?, ?)",
            [(tx, ty, g) for (tx, ty), g in tiles.items()],
        )
    dd = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute(
            raster.zonal_stats_tiles_sql("zt", "vt", res)
        ).fetchall()
    }
    assert got == dd


def test_zonal_stats_over_polygon_zones(spark):
    # the full composition: burn polygon zones, take stats of a value raster
    zones_polys = _burn_df(spark, [
        (1, [[(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0)]], 1, 0),
        (2, [[(4.0, 0.0), (8.0, 0.0), (8.0, 4.0), (4.0, 4.0)]], 2, 0),
    ])
    zones = raster.sparse_to_tiles(
        raster.rasterize_polygons(
            zones_polys, 8.0, 8, rings_col="rings", value_col="v"
        ),
        res=8,
    )
    pts = spark.createDataFrame(
        [(0.5, 0.5)] * 3 + [(5.5, 2.5)] * 7, "x double, y double"
    )
    values = raster.heatmap_tiles(pts, 8.0, 8)
    got = {
        r["zone"]: (r["n_cells"], r["vsum"], r["vmax"])
        for r in raster.zonal_stats_tiles(zones, values, res=8).collect()
    }
    assert got == {1: (16, 3, 3), 2: (16, 7, 7)}


# ---------------------------------------------------------------------------
# kernel density estimation (bin + integer stencil)
# ---------------------------------------------------------------------------
def test_kde_matches_python_and_scatter(spark):
    rng = random.Random(41)
    s, res, r = 8.0, 8, 2
    rows = [(rng.uniform(0, 16), rng.uniform(0, 16)) for _ in range(400)]
    df = spark.createDataFrame(rows, "x double, y double")
    got = {
        (row["tx"], row["ty"]): list(row["counts"])
        for row in raster.kde_tiles(df, s, res, radius=r).collect()
    }
    # python oracle: bin then correlate with the integer parabola, zero pad
    pitch = s / res
    binned = {}
    for x, y in rows:
        gx, gy = int(x // pitch), int(y // pitch)
        binned[(gx, gy)] = binned.get((gx, gy), 0) + 1
    w = raster.kde_weights(r)
    assert w[(0, 0)] == r * r + 1 and w[(r, 0)] == 1 and (r, r) not in w
    for (tx, ty), grid in got.items():
        for i, v in enumerate(grid):
            gx, gy = tx * res + i % res, ty * res + i // res
            want = sum(
                wt * binned.get((gx + dx, gy + dy), 0)
                for (dx, dy), wt in w.items()
            )
            assert v == want, (gx, gy, v, want)
    # gaussian weights: symmetric, positive, center-heavy
    gw = raster.kde_weights(3, kernel="gaussian")
    assert gw[(0, 0)] == 1000 and gw[(1, 0)] == gw[(0, 1)] == gw[(-1, 0)]
    assert gw[(0, 0)] > gw[(1, 1)] > gw[(3, 0)] > 0


# ---------------------------------------------------------------------------
# region perimeter / compactness + zonal categorical stats
# ---------------------------------------------------------------------------
def _py_perimeters(tiles, res, classify, conn=4):
    """region_id -> exposed-rook-edge count (= 4n - 2*internal pairs)."""
    cells = {}
    for (tx, ty), g in tiles.items():
        for i, v in enumerate(g):
            if v:
                c = classify(v)
                if c is not None:
                    cells[(tx * res + i % res, ty * res + i // res)] = c
    nbrs = [(1, 0), (-1, 0), (0, 1), (0, -1)]
    alln = nbrs + ([(1, 1), (-1, -1), (1, -1), (-1, 1)] if conn == 8 else [])
    seen, out = set(), {}
    for start in cells:
        if start in seen:
            continue
        seen.add(start)
        stack, members = [start], {start}
        while stack:
            cur = stack.pop()
            for dx, dy in alln:
                nxt = (cur[0] + dx, cur[1] + dy)
                if (nxt in cells and nxt not in seen
                        and cells[nxt] == cells[cur]):
                    seen.add(nxt)
                    stack.append(nxt)
                    members.add(nxt)
        rid = min((gx + _OFF) * _K + (gy + _OFF) for gx, gy in members)
        peri = 0
        for gx, gy in members:
            for dx, dy in nbrs:
                if (gx + dx, gy + dy) not in members:
                    peri += 1
        out[rid] = peri
    return out


@pytest.mark.parametrize("conn", [4, 8])
def test_region_perimeter_matches_oracle(spark, conn):
    rng = random.Random(31)
    res = 6
    tiles = {
        (tx, ty): [
            rng.randint(0, 9) if rng.random() < 0.6 else 0
            for _ in range(res * res)
        ]
        for tx in range(2) for ty in range(2)
    }
    out = raster.raster_regions(
        _mk_tiles(spark, tiles).repartition(3), res, connectivity=conn
    ).collect()
    want = _py_perimeters(tiles, res, lambda v: 1, conn=conn)
    import math as _m

    for r in out:
        assert r["perimeter"] == want[r["region_id"]], r["region_id"]
        assert r["compactness"] == pytest.approx(
            4.0 * _m.pi * r["n_cells"] / r["perimeter"] ** 2, rel=1e-12
        )
    # closed forms: a lone cell has perimeter 4; a 2x2 square 8,
    # compactness pi/4
    g = [0] * 16
    g[0] = 5
    g[2 * 4 + 2] = g[2 * 4 + 3] = g[3 * 4 + 2] = g[3 * 4 + 3] = 7
    rows = {
        r["n_cells"]: r
        for r in raster.raster_regions(
            _mk_tiles(spark, {(0, 0): g}), 4
        ).collect()
    }
    assert rows[1]["perimeter"] == 4
    assert rows[4]["perimeter"] == 8
    assert rows[4]["compactness"] == pytest.approx(_m.pi / 4.0)


def test_zonal_categorical_oracle_and_twin(spark):
    import duckdb

    rng = random.Random(33)
    res = 4
    zt, vt = {}, {}
    for tx in range(2):
        for ty in range(2):
            zt[(tx, ty)] = [rng.randint(0, 3) for _ in range(res * res)]
            vt[(tx, ty)] = [rng.randint(0, 5) for _ in range(res * res)]
    got = {
        r["zone"]: (r["variety"], r["majority"], r["majority_n"],
                    r["minority"], r["minority_n"])
        for r in raster.zonal_categorical(
            _mk_tiles(spark, zt), _mk_tiles(spark, vt), res
        ).collect()
    }
    # python oracle
    from collections import Counter

    per_zone = {}
    for (tx, ty), zg in zt.items():
        vg = vt[(tx, ty)]
        for i, z in enumerate(zg):
            if z != 0:
                per_zone.setdefault(z, Counter())[vg[i]] += 1
    want = {}
    for z, cnt in per_zone.items():
        maj = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        mnr = min(cnt.items(), key=lambda kv: (kv[1], kv[0]))
        want[z] = (len(cnt), maj[0], maj[1], mnr[0], mnr[1])
    assert got == want
    con = duckdb.connect()
    con.execute("CREATE TABLE zt (tx BIGINT, ty BIGINT, counts BIGINT[])")
    con.execute("CREATE TABLE vt (tx BIGINT, ty BIGINT, counts BIGINT[])")
    for (tx, ty), g in zt.items():
        con.execute("INSERT INTO zt VALUES (?, ?, ?)", [tx, ty, g])
    for (tx, ty), g in vt.items():
        con.execute("INSERT INTO vt VALUES (?, ?, ?)", [tx, ty, g])
    twin = {
        r[0]: tuple(r[1:])
        for r in con.execute(
            raster.zonal_categorical_sql("zt", "vt", res)
        ).fetchall()
    }
    assert twin == want
