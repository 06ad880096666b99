"""engine.terrain: Horn gradients (the fused halo plan vs the Python
oracle, exact int64) + slope/aspect/hillshade float view (numpy parity,
closed forms on ramps and flats)."""

import math
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from engine import terrain
from engine.session import local_relation
from tests.conftest import spark  # noqa: F401


def _rand_tiles(rng, res, n_tiles, span=3, density=0.5):
    keys = set()
    while len(keys) < n_tiles:
        keys.add((rng.randint(-span, span), rng.randint(-span, span)))
    tiles = {}
    for k in keys:
        tiles[k] = [
            rng.randint(1, 999) if rng.random() < density else 0
            for _ in range(res * res)
        ]
    tiles[next(iter(tiles))] = [0] * (res * res)
    return tiles


def _mk_df(spark, tiles):
    return spark.createDataFrame(
        [(tx, ty, grid) for (tx, ty), grid in tiles.items()],
        "tx long, ty long, counts array<long>",
    )


def _py_gradients(tiles, res):
    """Python oracle: Horn numerators with zero padding outside the tile
    union, y up."""
    cells = {}
    for (tx, ty), grid in tiles.items():
        for pix, n in enumerate(grid):
            cells[(tx * res + pix % res, ty * res + pix // res)] = n
    out = {}
    for (tx, ty), _grid in tiles.items():
        gxs = [0] * (res * res)
        gys = [0] * (res * res)
        for py in range(res):
            for px in range(res):
                x, y = tx * res + px, ty * res + py

                def z(dx, dy):
                    return cells.get((x + dx, y + dy), 0)

                gxs[py * res + px] = (
                    z(1, -1) + 2 * z(1, 0) + z(1, 1)
                    - z(-1, -1) - 2 * z(-1, 0) - z(-1, 1)
                )
                gys[py * res + px] = (
                    z(-1, 1) + 2 * z(0, 1) + z(1, 1)
                    - z(-1, -1) - 2 * z(0, -1) - z(1, -1)
                )
        out[(tx, ty)] = (gxs, gys)
    return out


def _collect_grads(df):
    return {
        (r["tx"], r["ty"]): (list(r["dzdx8"]), list(r["dzdy8"]))
        for r in df.collect()
    }


# Halo exchange is the one terrain-stencil plan; the "[halo]" case ids
# name it.
halo_plan = pytest.mark.parametrize("plan", ["halo"])


@halo_plan
def test_gradients_match_python_oracle(spark, plan):
    rng = random.Random(411)
    res = 8
    tiles = _rand_tiles(rng, res, 10)
    df = _mk_df(spark, tiles).repartition(5)
    got = _collect_grads(terrain.terrain_gradients(df, res))
    want = _py_gradients(tiles, res)
    assert got == want


def test_halo_equals_scatter(spark):
    """res 16 over 7 partitions: the fused halo pass still equals the
    Python oracle."""
    rng = random.Random(412)
    res = 16
    tiles = _rand_tiles(rng, res, 14, span=5, density=0.4)
    df = _mk_df(spark, tiles).repartition(7)
    got = _collect_grads(terrain.terrain_gradients(df, res))
    assert got == _py_gradients(tiles, res)


def test_ramp_closed_form(spark):
    """z = 7x on a 3x3 block of tiles: interior pixels have dzdx8 = 8*7 = 56,
    dzdy8 = 0 -> slope = atan(7), aspect = west (descent toward -x: 3 pi/2
    clockwise from north), hillshade = closed form."""
    res = 8
    tiles = {
        (tx, ty): [
            7 * (tx * res + pix % res + 100) for pix in range(res * res)
        ]
        for tx in (0, 1, 2)
        for ty in (0, 1, 2)
    }
    df = _mk_df(spark, tiles)
    grads = terrain.terrain_gradients(df, res)
    out = terrain.slope_aspect_hillshade(grads)
    rows = {(r["tx"], r["ty"]): r for r in out.collect()}
    r = rows[(1, 1)]  # fully interior tile
    assert all(v == 56 for v in r["dzdx8"])
    assert all(v == 0 for v in r["dzdy8"])
    p = 56 / 8.0
    slope = math.atan(math.hypot(p, 0.0))
    az, alt = math.radians(315.0), math.radians(45.0)
    shade = 255.0 * max(
        0.0,
        (math.sin(alt) - math.cos(alt) * p * math.sin(az))
        / math.sqrt(1.0 + p * p),
    )
    assert all(abs(v - slope) < 1e-12 for v in r["slope_rad"])
    assert all(abs(v - (3 * math.pi / 2)) < 1e-12 for v in r["aspect_rad"])
    assert all(abs(v - shade) < 1e-9 for v in r["hillshade"])


def test_flat_field(spark):
    """Constant elevation: interior gradients 0, slope 0, aspect -1 flag,
    hillshade = 255 sin(alt)."""
    res = 8
    tiles = {
        (tx, ty): [500] * (res * res) for tx in (0, 1, 2) for ty in (0, 1, 2)
    }
    df = _mk_df(spark, tiles)
    out = terrain.slope_aspect_hillshade(
        terrain.terrain_gradients(df, res), altitude_deg=60.0
    )
    r = {(row["tx"], row["ty"]): row for row in out.collect()}[(1, 1)]
    assert all(v == 0 for v in r["dzdx8"]) and all(v == 0 for v in r["dzdy8"])
    assert all(v == 0.0 for v in r["slope_rad"])
    assert all(v == -1.0 for v in r["aspect_rad"])
    want = 255.0 * math.sin(math.radians(60.0))
    assert all(abs(v - want) < 1e-9 for v in r["hillshade"])


def test_float_view_matches_numpy(spark):
    """slope/aspect/hillshade vs a straight numpy evaluation of the same
    formulas over the exact integer gradients, incl. z_factor/cellsize."""
    rng = random.Random(413)
    res = 8
    tiles = _rand_tiles(rng, res, 6, density=0.7)
    df = _mk_df(spark, tiles)
    cellsize, zf, azd, altd = 30.0, 2.0, 200.0, 35.0
    out = terrain.slope_aspect_hillshade(
        terrain.terrain_gradients(df, res),
        cellsize=cellsize, z_factor=zf, azimuth_deg=azd, altitude_deg=altd,
    )
    for r in out.collect():
        a8 = np.array(r["dzdx8"], dtype=np.float64)
        b8 = np.array(r["dzdy8"], dtype=np.float64)
        p = a8 * (zf / (8.0 * cellsize))
        q = b8 * (zf / (8.0 * cellsize))
        az, alt = math.radians(azd), math.radians(altd)
        slope = np.arctan(np.sqrt(p * p + q * q))
        aspect = np.where(
            (a8 == 0) & (b8 == 0),
            -1.0,
            np.mod(np.arctan2(-p, -q), 2.0 * math.pi),
        )
        cang = (math.sin(alt) - math.cos(alt) * (
            p * math.sin(az) + q * math.cos(az)
        )) / np.sqrt(1.0 + p * p + q * q)
        shade = 255.0 * np.maximum(cang, 0.0)
        assert np.allclose(r["slope_rad"], slope, atol=1e-12)
        assert np.allclose(r["aspect_rad"], aspect, atol=1e-12)
        assert np.allclose(r["hillshade"], shade, atol=1e-9)


def test_hillshade_range_and_sun_direction(spark):
    """Hillshade stays in [0, 255]; a slope FACING the sun (descending
    toward the azimuth) shades brighter than flat, the opposite slope
    darker."""
    res = 8
    # z = -5x: descends toward +x (east). Sun from the east (az=90) should
    # brighten it; sun from the west (az=270) should darken it vs flat.
    tiles = {
        (tx, 0): [
            -5 * (tx * res + pix % res) for pix in range(res * res)
        ]
        for tx in (0, 1, 2)
    }
    df = _mk_df(spark, tiles)
    grads = terrain.terrain_gradients(df, res)
    flat = 255.0 * math.sin(math.radians(45.0))
    east = terrain.slope_aspect_hillshade(grads, azimuth_deg=90.0)
    west = terrain.slope_aspect_hillshade(grads, azimuth_deg=270.0)
    r_e = {(r["tx"], r["ty"]): r for r in east.collect()}[(1, 0)]
    r_w = {(r["tx"], r["ty"]): r for r in west.collect()}[(1, 0)]
    # interior rows of the middle tile (tile edges in y see the 0 padding)
    mid = [py * res + px for py in (2, 3, 4, 5) for px in range(res)]
    assert all(0.0 <= v <= 255.0 for v in r_e["hillshade"])
    assert all(r_e["hillshade"][i] > flat for i in mid)
    assert all(r_w["hillshade"][i] < flat for i in mid)


def _py_d8(tiles, res):
    """Python oracle for d8_flow: presence-masked steepest descent with the
    exact 2*drop^2 / drop^2 key and E,NE,N,NW,W,S,SW,SE priority."""
    nbrs = [
        (1, 0, True), (1, 1, False), (0, 1, True), (-1, 1, False),
        (-1, 0, True), (0, -1, True), (-1, -1, False), (1, -1, False),
    ]
    cells = {}
    for (tx, ty), grid in tiles.items():
        for pix, n in enumerate(grid):
            cells[(tx * res + pix % res, ty * res + pix // res)] = n
    out = {}
    for (tx, ty), grid in tiles.items():
        dirs = [0] * (res * res)
        keys = [0] * (res * res)
        for py in range(res):
            for px in range(res):
                x, y = tx * res + px, ty * res + py
                z = cells[(x, y)]
                bk, bd = 0, -1
                for i, (dx, dy, orth) in enumerate(nbrs):
                    if (x + dx, y + dy) not in cells:
                        continue
                    drop = z - cells[(x + dx, y + dy)]
                    key = drop * drop * (2 if orth else 1)
                    if drop > 0 and key > bk:
                        bk, bd = key, i
                dirs[py * res + px] = bd
                keys[py * res + px] = bk
        out[(tx, ty)] = (dirs, keys)
    return out


def test_d8_matches_python_oracle(spark):
    rng = random.Random(414)
    res = 8
    tiles = _rand_tiles(rng, res, 9, span=3, density=0.6)
    df = _mk_df(spark, tiles).repartition(5)
    got = {
        (r["tx"], r["ty"]): (list(r["d8_dir"]), list(r["d8_key"]))
        for r in terrain.d8_flow(df, res).collect()
    }
    assert got == _py_d8(tiles, res)


def test_d8_plane_flows_sw(spark):
    """z = 3x + 5y: interior steepest descent is the SW diagonal (key 64
    beats W's 18 and S's 50)."""
    res = 8
    tiles = {
        (tx, ty): [
            3 * (tx * res + pix % res) + 5 * (ty * res + pix // res)
            for pix in range(res * res)
        ]
        for tx in (0, 1, 2)
        for ty in (0, 1, 2)
    }
    df = _mk_df(spark, tiles)
    r = {
        (row["tx"], row["ty"]): row
        for row in terrain.d8_flow(df, res).collect()
    }[(1, 1)]
    assert all(v == 6 for v in r["d8_dir"])  # SW is priority index 6
    assert all(v == 64 for v in r["d8_key"])


def test_d8_mask_no_flow_off_raster(spark):
    """A single constant tile: zero padding outside would read as a cliff,
    but the presence mask forbids flowing off the raster -> all sinks."""
    res = 8
    df = _mk_df(spark, {(0, 0): [400] * (res * res)})
    r = terrain.d8_flow(df, res).collect()[0]
    assert all(v == -1 for v in r["d8_dir"])
    assert all(v == 0 for v in r["d8_key"])


def test_basins_two_valleys(spark):
    """z = 5*|2x - 7| on one tile: columns 0-2 flow E toward the x=3 sink
    column, 5-7 flow W toward x=4; rows never link (flat in y), so each row
    splits into exactly 2 basins of 4 cells -> 16 basins, labels = the
    packed ids of the (0, y) / (4, y) cells (min id in each chain)."""
    res = 8
    grid = [5 * abs(2 * (pix % res) - 7) for pix in range(res * res)]
    df = _mk_df(spark, {(0, 0): grid})
    flow = terrain.d8_flow(df, res)
    b = terrain.basins(flow, res).collect()
    assert len(b) == res * res
    from collections import Counter

    sizes = Counter(r["basin"] for r in b)
    assert len(sizes) == 16 and set(sizes.values()) == {4}
    pack = lambda x, y: (x + (1 << 20)) * (1 << 32) + (y + (1 << 20))  # noqa: E731
    want_labels = {pack(0, y) for y in range(res)} | {
        pack(4, y) for y in range(res)
    }
    assert set(sizes) == want_labels


def test_basins_jump_matches_cc_partition(spark):
    """basins() partitions the cells exactly as a Python walk of each cell's
    D8 path to its sink does, labelled by each basin's minimum packed id."""
    rng = random.Random(415)
    res = 8
    tiles = _rand_tiles(rng, res, 6, span=2, density=0.8)
    df = _mk_df(spark, tiles)
    flow = terrain.d8_flow(df, res)
    groups = {}
    for r in terrain.basins(flow, res).collect():
        groups.setdefault(r["basin"], set()).add((r["gx"], r["gy"]))
    want = {}
    for c, sink in _py_sinks(_py_down(tiles, res)).items():
        want.setdefault(sink, set()).add(c)
    pack = lambda x, y: (x + (1 << 20)) * (1 << 32) + (y + (1 << 20))  # noqa: E731
    assert groups == {min(pack(*c) for c in g): g for g in want.values()}


def test_basins_jump_sink_labels(spark):
    """Sink-labelled basins come from catchments with every sink as an
    outlet: the two-valley tile's rows drain to (3, y) and (4, y)."""
    res = 8
    grid = [5 * abs(2 * (pix % res) - 7) for pix in range(res * res)]
    df = _mk_df(spark, {(0, 0): grid})
    sinks = [(x, y) for x in (3, 4) for y in range(res)]
    b = terrain.catchments(terrain.d8_flow(df, res), res, sinks).collect()
    assert len(b) == res * res
    assert {(r["outlet_gx"], r["outlet_gy"]) for r in b} == set(sinks)
    # every cell's outlet is its own row's sink column
    for r in b:
        sink_x = 3 if r["gx"] <= 3 else 4
        assert (r["outlet_gx"], r["outlet_gy"]) == (sink_x, r["gy"])


def _py_flow_acc(tiles, res):
    """Global flow-accumulation oracle: walk every cell's full flow path,
    counting visits (O(n * depth) — oracle-only)."""
    d8 = _py_d8(tiles, res)
    nbr = [(1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0), (0, -1), (-1, -1), (1, -1)]
    down = {}
    for (tx, ty), (dirs, _k) in d8.items():
        for pix, d in enumerate(dirs):
            x, y = tx * res + pix % res, ty * res + pix // res
            down[(x, y)] = (x + nbr[d][0], y + nbr[d][1]) if d >= 0 else None
    acc = {c: 0 for c in down}
    for c in down:
        cur = c
        while cur is not None:
            acc[cur] += 1
            cur = down[cur]
    return acc


def _collect_acc(df, res):
    out = {}
    for r in df.collect():
        for pix, a in enumerate(r["acc"]):
            out[(r["tx"] * res + pix % res, r["ty"] * res + pix // res)] = a
    return out


@pytest.mark.parametrize("stage2", ["driver", "distributed"])
def test_flow_accumulation_matches_python_oracle(spark, stage2):
    """Both stage-2 regimes (driver-collected contracted forest vs the
    distributed delta-push) against the global python oracle."""
    rng = random.Random(416)
    res = 8
    tiles = _rand_tiles(rng, res, 9, span=3, density=0.6)
    df = _mk_df(spark, tiles).repartition(5)
    acc = terrain.flow_accumulation(
        terrain.d8_flow(df, res), res, stage2=stage2
    )
    assert _collect_acc(acc, res) == _py_flow_acc(tiles, res)


def test_flow_accumulation_partition_invariance(spark):
    """The same 32x32 global field tiled at res 8 vs res 16 accumulates
    identically per global cell — the cross-tile stages are exact."""
    rng = random.Random(417)
    field = {
        (x, y): rng.randint(1, 999) for x in range(32) for y in range(32)
    }

    def tiled(res):
        span = 32 // res
        return {
            (tx, ty): [
                field[(tx * res + pix % res, ty * res + pix // res)]
                for pix in range(res * res)
            ]
            for tx in range(span)
            for ty in range(span)
        }

    accs = {}
    for res in (8, 16):
        df = _mk_df(spark, tiled(res))
        accs[res] = _collect_acc(
            terrain.flow_accumulation(terrain.d8_flow(df, res), res), res
        )
    assert accs[8] == accs[16]


def test_flow_accumulation_plane_closed_form(spark):
    """z = 3x + 5y on a 32x32 raster: interior cells flow SW, so an interior
    cell's upstream set is its NE diagonal chain — acc = min(31-x, 31-y)+1;
    the single sink (0, 0) accumulates the whole raster."""
    res = 8
    tiles = {
        (tx, ty): [
            3 * (tx * res + pix % res) + 5 * (ty * res + pix // res)
            for pix in range(res * res)
        ]
        for tx in range(4)
        for ty in range(4)
    }
    acc = _collect_acc(
        terrain.flow_accumulation(
            terrain.d8_flow(_mk_df(spark, tiles), res), res
        ),
        res,
    )
    for x in range(1, 32):
        for y in range(1, 32):
            assert acc[(x, y)] == min(31 - x, 31 - y) + 1, (x, y)
    assert acc[(0, 0)] == 32 * 32


def test_flow_accumulation_all_sinks(spark):
    """A constant lone tile is all sinks: every acc is exactly 1."""
    res = 8
    df = _mk_df(spark, {(0, 0): [400] * (res * res)})
    acc = terrain.flow_accumulation(terrain.d8_flow(df, res), res)
    assert [r["acc"] for r in acc.collect()] == [[1] * (res * res)]


def test_stream_cells_threshold(spark):
    rng = random.Random(418)
    res = 8
    tiles = _rand_tiles(rng, res, 4, span=2, density=0.7)
    oracle = _py_flow_acc(tiles, res)
    acc = terrain.flow_accumulation(
        terrain.d8_flow(_mk_df(spark, tiles), res), res
    )
    got = {
        (r["gx"], r["gy"]): r["acc"]
        for r in terrain.stream_cells(acc, res, threshold=3).collect()
    }
    assert got == {c: a for c, a in oracle.items() if a >= 3}


def test_flow_accumulation_weighted(spark):
    """weight_col accumulates arbitrary int64 per-cell mass: oracle walks
    every cell's path adding the SOURCE cell's weight to each visited cell;
    all-ones weights reproduce the unweighted operator exactly."""
    rng = random.Random(419)
    res = 8
    tiles = _rand_tiles(rng, res, 6, span=2, density=0.6)
    weights = {
        k: [rng.randint(0, 9) for _ in range(res * res)] for k in tiles
    }
    df = spark.createDataFrame(
        [(tx, ty, grid, weights[(tx, ty)]) for (tx, ty), grid in tiles.items()],
        "tx long, ty long, counts array<long>, wt array<long>",
    )
    flow = terrain.d8_flow(df, res).join(
        df.select("tx", "ty", "wt"), ["tx", "ty"]
    )
    got = _collect_acc(
        terrain.flow_accumulation(flow, res, weight_col="wt"), res
    )
    # weighted oracle
    d8 = _py_d8(tiles, res)
    nbr = [(1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0), (0, -1), (-1, -1), (1, -1)]
    down, wt = {}, {}
    for (tx, ty), (dirs, _k) in d8.items():
        for pix, d in enumerate(dirs):
            x, y = tx * res + pix % res, ty * res + pix // res
            down[(x, y)] = (x + nbr[d][0], y + nbr[d][1]) if d >= 0 else None
            wt[(x, y)] = weights[(tx, ty)][pix]
    want = {c: 0 for c in down}
    for c in down:
        cur = c
        while cur is not None:
            want[cur] += wt[c]
            cur = down[cur]
    assert got == want
    # the driver twin (a flow frame that is a local relation runs all
    # three stages on the driver) gives the distributed answer,
    # on a 2x2 tile block so that flow crosses tiles
    blk = spark.createDataFrame(
        [(tx, ty, [rng.randint(0, 9) for _ in range(res * res)],
          [rng.randint(0, 9) for _ in range(res * res)])
         for tx in (0, 1) for ty in (0, 1)],
        "tx long, ty long, counts array<long>, wt array<long>",
    )
    flow = terrain.d8_flow(blk, res).join(
        blk.select("tx", "ty", "wt"), ["tx", "ty"]
    )
    dist = _collect_acc(
        terrain.flow_accumulation(flow, res, weight_col="wt"), res
    )
    flow = local_relation(spark, flow.toArrow(), flow.schema)
    drv = terrain.flow_accumulation(flow, res, weight_col="wt")
    assert drv._jdf.queryExecution().executedPlan().toString().startswith(
        "LocalTableScan"
    )
    assert _collect_acc(drv, res) == dist
    # ones == unweighted
    ones = df.withColumn("wt", F.expr(f"array_repeat(1L, {res * res})"))
    flow1 = terrain.d8_flow(ones, res).join(
        ones.select("tx", "ty", "wt"), ["tx", "ty"]
    )
    a = _collect_acc(terrain.flow_accumulation(flow1, res, weight_col="wt"), res)
    b = _collect_acc(terrain.flow_accumulation(terrain.d8_flow(df, res), res), res)
    assert a == b


def _py_down(tiles, res):
    d8 = _py_d8(tiles, res)
    nbr = [(1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0), (0, -1), (-1, -1), (1, -1)]
    down = {}
    for (tx, ty), (dirs, _k) in d8.items():
        for pix, d in enumerate(dirs):
            x, y = tx * res + pix % res, ty * res + pix // res
            down[(x, y)] = (x + nbr[d][0], y + nbr[d][1]) if d >= 0 else None
    return down


def _py_sinks(down):
    """{cell: the sink its D8 path ends at} by walking `down`."""
    out = {}
    for c in down:
        cur = c
        while down[cur] is not None:
            cur = down[cur]
        out[c] = cur
    return out


def test_catchments_first_outlet_oracle(spark):
    """Random terrain + random pour points: every cell maps to the FIRST
    outlet on its downstream path (itself if it is an outlet); cells
    reaching a natural sink without crossing an outlet are omitted.
    Random outlets land on each other's paths, so nesting is exercised."""
    rng = random.Random(421)
    res = 8
    tiles = _rand_tiles(rng, res, 6, span=2, density=0.7)
    down = _py_down(tiles, res)
    outlets = rng.sample(sorted(down), 25)
    oset = set(outlets)
    want = {}
    for c in down:
        cur = c
        while cur is not None and cur not in oset:
            cur = down[cur]
        if cur is not None:
            want[c] = cur
    flow = terrain.d8_flow(_mk_df(spark, tiles), res)
    got = {
        (r["gx"], r["gy"]): (r["outlet_gx"], r["outlet_gy"])
        for r in terrain.catchments(flow, res, outlets).collect()
    }
    assert got == want


def test_catchments_nested_outlets(spark):
    """Deterministic nesting: on a z = x + y plane every cell flows SW along
    its diagonal; outlets at (5,5) and (2,2) on the main diagonal split it
    into upstream-of-A -> A, between -> B, below-B -> omitted."""
    res = 8
    grid = [10 * (pix % res + pix // res) for pix in range(res * res)]
    flow = terrain.d8_flow(_mk_df(spark, {(0, 0): grid}), res)
    got = {
        (r["gx"], r["gy"]): (r["outlet_gx"], r["outlet_gy"])
        for r in terrain.catchments(flow, res, [(5, 5), (2, 2)]).collect()
    }
    diag = {(i, i): got.get((i, i)) for i in range(res)}
    assert diag[(7, 7)] == diag[(6, 6)] == diag[(5, 5)] == (5, 5)
    assert diag[(4, 4)] == diag[(3, 3)] == diag[(2, 2)] == (2, 2)
    assert diag[(1, 1)] is None and diag[(0, 0)] is None
    # only diagonal cells at or above an outlet are assigned at all
    assert set(got) == {(i, i) for i in range(2, res)}


def test_catchments_all_sinks_reproduce_basins(spark):
    """Outlets = the full natural-sink set -> every cell reports the sink
    its D8 path ends at (the Python walk of _py_down)."""
    rng = random.Random(422)
    res = 8
    tiles = _rand_tiles(rng, res, 5, span=2, density=0.8)
    down = _py_down(tiles, res)
    sinks = [c for c, d in down.items() if d is None]
    flow = terrain.d8_flow(_mk_df(spark, tiles), res)
    got = {
        (r["gx"], r["gy"]): (r["outlet_gx"], r["outlet_gy"])
        for r in terrain.catchments(flow, res, sinks).collect()
    }
    assert set(got) == set(down)  # every cell drains to some sink
    assert got == _py_sinks(down)


def _py_cost_dijkstra(cost, sources, max_cost=None):
    """Oracle: Dijkstra over the octile-integer metric. cost: {(x,y): c>0}
    (barriers absent). Returns {(sx,sy,x,y): (dist, hops)} with the
    fewest-hops tie-break among shortest paths."""
    import heapq

    fwd = [(1, 0, 5), (1, 1, 7), (0, 1, 5), (-1, 1, 7),
           (-1, 0, 5), (-1, -1, 7), (0, -1, 5), (1, -1, 7)]
    out = {}
    for s in sources:
        if s not in cost:
            continue
        best = {s: (0, 0)}
        pq = [(0, 0, s)]
        while pq:
            d, h, u = heapq.heappop(pq)
            if best.get(u, (1 << 60, 0)) < (d, h):
                continue
            for dx, dy, k in fwd:
                v = (u[0] + dx, u[1] + dy)
                if v not in cost:
                    continue
                nd = d + (cost[u] + cost[v]) * k
                if max_cost is not None and nd > max_cost:
                    continue
                cand = (nd, h + 1)
                if cand < best.get(v, (1 << 60, 1 << 60)):
                    best[v] = cand
                    heapq.heappush(pq, (nd, h + 1, v))
        for (x, y), (d, h) in best.items():
            out[(s[0], s[1], x, y)] = (d, h)
    return out


def _cost_tiles_df(spark, tiles, res):
    return spark.createDataFrame(
        [(tx, ty, grid) for (tx, ty), grid in tiles.items()],
        "tx long, ty long, cost array<long>",
    )


def test_cost_distance_matches_dijkstra(spark):
    """Random friction raster with barriers (cost 0) across tiles: exact
    (dist, hops) parity with a lexicographic Dijkstra oracle."""
    rng = random.Random(431)
    res = 8
    tiles = {}
    for k in [(0, 0), (1, 0), (0, 1)]:
        tiles[k] = [
            0 if rng.random() < 0.25 else rng.randint(1, 9)
            for _ in range(res * res)
        ]
    cost = {}
    for (tx, ty), grid in tiles.items():
        for pix, c in enumerate(grid):
            if c > 0:
                cost[(tx * res + pix % res, ty * res + pix // res)] = c
    sources = rng.sample(sorted(cost), 3)
    got = {
        (r["source_gx"], r["source_gy"], r["gx"], r["gy"]): (r["dist"], r["hops"])
        for r in terrain.cost_distance(
            _cost_tiles_df(spark, tiles, res), res, sources, max_rounds=256
        ).collect()
    }
    assert got == _py_cost_dijkstra(cost, sources)


def test_cost_distance_octile_closed_form(spark):
    """Uniform cost-1 plane: dist((dx,dy)) = 14*min+10*(max-min) exactly."""
    res = 8
    tiles = {(0, 0): [1] * (res * res)}
    got = {
        (r["gx"], r["gy"]): r["dist"]
        for r in terrain.cost_distance(
            _cost_tiles_df(spark, tiles, res), res, [(3, 3)], max_rounds=64
        ).collect()
    }
    assert len(got) == res * res
    for (x, y), d in got.items():
        ax, ay = abs(x - 3), abs(y - 3)
        assert d == 14 * min(ax, ay) + 10 * (max(ax, ay) - min(ax, ay))


def test_cost_distance_barrier_detour_and_max_cost(spark):
    """A vertical wall forces the wavefront around it; max_cost prunes."""
    res = 8
    grid = [1] * (res * res)
    for y in range(1, res):  # wall at x=4, gap only at y=0
        grid[y * res + 4] = 0
    tiles = {(0, 0): grid}
    df = _cost_tiles_df(spark, tiles, res)
    got = {
        (r["gx"], r["gy"]): r["dist"]
        for r in terrain.cost_distance(df, res, [(2, 7)], max_rounds=256).collect()
    }
    cost = {
        (pix % res, pix // res): 1
        for pix, c in enumerate(grid) if c > 0
    }
    want = _py_cost_dijkstra(cost, [(2, 7)])
    assert got == {(x, y): d for (sx, sy, x, y), (d, h) in want.items()}
    # the wall cell itself is unreachable; the far side costs a detour
    assert (4, 4) not in got
    assert got[(5, 7)] > got[(3, 7)]
    capped = {
        (r["gx"], r["gy"]): r["dist"]
        for r in terrain.cost_distance(
            df, res, [(2, 7)], max_cost=30, max_rounds=256
        ).collect()
    }
    assert capped == {c: d for c, d in got.items() if d <= 30}


def test_least_cost_paths_match_pred_walk_oracle(spark):
    """Random friction raster with barriers: the extracted path equals the
    deterministic predecessor walk (min packed id among (dist, hops)-
    consistent predecessors), realizes dist as the sum of step weights,
    and has exactly hops+1 cells."""
    rng = random.Random(441)
    res = 8
    tiles = {}
    for k in [(0, 0), (1, 0)]:
        tiles[k] = [
            0 if rng.random() < 0.2 else rng.randint(1, 9)
            for _ in range(res * res)
        ]
    cost = {}
    for (tx, ty), grid in tiles.items():
        for pix, c in enumerate(grid):
            if c > 0:
                cost[(tx * res + pix % res, ty * res + pix // res)] = c
    source = sorted(cost)[0]
    labels = {
        (x, y): dh
        for (sx, sy, x, y), dh in _py_cost_dijkstra(cost, [source]).items()
    }
    reachable = sorted(labels)
    dests = rng.sample(reachable, 5)
    fwd = [(1, 0, 5), (1, 1, 7), (0, 1, 5), (-1, 1, 7),
           (-1, 0, 5), (-1, -1, 7), (0, -1, 5), (1, -1, 7)]
    packv = lambda c: (c[0] + (1 << 20)) * (1 << 32) + (c[1] + (1 << 20))  # noqa: E731

    def py_pred(u):
        du, hu = labels[u]
        cands = []
        for dx, dy, k in fwd:
            v = (u[0] + dx, u[1] + dy)
            if v in labels and labels[v][0] + (cost[u] + cost[v]) * k == du \
                    and labels[v][1] + 1 == hu:
                cands.append(v)
        return min(cands, key=packv)

    want = {}
    for dd in dests:
        cur, step = dd, 0
        while True:
            want[(dd[0], dd[1], step)] = cur
            if cur == source:
                break
            cur, step = py_pred(cur), step + 1

    df = _cost_tiles_df(spark, tiles, res)
    got = {
        (r["dest_gx"], r["dest_gy"], r["step"]): (r["gx"], r["gy"])
        for r in terrain.least_cost_paths(
            df, res, source, dests, max_rounds=256
        ).collect()
    }
    assert got == want
    # every path realizes its label exactly
    for dd in dests:
        n = labels[dd][1]
        cells = [got[(dd[0], dd[1], s)] for s in range(n + 1)]
        assert cells[0] == dd and cells[-1] == source
        total = 0
        for u, v in zip(cells, cells[1:]):
            ddx, ddy = v[0] - u[0], v[1] - u[1]
            assert max(abs(ddx), abs(ddy)) == 1
            k = 7 if ddx != 0 and ddy != 0 else 5
            total += (cost[u] + cost[v]) * k
        assert total == labels[dd][0]


def test_least_cost_paths_unreachable_dest_absent(spark):
    res = 8
    grid = [1] * (res * res)
    for y in range(res):  # full wall at x=4: right half unreachable
        grid[y * res + 4] = 0
    df = _cost_tiles_df(spark, {(0, 0): grid}, res)
    got = terrain.least_cost_paths(df, res, (1, 1), [(6, 6), (2, 2)]).collect()
    dests = {(r["dest_gx"], r["dest_gy"]) for r in got}
    assert dests == {(2, 2)}


def test_cost_corridor_octile_closed_form(spark):
    """Uniform plane: slack-0 corridor == cells on SOME least-cost path ==
    {c : oct(a,c) + oct(c,b) == oct(a,b)}; slack widens it strictly."""
    res = 8
    tiles = {(0, 0): [1] * (res * res), (1, 0): [1] * (res * res)}
    a, b = (1, 2), (12, 5)

    def oct_d(p, q):
        ax, ay = abs(p[0] - q[0]), abs(p[1] - q[1])
        return 14 * min(ax, ay) + 10 * (max(ax, ay) - min(ax, ay))

    base = oct_d(a, b)
    cells = [(x, y) for x in range(2 * res) for y in range(res)]
    want0 = {c for c in cells if oct_d(a, c) + oct_d(c, b) == base}
    df = _cost_tiles_df(spark, tiles, res)
    got0 = {
        (r["gx"], r["gy"])
        for r in terrain.cost_corridor(df, res, a, b, max_rounds=256).collect()
    }
    assert got0 == want0
    got20 = {
        (r["gx"], r["gy"])
        for r in terrain.cost_corridor(
            df, res, a, b, slack=20, max_rounds=256
        ).collect()
    }
    want20 = {c for c in cells if oct_d(a, c) + oct_d(c, b) <= base + 20}
    assert got20 == want20
    assert got0 < got20


def _py_viewshed(tiles, res, observers, radius, h_obs=0):
    """Exact-int viewshed oracle sharing the engine's conventions (circular
    range, round-half-away lattice ray, transparent missing cells)."""
    cells = {}
    for (tx, ty), grid in tiles.items():
        for pix, z in enumerate(grid):
            cells[(tx * res + pix % res, ty * res + pix // res)] = z
    vis = {c: 0 for c in cells}
    for ox, oy in observers:
        if (ox, oy) not in cells:
            continue
        zo = cells[(ox, oy)] + h_obs
        for (x, y), zt in cells.items():
            dx, dy = x - ox, y - oy
            dt2 = dx * dx + dy * dy
            if dt2 > radius * radius:
                continue
            D = max(abs(dx), abs(dy))
            ok = True
            for k in range(1, D):
                def rnd(v):
                    s = 1 if v >= 0 else -1
                    return s * ((2 * abs(v) + D) // (2 * D))
                px, py = rnd(k * dx), rnd(k * dy)
                p = (ox + px, oy + py)
                if p not in cells:
                    continue
                a, b = cells[p] - zo, zt - zo
                dp2 = px * px + py * py
                if (a >= 0 and b < 0) or \
                   (a >= 0 and b >= 0 and a * a * dt2 > b * b * dp2) or \
                   (a < 0 and b < 0 and a * a * dt2 < b * b * dp2):
                    ok = False
                    break
            if ok:
                vis[(x, y)] += 1
    return vis


def _collect_vis(df, res):
    out = {}
    for r in df.collect():
        for pix, v in enumerate(r["vis"]):
            out[(r["tx"] * res + pix % res, r["ty"] * res + pix // res)] = v
    return out


def test_viewshed_flat_plane_circle(spark):
    """Flat terrain: visibility == the euclidean disk, across tile seams."""
    res = 8
    tiles = {(tx, ty): [5] * (res * res) for tx in (0, 1) for ty in (0, 1)}
    obs = (7, 8)  # on the seam-adjacent row, disk spans all 4 tiles
    radius = 6
    got = _collect_vis(
        terrain.viewshed(_mk_df(spark, tiles), res, [obs], radius), res
    )
    for (x, y), v in got.items():
        inside = (x - obs[0]) ** 2 + (y - obs[1]) ** 2 <= radius * radius
        assert v == (1 if inside else 0), (x, y, v)


def test_viewshed_wall_shadow_and_mast(spark):
    """A tall wall hides the cells behind it; raising the observer above
    the wall reveals them again."""
    res = 8
    grid = [0] * (res * res)
    for y in range(res):
        grid[y * res + 4] = 100  # wall at x=4
    tiles = {(0, 0): grid}
    df = _mk_df(spark, tiles)
    obs = [(1, 3)]
    low = _collect_vis(terrain.viewshed(df, res, obs, radius=7), res)
    assert low[(4, 3)] == 1       # the wall face is visible
    assert low[(6, 3)] == 0       # behind the wall: hidden
    assert low[(3, 3)] == 1
    high = _collect_vis(
        terrain.viewshed(df, res, obs, radius=7, observer_height=300), res
    )
    assert high[(6, 3)] == 1      # mast clears the wall
    # both match the oracle exactly
    assert low == _py_viewshed(tiles, res, obs, 7)
    assert high == _py_viewshed(tiles, res, obs, 7, h_obs=300)


def test_viewshed_random_terrain_oracle(spark):
    """Random multi-tile terrain with raster holes + 3 observers (one in a
    different tile than its targets, one off-raster): exact oracle parity."""
    rng = random.Random(451)
    res = 8
    tiles = _rand_tiles(rng, res, 5, span=1, density=0.9)
    obs_cells = sorted(
        (tx * res + pix % res, ty * res + pix // res)
        for (tx, ty), grid in tiles.items()
        for pix in range(res * res)
    )
    observers = [obs_cells[3], obs_cells[len(obs_cells) // 2], (999, 999)]
    radius = 7
    got = _collect_vis(
        terrain.viewshed(
            _mk_df(spark, tiles), res, observers, radius, observer_height=2
        ),
        res,
    )
    assert got == _py_viewshed(tiles, res, observers, radius, h_obs=2)
    assert any(v > 0 for v in got.values())


def test_viewshed_validation(spark):
    res = 8
    df = _mk_df(spark, {(0, 0): [0] * (res * res)})
    with pytest.raises(ValueError):
        terrain.viewshed(df, res, [(0, 0)], radius=res + 1)
    with pytest.raises(ValueError):
        terrain.viewshed(df, res, [(0, 0)], radius=0)
    big = spark.range(10).selectExpr("id as gx", "id as gy")
    with pytest.raises(ValueError):
        terrain.viewshed(df, res, big, radius=4, max_observers=5)


def _py_edt(tiles, res, radius):
    """Brute-force bounded squared-EDT oracle: min dist^2 to any present
    nonzero cell within radius, -1 otherwise."""
    cells = {}
    for (tx, ty), grid in tiles.items():
        for pix, z in enumerate(grid):
            cells[(tx * res + pix % res, ty * res + pix // res)] = z
    srcs = [c for c, z in cells.items() if z != 0]
    out = {}
    for (x, y) in cells:
        best = -1
        for (sx, sy) in srcs:
            d2 = (x - sx) ** 2 + (y - sy) ** 2
            if d2 <= radius * radius and (best == -1 or d2 < best):
                best = d2
        out[(x, y)] = best
    return out


def _collect_dist2(df, res):
    out = {}
    for r in df.collect():
        for pix, v in enumerate(r["dist2"]):
            out[(r["tx"] * res + pix % res, r["ty"] * res + pix // res)] = v
    return out


def test_edt_single_source_rings(spark):
    """One source: dist2 == dx^2+dy^2 inside the disk (across seams), -1
    outside."""
    res = 8
    tiles = {(tx, ty): [0] * (res * res) for tx in (0, 1) for ty in (0, 1)}
    tiles[(0, 0)][7 * res + 7] = 42  # source at (7, 7), corner of 4 tiles
    got = _collect_dist2(
        terrain.distance_transform(_mk_df(spark, tiles), res, radius=5), res
    )
    for (x, y), v in got.items():
        d2 = (x - 7) ** 2 + (y - 7) ** 2
        assert v == (d2 if d2 <= 25 else -1), (x, y, v)


def test_edt_random_terrain_oracle(spark):
    """Random sparse multi-tile raster with a hole tile: exact brute-force
    parity, including cross-seam nearest sources."""
    rng = random.Random(452)
    res = 8
    tiles = _rand_tiles(rng, res, 6, span=1, density=0.04)
    got = _collect_dist2(
        terrain.distance_transform(_mk_df(spark, tiles), res, radius=4), res
    )
    assert got == _py_edt(tiles, res, 4)
    vals = set(got.values())
    assert 0 in vals and -1 in vals and any(v > 0 for v in vals)


def test_edt_all_zero_and_validation(spark):
    res = 8
    df = _mk_df(spark, {(0, 0): [0] * (res * res)})
    got = _collect_dist2(terrain.distance_transform(df, res, radius=4), res)
    assert set(got.values()) == {-1}
    with pytest.raises(ValueError):
        terrain.distance_transform(df, res, radius=0)
    with pytest.raises(ValueError):
        terrain.distance_transform(df, res, radius=res + 1)


def _py_edt_alloc(tiles, res, radius):
    """Brute allocation oracle: lexicographic (dist2, packed id) min."""
    cells = {}
    for (tx, ty), grid in tiles.items():
        for pix, z in enumerate(grid):
            cells[(tx * res + pix % res, ty * res + pix // res)] = z
    srcs = [c for c, z in cells.items() if z != 0]
    OFF = 1 << 20

    def pack(x, y):
        return (x + OFF) * (1 << 32) + (y + OFF)

    out = {}
    for (x, y) in cells:
        best = None
        for (sx, sy) in srcs:
            d2 = (x - sx) ** 2 + (y - sy) ** 2
            if d2 <= radius * radius:
                k = (d2, pack(sx, sy))
                if best is None or k < best:
                    best = k
        out[(x, y)] = (-1, -1) if best is None else best
    return out


def test_edt_allocation_oracle(spark):
    """Random sparse multi-tile raster: (dist2, alloc) both match the brute
    lexicographic oracle exactly, cross-seam winners included."""
    rng = random.Random(453)
    res = 8
    tiles = _rand_tiles(rng, res, 6, span=1, density=0.05)
    rows = terrain.distance_transform(
        _mk_df(spark, tiles), res, radius=5, allocate=True
    ).collect()
    got = {}
    for r in rows:
        for pix, (d, a) in enumerate(zip(r["dist2"], r["alloc"])):
            got[(r["tx"] * res + pix % res,
                 r["ty"] * res + pix // res)] = (d, a)
    assert got == _py_edt_alloc(tiles, res, 5)


def test_edt_allocation_tie_break(spark):
    """Two equidistant sources: every tied cell allocates to the MIN packed
    id (lower gx wins; same gx -> lower gy)."""
    res = 8
    grid = [0] * (res * res)
    grid[3 * res + 1] = 5   # source A at (1, 3)
    grid[3 * res + 5] = 9   # source B at (5, 3)
    rows = terrain.distance_transform(
        _mk_df(spark, {(0, 0): grid}), res, radius=6, allocate=True
    ).collect()
    OFF = 1 << 20
    pa = (1 + OFF) * (1 << 32) + (3 + OFF)
    alloc = rows[0]["alloc"]
    # x=3 is equidistant (d2=4 both): A (min pack) must win the whole column
    for y in range(res):
        assert alloc[y * res + 3] == pa, (y, alloc[y * res + 3])
    assert alloc[3 * res + 1] == pa  # A allocates itself (d2=0)


# ---------------------------------------------------------------------------
# buffer_mask (raster buffer on the EDT kernel)
# ---------------------------------------------------------------------------
def test_buffer_mask_disk_and_dissolve(spark):
    from engine import raster as raster_mod
    from engine.terrain import buffer_mask

    res, r = 8, 3
    # one source at global pixel (4, 4) of tile (0, 0); interior (radius
    # fits inside the tile) so the exact disk has its closed lattice count
    grid = [0] * (res * res)
    grid[4 * res + 4] = 5
    tiles = spark.createDataFrame(
        [(0, 0, grid)], "tx long, ty long, counts array<long>"
    )
    out = {
        (row["tx"], row["ty"]): list(row["counts"])
        for row in buffer_mask(tiles, res, r).collect()
    }
    got = {
        (gx, gy)
        for (tx, ty), g in out.items()
        for i, v in enumerate(g)
        if v
        for gx, gy in [(tx * res + i % res, ty * res + i // res)]
    }
    want = {
        (4 + dx, 4 + dy)
        for dx in range(-r, r + 1)
        for dy in range(-r, r + 1)
        if dx * dx + dy * dy <= r * r
    }
    assert got == want
    assert len(want) == 29  # lattice disk r=3
    # buffer + dissolve: two sources 4 apart with r=3 overlap -> ONE region
    grid2 = [0] * (res * res)
    grid2[2 * res + 2] = 1
    grid2[2 * res + 6] = 1
    tiles2 = spark.createDataFrame(
        [(0, 0, grid2)], "tx long, ty long, counts array<long>"
    )
    regions = raster_mod.raster_regions(
        buffer_mask(tiles2, res, r), res
    ).collect()
    assert len(regions) == 1
    # and two sources far apart stay two regions
    grid3 = [0] * (res * res)
    grid3[1 * res + 1] = 1
    grid3[6 * res + 6] = 1
    tiles3 = spark.createDataFrame(
        [(0, 0, grid3)], "tx long, ty long, counts array<long>"
    )
    assert len(
        raster_mod.raster_regions(buffer_mask(tiles3, res, r), res).collect()
    ) == 2


# ---------------------------------------------------------------------------
# fill_depressions (Priority-Flood / Fill Sinks)
# ---------------------------------------------------------------------------
def _py_fill(tiles, res, conn=8):
    """Global sequential priority-flood oracle (Barnes et al. 2014): seed
    every cell adjacent to the outside at W=z, pop in nondecreasing W,
    assign unvisited neighbors W = max(z, W_popped)."""
    import heapq

    from engine.terrain import _D4_OFFSETS, _D8_OFFSETS

    offs = _D8_OFFSETS if conn == 8 else _D4_OFFSETS
    cells = {}
    for (tx, ty), g in tiles.items():
        for pix, z in enumerate(g):
            cells[(tx * res + pix % res, ty * res + pix // res)] = z
    W = {}
    heap = []
    for (x, y), z in cells.items():
        if any((x + dx, y + dy) not in cells for dx, dy in offs):
            W[(x, y)] = z
            heapq.heappush(heap, (z, x, y))
    while heap:
        w, x, y = heapq.heappop(heap)
        for dx, dy in offs:
            n = (x + dx, y + dy)
            if n in cells and n not in W:
                W[n] = max(cells[n], w)
                heapq.heappush(heap, (W[n], n[0], n[1]))
    return W


def _collect_fill(df, res):
    return {
        (row["tx"] * res + pix % res, row["ty"] * res + pix // res): v
        for row in df.collect()
        for pix, v in enumerate(row["filled"])
    }


def _bowl_tiles(res, rng):
    """2x2 tile block, rough terrain with a depression carved across the
    (0,0)/(1,0) tile border."""
    tiles = {}
    for tx in (0, 1):
        for ty in (0, 1):
            tiles[(tx, ty)] = [
                rng.randint(50, 99) for _ in range(res * res)
            ]
    for (tx, ty), g in tiles.items():
        for pix in range(res * res):
            gx, gy = tx * res + pix % res, ty * res + pix // res
            if 5 <= gx <= 10 and 2 <= gy <= 6:
                g[pix] = 10 + ((gx * 7 + gy * 13) % 5)
    return tiles


@pytest.mark.parametrize("conn", [8, 4])
def test_fill_matches_python_oracle(spark, conn):
    rng = random.Random(4101)
    tiles = _bowl_tiles(8, rng)
    out = terrain.fill_depressions(_mk_df(spark, tiles), 8, connectivity=conn)
    got = _collect_fill(out, 8)
    want = _py_fill(tiles, 8, conn)
    assert got == want
    # the depression actually filled (W > z somewhere)
    cells = {
        (tx * 8 + p % 8, ty * 8 + p // 8): z
        for (tx, ty), g in tiles.items()
        for p, z in enumerate(g)
    }
    assert any(want[k] > cells[k] for k in cells)


def test_fill_random_scatter_tiles(spark):
    """Irregular (non-rectangular) tile union: mask drains must follow the
    ragged boundary, not a bounding box."""
    rng = random.Random(77)
    res = 8
    tiles = _rand_tiles(rng, res, 5, span=2, density=0.9)
    out = terrain.fill_depressions(_mk_df(spark, tiles), res)
    assert _collect_fill(out, res) == _py_fill(tiles, res, 8)


def test_fill_monotone_plane_unchanged(spark):
    """A tilted plane has no depressions: W == z everywhere."""
    res = 8
    tiles = {}
    for tx in (0, 1):
        for ty in (0, 1):
            tiles[(tx, ty)] = [
                (tx * res + p % res) + 2 * (ty * res + p // res)
                for p in range(res * res)
            ]
    out = terrain.fill_depressions(_mk_df(spark, tiles), res)
    got = _collect_fill(out, res)
    for (tx, ty), g in tiles.items():
        for p, z in enumerate(g):
            assert got[(tx * res + p % res, ty * res + p // res)] == z


def test_fill_channel_sill_closed_form(spark):
    """Flat plateau at 1000 with a pit (bottom 800) connected to the west
    raster edge by a carved channel whose sill is 950: the pit fills to the
    SILL (the cheaper escape), not the plateau level — the minimax path
    choice, across a tile border."""
    res = 8
    tiles = {
        (0, 0): [1000] * (res * res),
        (1, 0): [1000] * (res * res),
    }
    # pit in tile (1,0) at gx in [10, 11], gy in [3, 4]
    for gx in (10, 11):
        for gy in (3, 4):
            tiles[(1, 0)][gy * res + (gx - res)] = 800
    # channel along gy=4, gx in [0, 9] at 950 (reaches the west edge)
    for gx in range(0, 10):
        t = (0, 0) if gx < res else (1, 0)
        tiles[t][4 * res + (gx % res)] = 950
    out = terrain.fill_depressions(_mk_df(spark, tiles), res)
    got = _collect_fill(out, res)
    for gx in (10, 11):
        for gy in (3, 4):
            assert got[(gx, gy)] == 950, (gx, gy)
    # channel keeps its own elevation (it drains freely); plateau unchanged
    assert got[(5, 4)] == 950
    assert got[(5, 5)] == 1000
    assert got == _py_fill(tiles, res, 8)


def test_fill_partition_invariance(spark):
    """The same global field tiled at res=8 and res=16 fills identically —
    tile boundaries are invisible."""
    rng = random.Random(4102)
    size = 16
    field = {
        (x, y): rng.randint(1, 60) for x in range(size) for y in range(size)
    }
    # plant a deep cross-tile depression
    for x in range(5, 12):
        for y in range(6, 10):
            field[(x, y)] = rng.randint(1, 5)
    fills = {}
    for res in (8, 16):
        tiles = {}
        for (x, y), z in field.items():
            key = (x // res, y // res)
            tiles.setdefault(key, [0] * (res * res))[
                (y % res) * res + (x % res)
            ] = z
        fills[res] = _collect_fill(
            terrain.fill_depressions(_mk_df(spark, tiles), res), res
        )
    assert fills[8] == fills[16]


def test_fill_idempotent_and_bounded(spark):
    """fill(fill(x)) == fill(x), and W >= z pointwise."""
    rng = random.Random(4103)
    tiles = _bowl_tiles(8, rng)
    df = _mk_df(spark, tiles)
    once = terrain.fill_depressions(df, 8)
    got1 = _collect_fill(once, 8)
    twice = terrain.fill_depressions(
        once.withColumnRenamed("filled", "counts"), 8
    )
    assert _collect_fill(twice, 8) == got1
    for (tx, ty), g in tiles.items():
        for p, z in enumerate(g):
            assert got1[(tx * 8 + p % 8, ty * 8 + p // 8)] >= z


def test_fill_duckdb_twin(spark, tmp_path):
    import duckdb

    rng = random.Random(4104)
    res = 8
    tiles = _rand_tiles(rng, res, 4, span=2, density=0.8)
    got = _collect_fill(
        terrain.fill_depressions(_mk_df(spark, tiles), res), res
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE tiles (tx BIGINT, ty BIGINT, counts BIGINT[])")
    for (tx, ty), g in tiles.items():
        con.execute("INSERT INTO tiles VALUES (?, ?, ?)", [tx, ty, g])
    sql = terrain.fill_depressions_sql("tiles", res)
    want = {
        (gx, gy): w
        for gx, gy, w in con.execute(
            f"SELECT gx, gy, w FROM ({sql}) q"
        ).fetchall()
    }
    assert got == want


def test_fill_domain_guard(spark):
    res = 4
    bad = spark.createDataFrame(
        [(0, 0, [0] * (res * res - 1) + [1 << 30])],
        "tx long, ty long, counts array<long>",
    )
    with pytest.raises(Exception, match="2\\^30 domain"):
        terrain.fill_depressions(bad, res).collect()


def test_fill_feeds_d8(spark):
    """Fill -> FlowDir composition: on the filled surface no cell is a
    one-cell pit (every dir=-1 cell sits on a flat — some 8-neighbor shares
    its elevation or it drains off the raster edge)."""
    rng = random.Random(4105)
    tiles = _bowl_tiles(8, rng)
    res = 8
    filled = terrain.fill_depressions(_mk_df(spark, tiles), res)
    fillmap = _collect_fill(filled, res)
    flow = terrain.d8_flow(
        filled.withColumnRenamed("filled", "counts"), res
    )
    dirs = {
        (row["tx"] * res + p % res, row["ty"] * res + p // res): v
        for row in flow.collect()
        for p, v in enumerate(row["d8_dir"])
    }
    from engine.terrain import _D8_OFFSETS

    for (x, y), d in dirs.items():
        if d != -1:
            continue
        nbrs = [(x + dx, y + dy) for dx, dy in _D8_OFFSETS]
        off_edge = any(n not in fillmap for n in nbrs)
        flat_mate = any(
            n in fillmap and fillmap[n] == fillmap[(x, y)] for n in nbrs
        )
        assert off_edge or flat_mate, (x, y)


def test_fill_spiral_depression(spark):
    """Adversarial in-tile structure: a serpentine channel descending into
    a dead end forces a long minimax path INSIDE one tile (the stationarity
    fast path must hand off to the heap flood mid-convergence), plus a
    second tile so the seam also participates."""
    res = 16
    g = [4000] * (res * res)
    # serpentine: rows 1,3,5,... carved, alternating connection columns,
    # descending 10 per step from 3000
    h = 3000
    for row in range(1, res - 1, 2):
        rng_cols = (
            range(1, res - 1) if (row // 2) % 2 == 0
            else range(res - 2, 0, -1)
        )
        for cx in rng_cols:
            g[row * res + cx] = h
            h -= 7
        if row + 2 < res - 1:
            conn_col = res - 2 if (row // 2) % 2 == 0 else 1
            g[(row + 1) * res + conn_col] = h
            h -= 7
    tiles = {(0, 0): g, (1, 0): [4000] * (res * res)}
    out = terrain.fill_depressions(_mk_df(spark, tiles), res)
    assert _collect_fill(out, res) == _py_fill(tiles, res, 8)


# ---------------------------------------------------------------------------
# resolve_flats / condition_dem (flat drainage assignment)
# ---------------------------------------------------------------------------
_NBRS_PRI = [
    (1, 0, True), (1, 1, False), (0, 1, True), (-1, 1, False),
    (-1, 0, True), (0, -1, True), (-1, -1, False), (1, -1, False),
]


def _py_resolve(tiles, res):
    """Python oracle for resolve_flats over a filled surface: BFS distance
    to the nearest draining cell through equal-W ground, then dirs —
    steepest-descent d8 where a lower neighbor exists, else the
    (min d, compass) equal-W neighbor. Returns (x,y) -> (dir, key, d)."""
    from collections import deque

    cells = {}
    for (tx, ty), g in tiles.items():
        for pix, z in enumerate(g):
            cells[(tx * res + pix % res, ty * res + pix // res)] = z
    INF = (1 << 31) - 1
    dist = {}
    dq = deque()
    for (x, y), w in cells.items():
        drains = False
        for dx, dy, _o in _NBRS_PRI:
            n = (x + dx, y + dy)
            if n not in cells or cells[n] < w:
                drains = True
                break
        if drains:
            dist[(x, y)] = 0
            dq.append((x, y))
    while dq:
        x, y = dq.popleft()
        for dx, dy, _o in _NBRS_PRI:
            n = (x + dx, y + dy)
            if n in cells and cells[n] == cells[(x, y)] and n not in dist:
                dist[n] = dist[(x, y)] + 1
                dq.append(n)
    out = {}
    for (x, y), w in cells.items():
        best_key, best_dir = 0, -1
        for i, (dx, dy, orth) in enumerate(_NBRS_PRI):
            n = (x + dx, y + dy)
            if n in cells and cells[n] < w:
                drop = w - cells[n]
                key = drop * drop * (2 if orth else 1)
                if key > best_key:
                    best_key, best_dir = key, i
        d_own = dist.get((x, y), INF)
        if best_dir == -1 and d_own > 0:
            best_fd = None
            for i, (dx, dy, _o) in enumerate(_NBRS_PRI):
                n = (x + dx, y + dy)
                if (
                    n in cells and cells[n] == w
                    and dist.get(n, INF) < d_own
                ):
                    cand = (dist[n], i)
                    if best_fd is None or cand < best_fd:
                        best_fd = cand
            if best_fd is not None:
                best_dir = best_fd[1]
        out[(x, y)] = (best_dir, best_key, -1 if d_own >= INF else d_own)
    return out


def _collect_resolve(df, res):
    return {
        (row["tx"] * res + p % res, row["ty"] * res + p // res):
            (dirv, keyv, dv)
        for row in df.collect()
        for p, (dirv, keyv, dv) in enumerate(
            zip(row["d8_dir"], row["d8_key"], row["flat_d"])
        )
    }


def test_resolve_flats_oracle_parity(spark):
    """Random DEM -> python fill -> resolve on the filled surface: dirs,
    keys and flat distances all match the oracle exactly."""
    rng = random.Random(4201)
    raw = _bowl_tiles(8, rng)
    res = 8
    W = _py_fill(raw, res, 8)
    filled_tiles = {}
    for (tx, ty), g in raw.items():
        filled_tiles[(tx, ty)] = [
            W[(tx * res + p % res, ty * res + p // res)]
            for p in range(res * res)
        ]
    out = terrain.resolve_flats(
        _mk_df(spark, filled_tiles).withColumnRenamed("counts", "filled"),
        res,
    )
    assert _collect_resolve(out, res) == _py_resolve(filled_tiles, res)


def test_resolve_flats_plateau_drains_east(spark):
    """A flat plateau whose east edge steps down: every plateau cell points
    toward cells nearer the step (flat_d decreases eastward), edge cells of
    the raster drain off (dir -1 only there)."""
    res = 8
    # one tile: columns 0..5 at 100 (flat), columns 6..7 at 50
    g = [100 if (p % res) <= 5 else 50 for p in range(res * res)]
    tiles = {(0, 0): g}
    got = _collect_resolve(
        terrain.resolve_flats(
            _mk_df(spark, tiles).withColumnRenamed("counts", "filled"), res
        ),
        res,
    )
    oracle = _py_resolve(tiles, res)
    assert got == oracle
    # column 5 cells see the drop east: steepest descent, dir = 0 (E)
    for y in range(1, res - 1):
        assert got[(5, y)][0] == 0
        # interior plateau cells at column 4 point at column 5 (d: 1 -> 0)
        assert got[(4, y)][2] == 1 and got[(5, y)][2] == 0


def test_condition_dem_complete_drainage(spark):
    """fill + resolve on a random DEM: every cell's pointer chain reaches a
    raster-edge sink; no interior dir = -1; no cycles."""
    rng = random.Random(4202)
    res = 8
    raw = _bowl_tiles(res, rng)
    flow = terrain.condition_dem(_mk_df(spark, raw), res)
    got = _collect_resolve(flow, res)
    cells = set(got)
    from engine.terrain import _D8_OFFSETS

    def at_edge(x, y):
        return any((x + dx, y + dy) not in cells for dx, dy in _D8_OFFSETS)

    for (x, y), (d, _k, _fd) in got.items():
        if d == -1:
            assert at_edge(x, y), (x, y)
    # pointer walk: every cell terminates at a dir=-1 edge cell
    for start in cells:
        seen = set()
        cur = start
        while True:
            assert cur not in seen, f"cycle via {start}"
            seen.add(cur)
            d = got[cur][0]
            if d == -1:
                assert at_edge(*cur)
                break
            dx, dy, _o = _NBRS_PRI[d]
            cur = (cur[0] + dx, cur[1] + dy)
            assert cur in cells


def test_condition_dem_acc_conserves_mass(spark):
    """flow_accumulation over the conditioned flow frame: total mass at the
    edge sinks equals the raster cell count (nothing is lost in a pit)."""
    rng = random.Random(4203)
    res = 8
    raw = _bowl_tiles(res, rng)
    flow = terrain.condition_dem(_mk_df(spark, raw), res)
    acc = terrain.flow_accumulation(
        flow.select("tx", "ty", "d8_dir", "d8_key"), res
    )
    got = _collect_resolve(flow, res)
    accs = _collect_acc(acc, res)
    sink_sum = sum(
        accs[(x, y)] for (x, y), (d, _k, _fd) in got.items() if d == -1
    )
    assert sink_sum == len(got)


def test_resolve_flats_partition_invariance(spark):
    rng = random.Random(4204)
    size = 16
    field = {}
    for x in range(size):
        for y in range(size):
            field[(x, y)] = rng.choice([40, 40, 40, 70, 90])
    for res in (8, 16):
        tiles = {}
        for (x, y), z in field.items():
            key = (x // res, y // res)
            tiles.setdefault(key, [0] * (res * res))[
                (y % res) * res + (x % res)
            ] = z
        out = _collect_resolve(
            terrain.resolve_flats(
                _mk_df(spark, tiles).withColumnRenamed("counts", "filled"),
                res,
            ),
            res,
        )
        if res == 8:
            first = out
    assert out == first


def test_resolve_flats_matches_d8_on_sloped_cells(spark):
    """Cells with a strictly lower neighbor keep d8_flow's exact choice."""
    rng = random.Random(4205)
    res = 8
    raw = _bowl_tiles(res, rng)
    fdf = terrain.fill_depressions(_mk_df(spark, raw), res)
    resolved = _collect_resolve(terrain.resolve_flats(fdf, res), res)
    d8 = terrain.d8_flow(
        fdf.withColumnRenamed("filled", "counts"), res
    )
    base = {
        (row["tx"] * res + p % res, row["ty"] * res + p // res): (d, k)
        for row in d8.collect()
        for p, (d, k) in enumerate(zip(row["d8_dir"], row["d8_key"]))
    }
    for pos, (d, k) in base.items():
        if d != -1:
            assert resolved[pos][0] == d and resolved[pos][1] == k, pos


def test_resolve_flats_duckdb_twin(spark):
    """Spark fill + resolve vs the composed DuckDB twins (fill threshold-
    reachability feeding the flats BFS/argmax derivation) — dir, key and
    flat_d all exact."""
    import duckdb

    rng = random.Random(4206)
    res = 8
    tiles = _rand_tiles(rng, res, 4, span=2, density=0.8)
    df = _mk_df(spark, tiles)
    got = _collect_resolve(
        terrain.resolve_flats(terrain.fill_depressions(df, res), res), res
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE tiles (tx BIGINT, ty BIGINT, counts BIGINT[])")
    for (tx, ty), g in tiles.items():
        con.execute("INSERT INTO tiles VALUES (?, ?, ?)", [tx, ty, g])
    fill_sql = terrain.fill_depressions_sql("tiles", res)
    flats_sql = terrain.resolve_flats_sql(
        f"SELECT gx, gy, w FROM ({fill_sql}) q"
    )
    want = {
        (gx, gy): (d, k, fd)
        for gx, gy, d, k, fd in con.execute(
            f"SELECT gx, gy, dir, key, flat_d FROM ({flats_sql}) z"
        ).fetchall()
    }
    assert got == want


# ---------------------------------------------------------------------------
# Strahler stream order
# ---------------------------------------------------------------------------
def _py_strahler(dirs, stream):
    """Global Kahn-peel oracle: dirs {(gx,gy): d8 dir or -1}, stream
    {(gx,gy): 0/1}. order 0 on non-stream cells; on stream cells 1 when no
    positive upstream contribution, else max(+1 iff the max arrives >= 2x).
    Non-stream cells gate topology but contribute nothing."""
    from collections import deque

    offs = terrain._D8_OFFSETS
    tgt = {}
    indeg = {c: 0 for c in dirs}
    for c, d in dirs.items():
        if d >= 0:
            t = (c[0] + offs[d][0], c[1] + offs[d][1])
            if t in dirs:
                tgt[c] = t
                indeg[t] += 1
    q = deque(c for c in dirs if indeg[c] == 0)
    contrib = {c: [] for c in dirs}
    order = {}
    done = 0
    while q:
        c = q.popleft()
        done += 1
        if stream.get(c, 0):
            pos = [o for o in contrib[c] if o > 0]
            o = 1 if not pos else max(pos) + (1 if pos.count(max(pos)) >= 2 else 0)
        else:
            o = 0
        order[c] = o
        t = tgt.get(c)
        if t is not None:
            contrib[t].append(o if stream.get(c, 0) else 0)
            indeg[t] -= 1
            if indeg[t] == 0:
                q.append(t)
    assert done == len(dirs), "cycle in dirs"
    return order


def _collect_strahler(df, res):
    out = {}
    for r in df.collect():
        for pix, o in enumerate(r["strahler"]):
            out[(r["tx"] * res + pix % res, r["ty"] * res + pix // res)] = o
    return out


def _flow_dirs(flow_rows, res):
    dirs = {}
    for r in flow_rows:
        for pix, d in enumerate(r["d8_dir"]):
            dirs[(r["tx"] * res + pix % res, r["ty"] * res + pix // res)] = d
    return dirs


def test_strahler_confluence_closed_form(spark):
    """Y-shaped network in one tile: two heads meet (order 2), a third
    tributary of order 1 joins later without raising the max."""
    res = 4
    code = {o: i for i, o in enumerate(terrain._D8_OFFSETS)}
    dirs = [-1] * (res * res)

    def put(x, y, dxdy):
        dirs[y * res + x] = code[dxdy]

    put(0, 0, (1, 1))   # head A -> (1,1)
    put(0, 2, (1, -1))  # head B -> (1,1)
    put(1, 1, (1, 0))   # confluence -> (2,1)
    put(2, 1, (1, 0))   # -> (3,1)
    put(0, 3, (1, 0))   # head C -> (1,3)
    put(1, 3, (1, -1))  # -> (2,2)
    put(2, 2, (1, -1))  # tributary joins main stem at (3,1)
    flow = spark.createDataFrame(
        [(0, 0, dirs)], "tx long, ty long, d8_dir array<long>"
    )
    got = _collect_strahler(terrain.strahler_order(flow, res), res)
    assert got[(0, 0)] == 1 and got[(0, 2)] == 1
    assert got[(1, 1)] == 2
    assert got[(2, 1)] == 2
    assert got[(0, 3)] == 1 and got[(1, 3)] == 1 and got[(2, 2)] == 1
    # main stem (order 2) + tributary (order 1): max is unique -> stays 2
    assert got[(3, 1)] == 2


def test_strahler_oracle_parity_conditioned(spark):
    """Random multi-tile DEM, conditioned, all-cells mask: halo fixpoint
    == global python Kahn peel."""
    rng = random.Random(4301)
    res = 8
    tiles = _rand_tiles(rng, res, 5, span=2, density=0.7)
    flow = terrain.condition_dem(_mk_df(spark, tiles), res).persist()
    flow_rows = flow.select("tx", "ty", "d8_dir").collect()
    dirs = _flow_dirs(flow_rows, res)
    want = _py_strahler(dirs, {c: 1 for c in dirs})
    got = _collect_strahler(terrain.strahler_order(flow, res), res)
    flow.unpersist()
    assert got == want


def test_strahler_stream_mask_restart(spark):
    """A non-stream gap restarts the order downstream; non-stream cells
    emit order 0 but still gate topology (python oracle parity)."""
    rng = random.Random(4302)
    res = 8
    tiles = _rand_tiles(rng, res, 4, span=2, density=0.8)
    flow = terrain.condition_dem(_mk_df(spark, tiles), res)
    masked = flow.select(
        "tx", "ty", "d8_dir",
        F.expr(
            f"transform(d8_dir, (d, i) -> CAST("
            f"((tx * {res} + i % {res}) + (ty * {res} + i DIV {res})) % 3 "
            f"!= 0 AS LONG))"
        ).alias("stream"),
    ).persist()
    rows = masked.collect()
    dirs = _flow_dirs(rows, res)
    stream = {}
    for r in rows:
        for pix, s in enumerate(r["stream"]):
            stream[(r["tx"] * res + pix % res, r["ty"] * res + pix // res)] = s
    want = _py_strahler(dirs, stream)
    got = _collect_strahler(
        terrain.strahler_order(masked, res, stream_col="stream"), res
    )
    masked.unpersist()
    assert got == want


def test_strahler_partition_invariance(spark):
    rng = random.Random(4303)
    res = 8
    tiles = _rand_tiles(rng, res, 6, span=3, density=0.6)
    flow = terrain.condition_dem(_mk_df(spark, tiles), res).persist()
    a = _collect_strahler(
        terrain.strahler_order(flow.repartition(1), res), res
    )
    b = _collect_strahler(
        terrain.strahler_order(flow.repartition(7), res), res
    )
    flow.unpersist()
    assert a == b


def test_strahler_duckdb_twin(spark):
    """Spark condition_dem + strahler vs the fully composed DuckDB twins
    (fill -> flats -> order-level membership closure)."""
    import duckdb

    rng = random.Random(4304)
    res = 8
    tiles = _rand_tiles(rng, res, 4, span=2, density=0.8)
    flow = terrain.condition_dem(_mk_df(spark, tiles), res)
    got = _collect_strahler(terrain.strahler_order(flow, res), res)
    con = duckdb.connect()
    con.execute("CREATE TABLE tiles (tx BIGINT, ty BIGINT, counts BIGINT[])")
    for (tx, ty), g in tiles.items():
        con.execute("INSERT INTO tiles VALUES (?, ?, ?)", [tx, ty, g])
    fill_sql = terrain.fill_depressions_sql("tiles", res)
    flats_sql = terrain.resolve_flats_sql(
        f"SELECT gx, gy, w FROM ({fill_sql}) q"
    )
    st_sql = terrain.strahler_order_sql(
        f"SELECT gx, gy, dir FROM ({flats_sql}) ff"
    )
    want = {
        (gx, gy): o
        for gx, gy, o in con.execute(
            f"SELECT gx, gy, strahler FROM ({st_sql}) z"
        ).fetchall()
    }
    assert got == want


def test_flowacc_duckdb_twin(spark):
    """Spark condition_dem + flow_accumulation (the two-level Kahn/contracted
    forest machinery) vs the fully composed DuckDB twins: fill -> flats ->
    the INDEPENDENT per-source pointer-walk closure count
    (flow_accumulation_sql)."""
    import duckdb

    rng = random.Random(4305)
    res = 8
    tiles = _rand_tiles(rng, res, 4, span=2, density=0.8)
    flow = terrain.condition_dem(_mk_df(spark, tiles), res)
    got = _collect_acc(terrain.flow_accumulation(flow, res), res)
    con = duckdb.connect()
    con.execute("CREATE TABLE tiles (tx BIGINT, ty BIGINT, counts BIGINT[])")
    for (tx, ty), g in tiles.items():
        con.execute("INSERT INTO tiles VALUES (?, ?, ?)", [tx, ty, g])
    fill_sql = terrain.fill_depressions_sql("tiles", res)
    flats_sql = terrain.resolve_flats_sql(
        f"SELECT gx, gy, w FROM ({fill_sql}) q"
    )
    acc_sql = terrain.flow_accumulation_sql(
        f"SELECT gx, gy, dir FROM ({flats_sql}) ff"
    )
    want = {
        (gx, gy): a
        for gx, gy, a in con.execute(
            f"SELECT gx, gy, acc FROM ({acc_sql}) z"
        ).fetchall()
    }
    assert got == want
    # every cell drains to an edge sink, so sink mass == cell count
    assert sum(want.values()) > 0 and len(got) == len(want)


# ---------------------------------------------------------------------------
# Cost surface / cost allocation (halo kernel)
# ---------------------------------------------------------------------------
def _py_cost_distance(cells_cost, sources, conn=8):
    """Global-heap Dijkstra oracle: cells_cost {(gx,gy): cost}, barrier
    where cost <= 0; move a->b costs (c_a + c_b) * (5 cardinal/7 diag)."""
    import heapq

    offs, mults = terrain._cost_mults(conn)
    dist = {}
    h = [(0, s) for s in set(sources) if cells_cost.get(s, 0) > 0]
    heapq.heapify(h)
    while h:
        d, c = heapq.heappop(h)
        if c in dist:
            continue
        dist[c] = d
        cc = cells_cost[c]
        for (dx, dy), m in zip(offs, mults):
            n = (c[0] + dx, c[1] + dy)
            nc = cells_cost.get(n, 0)
            if nc > 0 and n not in dist:
                heapq.heappush(h, (d + (cc + nc) * m, n))
    return dist


def _py_cost_alloc(cells_cost, sources, conn=8):
    """Allocation oracle: min-packed-id optimal predecessor at every step,
    walked to the root source."""
    offs, mults = terrain._cost_mults(conn)
    dist = _py_cost_distance(cells_cost, sources, conn)
    srcset = {s for s in set(sources) if cells_cost.get(s, 0) > 0}
    off = 1 << 20

    def pid(c):
        return (c[0] + off) * (1 << 32) + (c[1] + off)

    pred = {}
    for c, d in dist.items():
        if c in srcset:
            pred[c] = c
            continue
        best = None
        for (dx, dy), m in zip(offs, mults):
            n = (c[0] + dx, c[1] + dy)
            if n in dist and dist[n] + (cells_cost[n] + cells_cost[c]) * m == d:
                if best is None or pid(n) < pid(best):
                    best = n
        pred[c] = best
    out = {}
    for c in dist:
        r = c
        while pred[r] != r:
            r = pred[r]
        out[c] = (dist[c], r)
    return out


def _collect_cost(df, res):
    out = {}
    for r in df.collect():
        for pix, d in enumerate(r["cost_dist"]):
            out[(r["tx"] * res + pix % res, r["ty"] * res + pix // res)] = d
    return out


def _cells_of(tiles, res):
    cells = {}
    for (tx, ty), g in tiles.items():
        for pix, c in enumerate(g):
            cells[(tx * res + pix % res, ty * res + pix // res)] = c
    return cells


@pytest.mark.parametrize("conn", [8, 4])
def test_cost_surface_oracle_parity(spark, conn):
    rng = random.Random(4401 + conn)
    res = 8
    tiles = _rand_tiles(rng, res, 5, span=2, density=0.8)
    cells = _cells_of(tiles, res)
    passable = [c for c, v in sorted(cells.items()) if v > 0]
    sources = [passable[0], passable[len(passable) // 2]]
    got = _collect_cost(
        terrain.cost_surface(_mk_df(spark, tiles), res, sources, conn), res
    )
    want = _py_cost_distance(cells, sources, conn)
    for c, v in cells.items():
        exp = want.get(c, -1) if v > 0 else -1
        assert got[c] == exp, (c, got[c], exp)


def test_cost_surface_uniform_plane_closed_form(spark):
    """Uniform cost c: diagonal step 14c, cardinal 10c — dist(dx,dy) =
    c*(14*min + 10*(max-min))."""
    res = 8
    c = 3
    tiles = {(tx, ty): [c] * (res * res) for tx in (0, 1) for ty in (0, 1)}
    src = (5, 6)
    got = _collect_cost(
        terrain.cost_surface(_mk_df(spark, tiles), res, [src]), res
    )
    for (gx, gy), d in got.items():
        ax, ay = abs(gx - src[0]), abs(gy - src[1])
        lo, hi = min(ax, ay), max(ax, ay)
        assert d == c * (14 * lo + 10 * (hi - lo))


def test_cost_surface_barrier_detour_and_unreachable(spark):
    """A wall with one gate forces the detour; a sealed room is -1."""
    res = 8
    grid = [1] * (res * res)
    for gy in range(res):         # wall at gx=4, gate at gy=6
        if gy != 6:
            grid[gy * res + 4] = 0
    # sealed room: cell (7,0) enclosed by barriers
    grid[0 * res + 6] = 0
    grid[1 * res + 6] = 0
    grid[1 * res + 7] = 0
    tiles = {(0, 0): grid}
    cells = _cells_of(tiles, res)
    src = (0, 0)
    got = _collect_cost(
        terrain.cost_surface(_mk_df(spark, tiles), res, [src]), res
    )
    want = _py_cost_distance(cells, [src])
    for c, v in cells.items():
        assert got[c] == (want.get(c, -1) if v > 0 else -1)
    assert got[(7, 0)] == -1            # sealed
    assert got[(4, 6)] > 0              # the gate is on the detour
    assert got[(5, 0)] > got[(3, 0)]    # crossing costs more


def test_cost_surface_partition_invariance(spark):
    rng = random.Random(4403)
    res = 8
    tiles = _rand_tiles(rng, res, 6, span=3, density=0.7)
    cells = _cells_of(tiles, res)
    passable = [c for c, v in sorted(cells.items()) if v > 0]
    sources = [passable[3]]
    df = _mk_df(spark, tiles)
    a = _collect_cost(
        terrain.cost_surface(df.repartition(1), res, sources), res
    )
    b = _collect_cost(
        terrain.cost_surface(df.repartition(7), res, sources), res
    )
    assert a == b


def test_cost_allocation_oracle_parity(spark):
    rng = random.Random(4404)
    res = 8
    tiles = _rand_tiles(rng, res, 4, span=2, density=0.85)
    cells = _cells_of(tiles, res)
    passable = [c for c, v in sorted(cells.items()) if v > 0]
    sources = [passable[0], passable[len(passable) // 3],
               passable[2 * len(passable) // 3]]
    got = {
        (r["gx"], r["gy"]): (r["cost_dist"], (r["src_gx"], r["src_gy"]))
        for r in terrain.cost_allocation(
            _mk_df(spark, tiles), res, sources
        ).collect()
    }
    want = _py_cost_alloc(cells, sources)
    assert got == want


def test_cost_allocation_equidistant_tie_deterministic(spark):
    """Cell exactly between two sources on a uniform line: allocation
    follows the min-packed-id predecessor chain."""
    res = 8
    tiles = {(0, 0): [1] * (res * res)}
    # sources at (1, 4) and (5, 4): (3, 4) is 2 cardinal steps from both
    got = {
        (r["gx"], r["gy"]): (r["src_gx"], r["src_gy"])
        for r in terrain.cost_allocation(
            _mk_df(spark, tiles), res, [(1, 4), (5, 4)]
        ).collect()
    }
    want = {c: s for c, (_, s) in
            _py_cost_alloc(_cells_of(tiles, res), [(1, 4), (5, 4)]).items()}
    assert got == want
    assert got[(3, 4)] == want[(3, 4)]


def test_cost_surface_source_on_barrier_ignored(spark):
    res = 8
    grid = [1] * (res * res)
    grid[0] = 0  # (0,0) barrier
    tiles = {(0, 0): grid}
    got = _collect_cost(
        terrain.cost_surface(_mk_df(spark, tiles), res, [(0, 0), (4, 4)]),
        res,
    )
    want = _py_cost_distance(_cells_of(tiles, res), [(4, 4)])
    for c in _cells_of(tiles, res):
        assert got[c] == want.get(c, -1)


def test_cost_surface_domain_guard(spark):
    res = 4
    tiles = {(0, 0): [1 << 20] * (res * res)}
    with pytest.raises(Exception, match="cost_surface"):
        terrain.cost_surface(
            _mk_df(spark, tiles), res, [(0, 0)]
        ).collect()


# ---------------------------------------------------------------------------
# Surface products (TRI / TPI / roughness — the rest of the gdaldem family)
# ---------------------------------------------------------------------------
def _collect_surface(df, res):
    out = {}
    for r in df.collect():
        for pix in range(res * res):
            gx = r["tx"] * res + pix % res
            gy = r["ty"] * res + pix // res
            out[(gx, gy)] = (
                r["tri"][pix], r["tpi_num"][pix],
                r["tpi_den"][pix], r["rough"][pix],
            )
    return out


def _py_surface(cells):
    out = {}
    for (gx, gy), z in cells.items():
        tri = s = cnt = 0
        mx = mn = z
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                if dx == 0 and dy == 0:
                    continue
                zn = cells.get((gx + dx, gy + dy))
                if zn is None:
                    continue
                tri += abs(z - zn)
                s += zn
                cnt += 1
                mx = max(mx, zn)
                mn = min(mn, zn)
        out[(gx, gy)] = (tri, cnt * z - s, cnt, mx - mn)
    return out


def test_surface_products_oracle_parity(spark):
    """Random ragged tile set vs the independent python oracle."""
    rng = random.Random(4400)
    res = 8
    tiles = _rand_tiles(rng, res, 5, span=2, density=0.7)
    cells = {
        (tx * res + i % res, ty * res + i // res): g[i]
        for (tx, ty), g in tiles.items()
        for i in range(res * res)
    }
    got = _collect_surface(
        terrain.surface_products(_mk_df(spark, tiles), res), res
    )
    assert got == _py_surface(cells)


def test_surface_products_plane_closed_form(spark):
    """z = 3x + 5y: interior TRI = 2*(3+5+8+2) = 36, TPI = 0 (plane
    antisymmetry, exact), roughness = 2*(3+5) = 16 (corner-to-corner)."""
    res = 8
    tiles = {
        (tx, ty): [
            3 * (tx * res + i % res) + 5 * (ty * res + i // res)
            for i in range(res * res)
        ]
        for tx in range(2) for ty in range(2)
    }
    got = _collect_surface(
        terrain.surface_products(_mk_df(spark, tiles), res), res
    )
    for (gx, gy), (tri, tpn, tpd, rough) in got.items():
        interior = 1 <= gx <= 2 * res - 2 and 1 <= gy <= 2 * res - 2
        if interior:
            assert (tri, tpn, tpd, rough) == (36, 0, 8, 16), (gx, gy)
        else:
            assert tpd < 8
    # constant raster: everything 0
    flat = {(0, 0): [7] * (res * res)}
    for v in _collect_surface(
        terrain.surface_products(_mk_df(spark, flat), res), res
    ).values():
        assert v[0] == v[1] == v[3] == 0


def test_surface_products_duckdb_twin(spark):
    import duckdb

    rng = random.Random(4401)
    res = 8
    tiles = _rand_tiles(rng, res, 4, span=2, density=0.8)
    got = _collect_surface(
        terrain.surface_products(_mk_df(spark, tiles), res), res
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE cells (gx BIGINT, gy BIGINT, z BIGINT)")
    for (tx, ty), g in tiles.items():
        for i in range(res * res):
            con.execute(
                "INSERT INTO cells VALUES (?, ?, ?)",
                [tx * res + i % res, ty * res + i // res, g[i]],
            )
    want = {
        (gx, gy): tuple(rest)
        for gx, gy, *rest in con.execute(
            f"SELECT * FROM ({terrain.surface_products_sql('SELECT gx, gy, z FROM cells')}) q"
        ).fetchall()
    }
    assert got == want


def test_surface_products_twin_degenerate_isolated(spark):
    """r4-advice case: pixels with ZERO present neighbors (1x1 raster /
    isolated res=1 tiles) — the engine emits them with tri=0 / tpi_den=0 /
    rough=0 and the LEFT-JOIN twin must agree row-for-row (the old inner
    join dropped them)."""
    import duckdb

    res = 1
    # three isolated cells + one adjacent pair (mixed: some rows have 0
    # neighbors, some 1)
    tiles = {(0, 0): [7], (5, 5): [9], (-4, 2): [3], (1, 0): [11]}
    got = _collect_surface(
        terrain.surface_products(_mk_df(spark, tiles), res), res
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE cells (gx BIGINT, gy BIGINT, z BIGINT)")
    for (tx, ty), g in tiles.items():
        con.execute("INSERT INTO cells VALUES (?, ?, ?)", [tx, ty, g[0]])
    want = {
        (gx, gy): tuple(rest)
        for gx, gy, *rest in con.execute(
            f"SELECT * FROM ({terrain.surface_products_sql('SELECT gx, gy, z FROM cells')}) q"
        ).fetchall()
    }
    assert got == want
    assert want[(5, 5)] == (0, 0, 0, 0)  # truly isolated
    assert want[(0, 0)] == (4, 7 - 11, 1, 4)  # one neighbor at z=11


# ---------------------------------------------------------------------------
# Wetness / stream-power indices (TWI, SPI)
# ---------------------------------------------------------------------------
def test_wetness_indices_end_to_end_twin(spark):
    """Full pipeline: condition_dem -> flow_accumulation + terrain_gradients
    -> TWI/SPI, vs the DuckDB twin replaying the identical double graph
    over the same exact int64 inputs — e6 floors bit-equal, NULL exactly on
    the flat (both-numerators-0) pixels."""
    import duckdb

    rng = random.Random(4500)
    res = 8
    tiles = _rand_tiles(rng, res, 4, span=2, density=0.8)
    df = _mk_df(spark, tiles)
    acc = terrain.flow_accumulation(terrain.condition_dem(df, res), res)
    grads = terrain.terrain_gradients(df, res)
    out = terrain.wetness_indices(acc, grads, res)
    got = {}
    for r in out.collect():
        for pix in range(res * res):
            gx = r["tx"] * res + pix % res
            gy = r["ty"] * res + pix // res
            got[(gx, gy)] = (r["twi_e6"][pix], r["spi_e6"][pix])
    # independent inputs for the twin: collect the exact int64 arrays
    rows = []
    accs = {(r["tx"], r["ty"]): r["acc"] for r in acc.collect()}
    for r in grads.collect():
        a = accs[(r["tx"], r["ty"])]
        for pix in range(res * res):
            rows.append((
                r["tx"] * res + pix % res, r["ty"] * res + pix // res,
                a[pix], r["dzdx8"][pix], r["dzdy8"][pix],
            ))
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE c (gx BIGINT, gy BIGINT, acc BIGINT,"
        " dzdx8 BIGINT, dzdy8 BIGINT)"
    )
    con.executemany("INSERT INTO c VALUES (?, ?, ?, ?, ?)", rows)
    want = {
        (gx, gy): (t, s)
        for gx, gy, t, s in con.execute(
            terrain.wetness_indices_sql("SELECT * FROM c")
        ).fetchall()
    }
    assert got == want
    assert any(v[0] is None for v in got.values()) or all(
        v[0] is not None for v in got.values()
    )


def test_wetness_indices_closed_forms(spark):
    """acc=1, gradient numerator (8,0), cellsize 1 -> tan_beta = 1 ->
    TWI = SPI = ln(1) = 0 exactly; flats -> NULL; acc=e^k scaling shifts
    TWI by ~k*1e6."""
    res = 4
    n = res * res
    acc = spark.createDataFrame(
        [(0, 0, [1] * n)], "tx long, ty long, acc array<long>"
    )
    grads = spark.createDataFrame(
        [(0, 0, [8] * (n - 1) + [0], [0] * n)],
        "tx long, ty long, dzdx8 array<long>, dzdy8 array<long>",
    )
    r = terrain.wetness_indices(acc, grads, res).collect()[0]
    assert r["twi_e6"][:3] == [0, 0, 0]
    assert r["spi_e6"][:3] == [0, 0, 0]
    assert r["twi_e6"][n - 1] is None and r["spi_e6"][n - 1] is None
    with pytest.raises(ValueError):
        terrain.wetness_indices(acc, grads, res, cellsize=0.0)


# ---------------------------------------------------------------------------
# Flow length (downstream distance to sink, weighted pointer doubling)
# ---------------------------------------------------------------------------
def test_flow_length_duckdb_twin(spark):
    """condition_dem -> flow_length (weighted jump) vs the per-source
    recursive-CTE walk over the flats twin's identical dirs."""
    import duckdb

    rng = random.Random(4600)
    res = 8
    tiles = _rand_tiles(rng, res, 4, span=2, density=0.8)
    flow = terrain.condition_dem(_mk_df(spark, tiles), res)
    got = {
        (r["gx"], r["gy"]): r["length"]
        for r in terrain.flow_length(flow, res).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE tiles (tx BIGINT, ty BIGINT, counts BIGINT[])")
    for (tx, ty), g in tiles.items():
        con.execute("INSERT INTO tiles VALUES (?, ?, ?)", [tx, ty, g])
    fill_sql = terrain.fill_depressions_sql("tiles", res)
    flats_sql = terrain.resolve_flats_sql(
        f"SELECT gx, gy, w FROM ({fill_sql}) q"
    )
    want = {
        (gx, gy): d
        for gx, gy, d in con.execute(
            terrain.flow_length_sql(
                f"SELECT gx, gy, dir FROM ({flats_sql}) ff"
            )
        ).fetchall()
    }
    assert got == want
    assert min(got.values()) == 0  # sinks


def test_flow_length_plane_closed_form(spark):
    """z = 3x + 5y on one tile: every cell flows diagonally toward (0,0)
    then along the axis (the 2*drop^2 key prefers the diagonal: 64/2=32 >
    25 > 9), so length = 14*min(x,y) + 10*|x-y| exactly; (0,0) is the only
    sink."""
    res = 8
    tiles = {
        (0, 0): [
            3 * (i % res) + 5 * (i // res) for i in range(res * res)
        ]
    }
    flow = terrain.condition_dem(_mk_df(spark, tiles), res)
    got = {
        (r["gx"], r["gy"]): r["length"]
        for r in terrain.flow_length(flow, res).collect()
    }
    for (x, y), ln in got.items():
        assert ln == 14 * min(x, y) + 10 * abs(x - y), (x, y, ln)


# ---------------------------------------------------------------------------
# Stream-network vectorization (stream_links)
# ---------------------------------------------------------------------------
def _py_stream_links(cells, dirs, fl, threshold, accs):
    """Independent replay: stream mask, starts (0 or >=2 stream in-edges),
    chain walk upstream->downstream, per-link ordered vertices + topology."""
    offs = [(1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0), (0, -1), (-1, -1), (1, -1)]
    stream = {c for c in cells if accs[c] >= threshold}
    dst = {}
    for c in stream:
        d = dirs[c]
        if d >= 0:
            t = (c[0] + offs[d][0], c[1] + offs[d][1])
            if t in stream:
                dst[c] = t
    indeg = {}
    for s, t in dst.items():
        indeg[t] = indeg.get(t, 0) + 1
    starts = {c for c in stream if indeg.get(c, 0) != 1}
    links = {}
    for s in starts:
        chain = [s]
        cur = s
        while cur in dst:
            nxt = dst[cur]
            if nxt in starts:
                break
            chain.append(nxt)
            cur = nxt
        end = chain[-1]
        links[s] = {
            "pts": chain,
            "n": len(chain),
            "dst_link": None,
        }
        if end in dst:
            # the next cell is a start (a confluence) = its own link id
            links[s]["dst_link"] = dst[end]
    # pack ids like the engine: (gx+2^20)*2^32 + (gy+2^20)
    pk = lambda c: (c[0] + (1 << 20)) * (1 << 32) + (c[1] + (1 << 20))
    return {
        pk(s): (
            v["n"],
            [(x, y) for x, y in v["pts"]],
            pk(v["dst_link"]) if v["dst_link"] else None,
        )
        for s, v in links.items()
    }


@pytest.mark.parametrize("threshold", [1, 3])
def test_stream_links_oracle_parity(spark, threshold):
    rng = random.Random(4700)
    res = 8
    tiles = _rand_tiles(rng, res, 4, span=2, density=0.8)
    flow = terrain.condition_dem(_mk_df(spark, tiles), res)
    acc = terrain.flow_accumulation(flow, res)
    out = terrain.stream_links(flow, acc, res, threshold).collect()
    got = {
        r["link_id"]: (
            r["n_cells"],
            [(p["x"], p["y"]) for p in r["pts"]],
            r["dst_link"],
        )
        for r in out
    }
    cells = {}
    accs = {}
    dirs = {}
    fl = {}
    for r in acc.collect():
        for pix in range(res * res):
            c = (r["tx"] * res + pix % res, r["ty"] * res + pix // res)
            accs[c] = r["acc"][pix]
            cells[c] = True
    fr = flow.select("tx", "ty", "d8_dir").collect()
    for r in fr:
        for pix in range(res * res):
            c = (r["tx"] * res + pix % res, r["ty"] * res + pix // res)
            dirs[c] = r["d8_dir"][pix]
    want = _py_stream_links(cells, dirs, fl, threshold, accs)
    assert got == want
    # structural invariants: every link's vertices are consecutive D8 steps
    for lid, (n, pts, dl) in got.items():
        assert n == len(pts)
        for a, b in zip(pts, pts[1:]):
            assert max(abs(a[0] - b[0]), abs(a[1] - b[1])) == 1


# ---------------------------------------------------------------------------
# Hypsometric curve + integral
# ---------------------------------------------------------------------------
def test_hypsometry_twin_parity(spark):
    """condition -> basins -> hypsometry vs the DuckDB twin over the
    identical (basin, z) cells; bins, counts and the exact rational HI all
    hash-equal."""
    import duckdb

    rng = random.Random(4800)
    res = 8
    tiles = _rand_tiles(rng, res, 4, span=2, density=0.8)
    df = _mk_df(spark, tiles)
    flow = terrain.condition_dem(df, res)
    bas = terrain.basins(flow, res)
    out = terrain.hypsometry(df, bas, res, n_bins=8).collect()
    got = {
        (r["basin"], r["bin"]): (r["n_cells"], r["hi_num"], r["hi_den"])
        for r in out
    }
    zmap = {}
    for (tx, ty), g in tiles.items():
        for i in range(res * res):
            zmap[(tx * res + i % res, ty * res + i // res)] = g[i]
    rows = [
        (r["basin"], zmap[(r["gx"], r["gy"])]) for r in bas.collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE bc (basin BIGINT, z BIGINT)")
    con.executemany("INSERT INTO bc VALUES (?, ?)", rows)
    want = {
        (b, bn): (n, hn, hd)
        for b, bn, n, hn, hd in con.execute(
            terrain.hypsometry_sql("SELECT basin, z FROM bc", n_bins=8)
        ).fetchall()
    }
    assert got == want
    # per-basin cell counts conserve
    from collections import Counter
    per_basin = Counter()
    for (b, _bn), (n, _hn, _hd) in got.items():
        per_basin[b] += n
    want_counts = Counter(b for b, _z in rows)
    assert per_basin == want_counts


def test_hypsometry_closed_forms(spark):
    """One basin over a linear ramp: HI = 1/2 exactly (2*num == den) and
    the 8 bins are uniform; a constant basin collapses to bin 0 with
    den 0."""
    res = 4
    n = res * res
    ramp = list(range(n))
    df = spark.createDataFrame(
        [(0, 0, ramp)], "tx long, ty long, counts array<long>"
    )
    cells = spark.createDataFrame(
        [(x, y, 7) for x in range(res) for y in range(res)],
        "gx long, gy long, basin long",
    )
    out = terrain.hypsometry(df, cells, res, n_bins=8).collect()
    assert sum(r["n_cells"] for r in out) == n
    for r in out:
        assert 2 * r["hi_num"] == r["hi_den"]
        assert r["n_cells"] == n // 8
    flat = spark.createDataFrame(
        [(0, 0, [5] * n)], "tx long, ty long, counts array<long>"
    )
    fo = terrain.hypsometry(flat, cells, res, n_bins=8).collect()
    assert len(fo) == 1 and fo[0]["bin"] == 0 and fo[0]["hi_den"] == 0
    with pytest.raises(ValueError):
        terrain.hypsometry(df, cells, res, n_bins=0)


# ---------------------------------------------------------------------------
# Zevenbergen-Thorne curvature (profile / plan / general)
# ---------------------------------------------------------------------------
def _collect_curv(df, res):
    out = {}
    for r in df.collect():
        for pix in range(res * res):
            gx = r["tx"] * res + pix % res
            gy = r["ty"] * res + pix // res
            out[(gx, gy)] = tuple(
                r[n][pix] for n in ("zt_d", "zt_e", "zt_f", "zt_g", "zt_h")
            )
    return out


def _py_curv(cells):
    """Python oracle: the five ZT numerators with zero padding (y up)."""
    out = {}
    for (gx, gy) in cells:
        def z(dx, dy):
            return cells.get((gx + dx, gy + dy), 0)

        zc = z(0, 0)
        out[(gx, gy)] = (
            z(-1, 0) + z(1, 0) - 2 * zc,
            z(0, 1) + z(0, -1) - 2 * zc,
            -z(-1, 1) + z(1, 1) + z(-1, -1) - z(1, -1),
            z(1, 0) - z(-1, 0),
            z(0, 1) - z(0, -1),
        )
    return out


@halo_plan
def test_curvature_numerators_oracle_parity(spark, plan):
    rng = random.Random(4500)
    res = 8
    tiles = _rand_tiles(rng, res, 6, span=2, density=0.6)
    cells = {
        (tx * res + i % res, ty * res + i // res): g[i]
        for (tx, ty), g in tiles.items()
        for i in range(res * res)
    }
    got = _collect_curv(
        terrain.curvature_numerators(_mk_df(spark, tiles), res),
        res,
    )
    assert got == _py_curv(cells)


def test_curvature_paraboloid_closed_form(spark):
    """z = x^2 + y^2 (a bowl, integers exactly): interior pixels have
    zt_d = zt_e = 2, zt_f = 0, zt_g = 4x, zt_h = 4y; the ESRI-convention
    surfaces are general = -400 (concave up), profile = +200 (upwardly
    concave along the slope line), plan = -200 (laterally concave) at
    every non-flat interior pixel — exact constants."""
    res = 8
    tiles = {
        (tx, ty): [
            (tx * res + i % res) ** 2 + (ty * res + i // res) ** 2
            for i in range(res * res)
        ]
        for tx in (-1, 0) for ty in (-1, 0)
    }
    df = _mk_df(spark, tiles)
    nums = terrain.curvature_numerators(df, res)
    got = _collect_curv(nums, res)
    for (gx, gy), (d, e, f, g, h) in got.items():
        if -res + 1 <= gx <= res - 2 and -res + 1 <= gy <= res - 2:
            assert (d, e, f, g, h) == (2, 2, 0, 4 * gx, 4 * gy), (gx, gy)
    surf = terrain.curvature_surfaces(nums).collect()
    for r in surf:
        for pix in range(res * res):
            gx = r["tx"] * res + pix % res
            gy = r["ty"] * res + pix // res
            if not (-res + 1 <= gx <= res - 2 and -res + 1 <= gy <= res - 2):
                continue
            assert r["curv_general"][pix] == -400.0, (gx, gy)
            if (gx, gy) == (0, 0):
                assert r["curv_profile"][pix] is None
                assert r["curv_plan"][pix] is None
            else:
                assert abs(r["curv_profile"][pix] - 200.0) < 1e-9
                assert abs(r["curv_plan"][pix] + 200.0) < 1e-9


def test_curvature_cylinder_and_flat(spark):
    """z = x^2 (a parabolic trough): contours are straight lines, so
    plan = 0 exactly; profile = 200, general = -200. A constant raster:
    general = 0 everywhere, profile/plan NULL (flat pixels)."""
    res = 8
    tiles = {
        (tx, 0): [(tx * res + i % res) ** 2 for i in range(res * res)]
        for tx in (-1, 0)
    }
    df = _mk_df(spark, tiles)
    surf = terrain.curvature_surfaces(
        terrain.curvature_numerators(df, res)
    ).collect()
    for r in surf:
        for pix in range(res * res):
            gx = r["tx"] * res + pix % res
            gy = r["ty"] * res + pix // res
            if not (-res + 1 <= gx <= res - 2 and 1 <= gy <= res - 2):
                continue
            assert r["curv_general"][pix] == -200.0
            if gx == 0:
                assert r["curv_profile"][pix] is None
            else:
                assert abs(r["curv_profile"][pix] - 200.0) < 1e-9
                assert abs(r["curv_plan"][pix]) < 1e-9
    flat = {(0, 0): [9] * (res * res)}
    fs = terrain.curvature_surfaces(
        terrain.curvature_numerators(_mk_df(spark, flat), res)
    ).collect()[0]
    for pix in range(res * res):
        gx, gy = pix % res, pix // res
        if 1 <= gx <= res - 2 and 1 <= gy <= res - 2:
            assert fs["curv_general"][pix] == 0.0
            assert fs["curv_profile"][pix] is None
            assert fs["curv_plan"][pix] is None


def test_curvature_zfactor_cellsize_scaling(spark):
    """general scales by z_factor / cellsize^2; profile/plan likewise (the
    G/H quadratic ratio is scale-free)."""
    res = 8
    rng = random.Random(4501)
    tiles = _rand_tiles(rng, res, 3, span=1, density=0.9)
    nums = terrain.curvature_numerators(_mk_df(spark, tiles), res)
    base = terrain.curvature_surfaces(nums).collect()
    scaled = terrain.curvature_surfaces(
        nums, cellsize=2.0, z_factor=3.0
    ).collect()
    k = 3.0 / 4.0
    bm = {(r["tx"], r["ty"]): r for r in base}
    for r in scaled:
        b = bm[(r["tx"], r["ty"])]
        for pix in range(res * res):
            for col in ("curv_general", "curv_profile", "curv_plan"):
                x, y = b[col][pix], r[col][pix]
                assert (x is None) == (y is None)
                if x is not None:
                    assert abs(y - k * x) <= 1e-9 * max(1.0, abs(x))


def test_curvature_duckdb_twin(spark):
    """Halo kernel vs five focal_stencil_sql scatter passes in DuckDB —
    the registry 'curv' half's derivation, exact-int equality."""
    import duckdb

    from engine.focal import focal_stencil_sql

    rng = random.Random(4502)
    res = 8
    tiles = _rand_tiles(rng, res, 4, span=2, density=0.7)
    got = _collect_curv(
        terrain.curvature_numerators(_mk_df(spark, tiles), res), res
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE tiles (tx BIGINT, ty BIGINT, counts BIGINT[])")
    for (tx, ty), g in tiles.items():
        con.execute("INSERT INTO tiles VALUES (?, ?, ?)", [tx, ty, g])
    want = {}
    per = {}
    for name, w in terrain.ZT_STENCILS.items():
        per[name] = {
            (r[0], r[1]): r[2]
            for r in con.execute(
                f"SELECT tx, ty, focal FROM ({focal_stencil_sql('tiles', res, w)}) q"
            ).fetchall()
        }
    names = list(terrain.ZT_STENCILS)
    for key in per["zt_d"]:
        tx, ty = key
        for pix in range(res * res):
            want[(tx * res + pix % res, ty * res + pix // res)] = tuple(
                per[n][key][pix] for n in names
            )
    assert got == want


# ---------------------------------------------------------------------------
# Multi-radius TPI + Weiss landform classification
# ---------------------------------------------------------------------------
def _py_tpi(cells, radius):
    out = {}
    for (gx, gy), z in cells.items():
        s = cnt = 0
        for dx in range(-radius, radius + 1):
            for dy in range(-radius, radius + 1):
                if dx == 0 and dy == 0:
                    continue
                zn = cells.get((gx + dx, gy + dy))
                if zn is not None:
                    s += zn
                    cnt += 1
        out[(gx, gy)] = (cnt * z - s, cnt)
    return out


def _cells_of_tiles(tiles, res):
    return {
        (tx * res + i % res, ty * res + i // res): g[i]
        for (tx, ty), g in tiles.items()
        for i in range(res * res)
    }


@halo_plan
def test_tpi_at_radius2_oracle(spark, plan):
    rng = random.Random(4600)
    res = 8
    tiles = _rand_tiles(rng, res, 5, span=2, density=0.7)
    got = {}
    for r in terrain.tpi_at(_mk_df(spark, tiles), res, 2).collect():
        for pix in range(res * res):
            got[(r["tx"] * res + pix % res, r["ty"] * res + pix // res)] = (
                r["tpi_num"][pix], r["tpi_den"][pix]
            )
    assert got == _py_tpi(_cells_of_tiles(tiles, res), 2)


def test_tpi_at_radius1_equals_surface_products(spark):
    rng = random.Random(4601)
    res = 8
    tiles = _rand_tiles(rng, res, 4, span=2, density=0.8)
    df = _mk_df(spark, tiles)
    a = {
        (r["tx"], r["ty"]): (list(r["tpi_num"]), list(r["tpi_den"]))
        for r in terrain.tpi_at(df, res, 1).collect()
    }
    b = {
        (r["tx"], r["ty"]): (list(r["tpi_num"]), list(r["tpi_den"]))
        for r in terrain.surface_products(df, res).collect()
    }
    assert a == b


def _py_landform(cells, r_small, r_large, ts_thr, tl_thr, flat2):
    ts_map = _py_tpi(cells, r_small)
    tl_map = _py_tpi(cells, r_large)
    out = {}
    for (gx, gy), z in cells.items():
        def zz(dx, dy):
            return cells.get((gx + dx, gy + dy), 0)

        gx8 = (zz(1, -1) + 2 * zz(1, 0) + zz(1, 1)
               - zz(-1, -1) - 2 * zz(-1, 0) - zz(-1, 1))
        gy8 = (zz(-1, 1) + 2 * zz(0, 1) + zz(1, 1)
               - zz(-1, -1) - 2 * zz(0, -1) - zz(1, -1))
        sn, sd = ts_map[(gx, gy)]
        ln, ld = tl_map[(gx, gy)]
        ts = (1000 * sn) // sd
        tl = (1000 * ln) // ld
        lo_s, hi_s = ts <= -ts_thr, ts >= ts_thr
        lo_l, hi_l = tl <= -tl_thr, tl >= tl_thr
        flat = gx8 * gx8 + gy8 * gy8 <= flat2
        if lo_s:
            c = 1 if lo_l else (3 if hi_l else 2)
        elif hi_s:
            c = 8 if lo_l else (10 if hi_l else 9)
        elif lo_l:
            c = 4
        elif hi_l:
            c = 7
        else:
            c = 5 if flat else 6
        out[(gx, gy)] = c
    return out


def test_landform_classes_oracle_and_twin(spark):
    """Random ragged tiles: Spark == python decision-table oracle == the
    independent DuckDB neighbor-join twin, every pixel."""
    import duckdb

    rng = random.Random(4602)
    res = 8
    tiles = _rand_tiles(rng, res, 5, span=2, density=0.7)
    args = dict(r_small=1, r_large=2, thresh_small_e3=500,
                thresh_large_e3=700, flat_num2=1000)
    got = {}
    out = terrain.landform_classes(
        _mk_df(spark, tiles), res,
        args["r_small"], args["r_large"],
        args["thresh_small_e3"], args["thresh_large_e3"], args["flat_num2"],
    ).collect()
    for r in out:
        for pix in range(res * res):
            got[(r["tx"] * res + pix % res, r["ty"] * res + pix // res)] = \
                r["landform"][pix]
    want = _py_landform(
        _cells_of_tiles(tiles, res), args["r_small"], args["r_large"],
        args["thresh_small_e3"], args["thresh_large_e3"], args["flat_num2"],
    )
    assert got == want
    con = duckdb.connect()
    con.execute("CREATE TABLE tiles (tx BIGINT, ty BIGINT, counts BIGINT[])")
    for (tx, ty), g in tiles.items():
        con.execute("INSERT INTO tiles VALUES (?, ?, ?)", [tx, ty, g])
    sql = terrain.landform_classes_sql(
        "tiles", res, args["r_small"], args["r_large"],
        args["thresh_small_e3"], args["thresh_large_e3"], args["flat_num2"],
    )
    twin = {(gx, gy): c for gx, gy, c in con.execute(sql).fetchall()}
    assert twin == want


def test_landform_valley_ridge_closed_form(spark):
    """z = 50*|x - 11.5| rounded to ints on a 24-px strip: the valley floor
    classifies as canyon (1), the steep flanks as open slopes (6), and a
    constant raster as plains (5) everywhere."""
    res = 8
    def zf(gx):
        return 50 * abs(2 * gx - 23)  # 100*|x-11.5|, integer

    tiles = {
        (tx, 0): [zf(tx * res + i % res) for i in range(res * res)]
        for tx in (0, 1, 2)
    }
    out = terrain.landform_classes(
        _mk_df(spark, tiles), res, r_small=1, r_large=2,
        thresh_small_e3=10000, thresh_large_e3=10000, flat_num2=100,
    ).collect()
    cls = {}
    for r in out:
        for pix in range(res * res):
            cls[(r["tx"] * res + pix % res, r["ty"] * res + pix // res)] = \
                r["landform"][pix]
    # valley floor (gx 11, 12 are the two minimum columns), interior rows
    for gy in range(2, res - 2):
        assert cls[(11, gy)] == 1 and cls[(12, gy)] == 1
        # mid-flank pixels: straight steep slope -> open slope
        assert cls[(6, gy)] == 6 and cls[(17, gy)] == 6
    flat = {(0, 0): [7] * (res * res)}
    fo = terrain.landform_classes(
        _mk_df(spark, flat), res, r_small=1, r_large=2,
        thresh_small_e3=1000, thresh_large_e3=1000, flat_num2=0,
    ).collect()[0]
    # interior pixels of a constant raster are plains; border pixels see the
    # zero-padded outside (Horn gradients nonzero there), so are excluded
    for pix, c in enumerate(fo["landform"]):
        gx, gy = pix % res, pix // res
        if 1 <= gx <= res - 2 and 1 <= gy <= res - 2:
            assert c == 5, (gx, gy)
    with pytest.raises(ValueError):
        terrain.landform_classes(_mk_df(spark, flat), res, 2, 2)


# ---------------------------------------------------------------------------
# Horizon angles + sky-view factor
# ---------------------------------------------------------------------------
_HZ_DIRS = [(1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0), (-1, -1), (0, -1), (1, -1)]


def _py_horizon(cells, radius):
    out = {}
    for (gx, gy), z in cells.items():
        per = []
        for dx, dy in _HZ_DIRS:
            bn, bd = 0, 1
            for s in range(1, radius + 1):
                zn = cells.get((gx + dx * s, gy + dy * s))
                if zn is None:
                    continue
                dz = zn - z
                if dz * bd > bn * s:
                    bn, bd = dz, s
            per.append((bn, bd))
        out[(gx, gy)] = per
    return out


def _collect_hz(df, res):
    out = {}
    for r in df.collect():
        for pix in range(res * res):
            out[(r["tx"] * res + pix % res, r["ty"] * res + pix // res)] = [
                (r[f"h{i}_num"][pix], r[f"h{i}_den"][pix]) for i in range(8)
            ]
    return out


def test_horizon_angles_oracle_parity(spark):
    rng = random.Random(4700)
    res = 8
    tiles = _rand_tiles(rng, res, 5, span=2, density=0.6)
    cells = _cells_of_tiles(tiles, res)
    got = _collect_hz(
        terrain.horizon_angles(_mk_df(spark, tiles), res, 3), res
    )
    assert got == _py_horizon(cells, 3)


def test_horizon_wall_and_flat_closed_form(spark):
    """Flat plane: every horizon (0,1), svf == 1.0 exactly. A 1-px-wide
    wall of height 40 in column x=5: a pixel at x=2 sees tan = 40/3 east
    ((40, 3)), nothing west; beyond the radius the wall vanishes."""
    res = 8
    flat = {(0, 0): [7] * (res * res)}
    hz = terrain.horizon_angles(_mk_df(spark, flat), res, 3)
    got = _collect_hz(hz, res)
    assert all(v == [(0, 1)] * 8 for v in got.values())
    svf = terrain.sky_view_factor(hz).collect()[0]
    assert all(v == 1.0 for v in svf["svf"])
    assert all(v == 0.0 for v in svf["mean_horizon_rad"])
    wall = [7] * (res * res)
    for gy in range(res):
        wall[gy * res + 5] = 47
    got = _collect_hz(
        terrain.horizon_angles(_mk_df(spark, {(0, 0): wall}), res, 3), res
    )
    assert got[(2, 3)][0] == (40, 3)   # E: wall 3 away
    assert got[(2, 3)][4] == (0, 1)    # W: flat
    assert got[(1, 3)][0] == (0, 1)    # wall 4 away > radius 3
    assert got[(6, 3)][4] == (40, 1)   # W from the other side, 1 away
    # on top of the wall everything is below: all flat sky
    assert got[(5, 4)] == [(0, 1)] * 8


def test_horizon_nearest_tie_and_transparency(spark):
    """Two samples with the SAME tangent in one direction: the nearer wins.
    A missing (absent-tile) sample is transparent, not a horizon."""
    res = 8
    g = [0] * (res * res)
    # along +x from (1, 2): z=10 at distance 1 and z=20 at distance 2 have
    # equal tangent 10 -> winner (10, 1)
    g[2 * res + 2] = 10
    g[2 * res + 3] = 20
    got = _collect_hz(
        terrain.horizon_angles(_mk_df(spark, {(0, 0): g}), res, 4), res
    )
    assert got[(1, 2)][0] == (10, 1)
    # lone tile: all outside samples transparent; border pixel sees only
    # in-tile cells
    assert got[(0, 0)][4] == (0, 1)


def test_horizon_duckdb_twin(spark):
    import duckdb

    rng = random.Random(4701)
    res = 8
    tiles = _rand_tiles(rng, res, 4, span=2, density=0.7)
    got = _collect_hz(
        terrain.horizon_angles(_mk_df(spark, tiles), res, 3), res
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE hzc (gx BIGINT, gy BIGINT, z BIGINT)")
    for (gx, gy), z in _cells_of_tiles(tiles, res).items():
        con.execute("INSERT INTO hzc VALUES (?, ?, ?)", [gx, gy, z])
    want = {}
    for gx, gy, d, num, den in con.execute(
        terrain.horizon_angles_sql("SELECT gx, gy, z FROM hzc", 3)
    ).fetchall():
        want.setdefault((gx, gy), [None] * 8)[d] = (num, den)
    assert got == want


def test_sky_view_factor_pit_numpy_parity(spark):
    """A pixel at the bottom of a uniform-depth pit: svf matches the numpy
    replay of the identical formula, and is well below the rim's."""
    import numpy as np

    res = 8
    g = [50] * (res * res)
    g[3 * res + 3] = 0  # pit pixel at (3, 3)
    hz = terrain.horizon_angles(_mk_df(spark, {(0, 0): g}), res, 2)
    out = {
        (r["tx"], r["ty"]): r
        for r in terrain.sky_view_factor(hz, cellsize=5.0).collect()
    }[(0, 0)]
    pix = 3 * res + 3
    sins = []
    for i in range(8):
        ln = math.sqrt(2.0) if _HZ_DIRS[i][0] * _HZ_DIRS[i][1] != 0 else 1.0
        t = out[f"h{i}_num"][pix] / (out[f"h{i}_den"][pix] * ln * 5.0)
        sins.append(t / math.sqrt(1.0 + t * t))
    want = 1.0 - sum(sins) / 8.0
    assert out["svf"][pix] == pytest.approx(want, rel=1e-12)
    assert out["svf"][pix] < 0.35 < out["svf"][0]


# ---------------------------------------------------------------------------
# intervisibility pair join
# ---------------------------------------------------------------------------
def _py_los(cells, a, b, h):
    """LOS from a -> b with the viewshed conventions (round-half-away
    lattice ray, strict block, transparency)."""
    ax, ay = a
    bx, by = b
    dx, dy = bx - ax, by - ay
    D = max(abs(dx), abs(dy))
    zo = cells[(ax, ay)] + h
    bt = cells[(bx, by)] + h - zo
    dist2 = dx * dx + dy * dy
    nb = 0
    for k in range(1, D):
        def rha(v):
            s = (v > 0) - (v < 0)
            return s * ((2 * abs(v) + D) // (2 * D))

        px, py = rha(k * dx), rha(k * dy)
        z = cells.get((ax + px, ay + py))
        if z is None:
            continue
        aa = z - zo
        lhs = aa * aa * dist2
        rhs = bt * bt * (px * px + py * py)
        if (aa >= 0 and bt < 0) or (aa >= 0 and bt >= 0 and lhs > rhs) \
                or (aa < 0 and bt < 0 and lhs < rhs):
            nb += 1
    return nb


def test_intervisibility_oracle_and_cases(spark):
    rng = random.Random(4800)
    res = 8
    tiles = _rand_tiles(rng, res, 6, span=2, density=0.8)
    cells = _cells_of_tiles(tiles, res)
    pts = [
        (i, gx, gy) for i, (gx, gy) in enumerate(
            rng.sample(sorted(cells), 14)
        )
    ]
    df = _mk_df(spark, tiles)
    pdf = spark.createDataFrame(pts, "pid long, gx long, gy long")
    got = {
        (r["pid_a"], r["pid_b"]): (r["n_blockers"], r["visible"])
        for r in terrain.intervisibility(df, res, pdf, max_range=9, height=1)
        .collect()
    }
    coords = {p: (gx, gy) for p, gx, gy in pts}
    want = {}
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            pa, pb = pts[i][0], pts[j][0]
            if pa > pb:
                pa, pb = pb, pa
            A, B = coords[pa], coords[pb]
            d2 = (A[0] - B[0]) ** 2 + (A[1] - B[1]) ** 2
            if d2 <= 81:
                nb = _py_los(cells, A, B, 1)
                want[(pa, pb)] = (nb, nb == 0)
    assert got == want


def test_intervisibility_wall_mast_flat(spark):
    res = 8
    flat = [5] * (res * res)
    wall = list(flat)
    for gy in range(res):
        wall[gy * res + 4] = 50
    tiles = {(0, 0): wall}
    df = _mk_df(spark, tiles)
    pts = spark.createDataFrame(
        [(1, 1, 3), (2, 7, 3), (3, 4, 6)], "pid long, gx long, gy long"
    )
    out = {
        (r["pid_a"], r["pid_b"]): r["visible"]
        for r in terrain.intervisibility(df, res, pts, max_range=8).collect()
    }
    assert out[(1, 2)] is False       # the wall blocks across
    assert out[(1, 3)] is True        # wall-top point sees over its wall
    # tall masts see over the wall
    out2 = {
        (r["pid_a"], r["pid_b"]): r["visible"]
        for r in terrain.intervisibility(
            df, res, pts, max_range=8, height=60
        ).collect()
    }
    assert out2[(1, 2)] is True
    # flat terrain: everything within range sees everything; out of range
    # pairs absent
    fdf = _mk_df(spark, {(0, 0): flat})
    # d2((1,3)-(4,6)) = d2((7,3)-(4,6)) = 18 <= 25; d2((1,3)-(7,3)) = 36 out
    fout = terrain.intervisibility(fdf, res, pts, max_range=5)
    rows = fout.collect()
    assert all(r["visible"] for r in rows)
    assert {(r["pid_a"], r["pid_b"]) for r in rows} == {(1, 3), (2, 3)}
    with pytest.raises(ValueError):
        terrain.intervisibility(fdf, res, pts, max_range=0)


# ---------------------------------------------------------------------------
# openness + multidirectional hillshade
# ---------------------------------------------------------------------------
def test_openness_flat_pit_ridge(spark):
    import numpy as np

    res = 8
    flat = {(0, 0): [9] * (res * res)}
    out = terrain.openness(_mk_df(spark, flat), res, 3).collect()[0]
    for pix in range(res * res):
        assert out["pos_open"][pix] == pytest.approx(math.pi / 2, abs=1e-12)
        assert out["neg_open"][pix] == pytest.approx(math.pi / 2, abs=1e-12)
    # a pit pixel: pos_open stays pi/2 looking up... the pit sees walls ->
    # pos < pi/2 at the bottom; the RIM's neg_open drops (it overlooks the
    # pit). python replay over the horizon rationals:
    g = [20] * (res * res)
    g[3 * res + 3] = 0
    hz = terrain.horizon_angles(_mk_df(spark, {(0, 0): g}), res, 2)
    r = hz.collect()[0]
    op = terrain.openness(_mk_df(spark, {(0, 0): g}), res, 2).collect()[0]
    pix = 3 * res + 3
    want = 0.0
    for i in range(8):
        ln = math.sqrt(2.0) if _HZ_DIRS[i][0] * _HZ_DIRS[i][1] != 0 else 1.0
        t = r[f"h{i}_num"][pix] / (r[f"h{i}_den"][pix] * ln)
        want += math.pi / 2 - math.atan(t)
    assert op["pos_open"][pix] == pytest.approx(want / 8.0, rel=1e-12)
    assert op["pos_open"][pix] < math.pi / 2 - 0.5
    # the pit bottom is maximally open downward-looking... its neg_open
    # is pi/2 (inverted surface: the pit becomes a peak)
    assert op["neg_open"][pix] == pytest.approx(math.pi / 2, abs=1e-12)
    # a rim neighbor overlooks the pit: neg_open < pi/2, pos_open = pi/2
    rim = 3 * res + 4
    assert op["neg_open"][rim] < math.pi / 2
    assert op["pos_open"][rim] == pytest.approx(math.pi / 2, abs=1e-12)


def test_multidirectional_hillshade(spark):
    """Single-azimuth degenerate == slope_aspect_hillshade's value; the
    4-sun default is the weighted mean of its components (python replay)."""
    rng = random.Random(4900)
    res = 8
    tiles = _rand_tiles(rng, res, 3, span=1, density=0.9)
    grads = terrain.terrain_gradients(_mk_df(spark, tiles), res)
    one = terrain.multidirectional_hillshade(
        grads, azimuths_deg=(315.0,), weights=(1.0,)
    ).collect()
    base = {
        (r["tx"], r["ty"]): r
        for r in terrain.slope_aspect_hillshade(grads).collect()
    }
    for r in one:
        b = base[(r["tx"], r["ty"])]
        for pix in range(res * res):
            assert r["hillshade_md"][pix] == pytest.approx(
                b["hillshade"][pix], rel=1e-12
            )
    multi = terrain.multidirectional_hillshade(grads).collect()
    comps = {
        az: {
            (r["tx"], r["ty"]): r
            for r in terrain.slope_aspect_hillshade(
                grads, azimuth_deg=az
            ).collect()
        }
        for az in (225.0, 270.0, 315.0, 360.0)
    }
    for r in multi:
        for pix in range(res * res):
            want = sum(
                comps[az][(r["tx"], r["ty"])]["hillshade"][pix]
                for az in (225.0, 270.0, 315.0, 360.0)
            ) / 4.0
            assert r["hillshade_md"][pix] == pytest.approx(want, rel=1e-9)
    with pytest.raises(ValueError):
        terrain.multidirectional_hillshade(grads, azimuths_deg=(), weights=())


def test_halo_fixpoint_driver_vs_distributed(spark, monkeypatch):
    """r6: _halo_fixpoint's driver-solve fast path must be bit-identical to
    the distributed block-Jacobi loop (same kernels, same synchronous
    schedule) — checked here for fill + flats + strahler + cost on a
    multi-tile fixture with absent tiles, so the distributed path keeps
    dedicated coverage now that small rasters default to the driver path."""
    _halo_fixpoint_parity(spark, monkeypatch, local=False)


def test_halo_fixpoint_driver_vs_distributed_local_relation(
    spark, monkeypatch
):
    """The same parity over a local-relation raster: the driver side then
    reads its rows through session.driver_table (no gate job), the
    distributed side runs the digest gate on the same frames."""
    _halo_fixpoint_parity(spark, monkeypatch, local=True)


def _halo_fixpoint_parity(spark, monkeypatch, local: bool):
    import random as _r

    res = 8
    rng = _r.Random(3)
    rows = []
    for tx, ty in [(-1, 0), (0, 0), (1, 0), (0, -1), (2, 1)]:  # L-shape + hole
        rows.append((tx, ty, [rng.randint(0, 9) for _ in range(res * res)]))
    schema = "tx long, ty long, counts array<long>"
    tiles = (
        local_relation(spark, rows, schema) if local
        else spark.createDataFrame(rows, schema)
    )

    def run_all():
        filled = terrain.fill_depressions(tiles, res)
        flats = terrain.resolve_flats(filled, res)
        st = terrain.strahler_order(flats, res)
        acc = terrain.flow_accumulation(flats, res)
        cost = terrain.cost_surface(
            tiles.select(
                "tx", "ty",
                F.transform("counts", lambda c: c + 1).alias("counts"),
            ),
            res,
            [(0, 0), (10, 5)],
        )
        key = lambda df: sorted(  # noqa: E731
            (r[0], r[1], tuple(r[2])) for r in df.collect()
        )
        return [
            key(filled.select("tx", "ty", "filled")),
            key(flats.select("tx", "ty", "d8_dir")),
            key(flats.select("tx", "ty", "flat_d")),
            key(st.select("tx", "ty", "strahler")),
            key(acc.select("tx", "ty", "acc")),
            key(cost.select("tx", "ty", "cost_dist")),
        ]

    driver = run_all()
    monkeypatch.setattr(terrain, "_DRIVER_SOLVE_CELLS", 0)
    dist = run_all()
    assert driver == dist


def test_halo_apply_driver_parity(spark):
    """r6: focal._halo_apply over a local relation must emit
    the exact rows of the distributed strip-shuffle path for every one-shot
    halo consumer shape: r=1 multi-field (gradients), r>1 single-field
    (tpi), pass_key (viewshed), and the radius-R EDT."""
    import random as _r

    res = 8
    rng = _r.Random(7)
    rows = [
        (tx, ty, [rng.randint(0, 9) for _ in range(res * res)])
        for tx, ty in [(0, 0), (1, 0), (0, 1), (2, 2)]
    ]
    tiles = spark.createDataFrame(rows, "tx long, ty long, counts array<long>")
    obs = spark.createDataFrame([(3, 3), (10, 5)], "gx long, gy long")

    def run(df):
        key = lambda out, cols: sorted(  # noqa: E731
            (r[0], r[1]) + tuple(tuple(r[c]) for c in cols)
            for r in out.collect()
        )
        return [
            key(terrain.terrain_gradients(df, res), ["dzdx8", "dzdy8"]),
            key(terrain.tpi_at(df, res, radius=2), ["tpi_num", "tpi_den"]),
            key(
                terrain.viewshed(df, res, obs, radius=5, observer_height=1),
                ["vis"],
            ),
            key(
                terrain.distance_transform(df, res, radius=5, allocate=True),
                ["dist2", "alloc"],
            ),
            key(terrain.d8_flow(df, res), ["d8_dir", "d8_key"]),
            sorted(
                tuple(r) for r in terrain.flow_edges(
                    terrain.d8_flow(df, res), res
                ).collect()
            ),
        ]

    dist = run(tiles)
    drv = run(local_relation(spark, tiles.toArrow(), tiles.schema))
    assert drv == dist


def test_flow_edges_driver_path_arrow_off(spark):
    """flow_edges' driver twin builds the same bigint relation, sinks' null
    `dst` included, in a session with Arrow conversion off."""
    import random as _r

    bare = spark.newSession()
    bare.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    res = 8
    rng = _r.Random(11)
    rows = [
        (tx, ty, [rng.randint(0, 9) for _ in range(res * res)])
        for tx, ty in [(0, 0), (1, 0), (0, 1), (2, 2)]
    ]
    tiles = bare.createDataFrame(rows, "tx long, ty long, counts array<long>")

    def edges(df):
        out = terrain.flow_edges(terrain.d8_flow(df, res), res)
        assert [f.dataType.simpleString() for f in out.schema.fields] == [
            "bigint"] * 6
        return sorted(tuple(r) for r in out.collect())

    dist = edges(tiles)
    drv = edges(local_relation(bare, tiles.toArrow(), tiles.schema))
    assert drv == dist
    assert any(r[5] is None for r in drv)  # sinks
