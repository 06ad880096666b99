"""engine.focal: the halo-exchange plan vs Python and DuckDB oracles."""

import random

import pytest

from engine import focal
from engine.session import local_relation, local_table
from tests.conftest import spark  # noqa: F401


def _py_focal(tiles, res, r):
    """tiles: {(tx, ty): [res*res ints]} -> same keys, box-window sums with
    zero padding outside the tile union."""
    cells = {}
    for (tx, ty), grid in tiles.items():
        for pix, n in enumerate(grid):
            if n:
                cells[(tx * res + pix % res, ty * res + pix // res)] = n
    out = {}
    for (tx, ty), _grid in tiles.items():
        g = [0] * (res * res)
        for py in range(res):
            for px in range(res):
                gx, gy = tx * res + px, ty * res + py
                s = 0
                for dy in range(-r, r + 1):
                    for dx in range(-r, r + 1):
                        s += cells.get((gx + dx, gy + dy), 0)
                g[py * res + px] = s
        out[(tx, ty)] = g
    return out


def _rand_tiles(rng, res, n_tiles, span=4, density=0.3):
    """Sparse random tile set incl. negative coords, gaps, an all-zero tile."""
    keys = set()
    while len(keys) < n_tiles:
        keys.add((rng.randint(-span, span), rng.randint(-span, span)))
    tiles = {}
    for k in keys:
        grid = [
            rng.randint(1, 99) if rng.random() < density else 0
            for _ in range(res * res)
        ]
        tiles[k] = grid
    # force one all-zero tile (left-join zero-fill path)
    tiles[next(iter(tiles))] = [0] * (res * res)
    return tiles


def _mk_df(spark, tiles):
    return spark.createDataFrame(
        [(tx, ty, grid) for (tx, ty), grid in tiles.items()],
        "tx long, ty long, counts array<long>",
    )


def _mk_local(spark, tiles):
    """The same raster as a local relation: the driver halo pass and the
    driver totals take it."""
    return local_relation(
        spark, [(tx, ty, grid) for (tx, ty), grid in tiles.items()],
        "tx long, ty long, counts array<long>",
    )


def _inputs(spark, tiles):
    """The raster as each input kind: a createDataFrame frame (distributed
    halo exchange and aggregate) and a local relation (driver path)."""
    return [_mk_df(spark, tiles), _mk_local(spark, tiles)]


def _collect(df):
    return {(r["tx"], r["ty"]): list(r["focal"]) for r in df.collect()}


# Halo exchange is the one focal plan; the "[halo]" case ids name it.
halo_plan = pytest.mark.parametrize("plan", ["halo"])
# the statistics take a second path over a local relation: "[driver]"
input_plan = pytest.mark.parametrize("plan", ["halo", "driver"])


def _plan_input(spark, tiles, plan):
    """plan "halo": a createDataFrame input over 3 partitions (distributed
    halo exchange); "driver": a local relation (driver halo pass and
    driver totals)."""
    if plan == "halo":
        return _mk_df(spark, tiles).repartition(3)
    return _mk_local(spark, tiles)


@pytest.mark.parametrize("radius", [1, 2])
@halo_plan
def test_matches_python_oracle(spark, plan, radius):
    rng = random.Random(42 + radius)
    res = 8
    tiles = _rand_tiles(rng, res, 12)
    df = _mk_df(spark, tiles).repartition(5)
    got = _collect(focal.focal_sum(df, res, radius=radius))
    want = _py_focal(tiles, res, radius)
    assert got == want


def test_halo_equals_scatter_bigger_grid(spark):
    """res 16 over 7 partitions: halo strips route between more tiles than
    the res-8 cases, still equal to the Python window sums."""
    rng = random.Random(7)
    res = 16
    tiles = _rand_tiles(rng, res, 20, span=6, density=0.5)
    df = _mk_df(spark, tiles).repartition(7)
    a = _collect(focal.focal_sum(df, res, radius=1))
    assert a == _py_focal(tiles, res, 1)
    assert set(a) == set(tiles)


def test_isolated_tile_interior_only(spark):
    # a lone tile: the window never sees a neighbor, so focal == local conv
    res, r = 4, 1
    grid = list(range(16))
    tiles = {(100, -100): grid}
    df = _mk_df(spark, tiles)
    got = _collect(focal.focal_sum(df, res, radius=r))
    assert got == _py_focal(tiles, res, r)


def test_sql_twin_matches_spark(spark):
    import duckdb

    rng = random.Random(99)
    res = 8
    tiles = _rand_tiles(rng, res, 10)
    df = _mk_df(spark, tiles)
    got = _collect(focal.focal_sum(df, res, radius=1))
    con = duckdb.connect()
    con.execute("CREATE TABLE tiles(tx BIGINT, ty BIGINT, counts BIGINT[])")
    con.executemany(
        "INSERT INTO tiles VALUES (?, ?, ?)",
        [(tx, ty, grid) for (tx, ty), grid in tiles.items()],
    )
    want = {
        (r[0], r[1]): list(r[2])
        for r in con.execute(focal.focal_sum_sql("tiles", res, 1)).fetchall()
    }
    assert got == want


SOBEL_X = {
    (-1, -1): -1, (0, -1): 0, (1, -1): 1,
    (-1, 0): -2, (0, 0): 0, (1, 0): 2,
    (-1, 1): -1, (0, 1): 0, (1, 1): 1,
}


def _py_stencil(tiles, res, w):
    cells = {}
    for (tx, ty), grid in tiles.items():
        for pix, n in enumerate(grid):
            cells[(tx * res + pix % res, ty * res + pix // res)] = n
    out = {}
    for tx, ty in tiles:
        g = []
        for i in range(res * res):
            gx, gy = tx * res + i % res, ty * res + i // res
            g.append(
                sum(
                    wt * cells.get((gx + dx, gy + dy), 0)
                    for (dx, dy), wt in w.items()
                )
            )
        out[(tx, ty)] = g
    return out


@halo_plan
def test_stencil_matches_python(spark, plan):
    # asymmetric kernel with negative weights and radius 2: exercises strip
    # routing in every direction and the sign algebra of the stencil
    w = {(2, 0): 3, (-1, 1): -2, (0, -2): 5, (0, 0): 1, (1, 1): -7}
    rng = random.Random(13)
    res = 6
    tiles = _rand_tiles(rng, res, 8, span=3, density=0.5)
    got = _collect(
        focal.focal_stencil(_mk_df(spark, tiles).repartition(3), res, w)
    )
    assert got == _py_stencil(tiles, res, w)


def test_stencil_all_ones_equals_focal_sum(spark):
    rng = random.Random(77)
    res = 5
    tiles = _rand_tiles(rng, res, 6)
    ones = {(dx, dy): 1 for dx in (-1, 0, 1) for dy in (-1, 0, 1)}
    df = _mk_df(spark, tiles)
    assert _collect(focal.focal_stencil(df, res, ones)) == _collect(
        focal.focal_sum(df, res, radius=1)
    )


def test_stencil_sobel_edge_response(spark):
    # vertical step edge (dark left half, bright right half): Sobel-x fires
    # positive exactly along the edge column pair, zero in flat regions
    res = 8
    tiles = {(0, 0): [100 if i % res >= 4 else 0 for i in range(res * res)]}
    got = _collect(focal.focal_stencil(_mk_df(spark, tiles), res, SOBEL_X))
    g = got[(0, 0)]
    for py in range(1, res - 1):  # interior rows
        row = [g[py * res + px] for px in range(res)]
        assert row[3] == 400 and row[4] == 400  # edge columns
        assert row[1] == 0 and row[6] == 0  # flat interior
    assert got == _py_stencil(tiles, res, SOBEL_X)


def test_stencil_duckdb_twin(spark):
    import duckdb

    w = {(1, 0): 2, (-1, 0): -2, (0, 1): 1, (0, -1): -1}
    rng = random.Random(5)
    res = 8
    tiles = _rand_tiles(rng, res, 9)
    got = _collect(focal.focal_stencil(_mk_df(spark, tiles), res, w))
    con = duckdb.connect()
    con.execute("CREATE TABLE tiles(tx BIGINT, ty BIGINT, counts BIGINT[])")
    con.executemany(
        "INSERT INTO tiles VALUES (?, ?, ?)",
        [(tx, ty, grid) for (tx, ty), grid in tiles.items()],
    )
    want = {
        (r[0], r[1]): list(r[2])
        for r in con.execute(focal.focal_stencil_sql("tiles", res, w)).fetchall()
    }
    assert got == want


def test_stencil_validation(spark):
    df = _mk_df(spark, {(0, 0): [0] * 16})
    with pytest.raises(ValueError):
        focal.focal_stencil(df, 4, {})  # no nonzero weights
    with pytest.raises(ValueError):
        focal.focal_stencil(df, 4, {(0, 0): 1})  # radius 0
    with pytest.raises(ValueError):
        focal.focal_stencil(df, 4, {(4, 0): 1})  # radius >= res


def _py_gi_star(tiles, res, r):
    import math

    vals = [v for g in tiles.values() for v in g]
    n = len(vals)
    mean = sum(vals) / n
    sd = math.sqrt(sum(v * v for v in vals) / n - mean * mean)
    fs = _py_focal(tiles, res, r)
    ones = {k: [1] * (res * res) for k in tiles}
    wn = _py_focal(ones, res, r)
    out = {}
    for k in tiles:
        zs = []
        for i in range(res * res):
            w = wn[k][i]
            denom = sd * math.sqrt((n * w - w * w) / (n - 1))
            zs.append(None if denom <= 0 else (fs[k][i] - mean * w) / denom)
        out[k] = zs
    return out


@input_plan
def test_gi_star_matches_python(spark, plan):
    rng = random.Random(17)
    res = 6
    tiles = _rand_tiles(rng, res, 8, span=3, density=0.6)
    df = _plan_input(spark, tiles, plan)
    got = {
        (r["tx"], r["ty"]): list(r["z"])
        for r in focal.gi_star(df, res, radius=1).collect()
    }
    want = _py_gi_star(tiles, res, 1)
    assert set(got) == set(want)
    # bit-exact doubles: the same expression graph over exact int64 inputs
    for k in want:
        assert got[k] == want[k], k
    # keep_fs adds the centre counts and the focal sums
    fs = _py_focal(tiles, res, 1)
    kept = focal.gi_star(df, res, radius=1, keep_fs=True).collect()
    assert {
        (r["tx"], r["ty"]): (list(r["counts"]), list(r["fs"]), list(r["z"]))
        for r in kept
    } == {k: (tiles[k], fs[k], want[k]) for k in tiles}


def _py_morans(tiles, res, r):
    fs = _py_focal(tiles, res, r)
    ones = {k: [1] * (res * res) for k in tiles}
    wn = _py_focal(ones, res, r)
    xs = [
        (tiles[k][i], fs[k][i] - tiles[k][i], wn[k][i] - 1)
        for k in tiles
        for i in range(res * res)
    ]
    n = len(xs)
    a = sum(x for x, _, _ in xs)
    b = sum(x * x for x, _, _ in xs)
    c = sum(x * s for x, s, _ in xs)
    d = sum(x * w for x, _, w in xs)
    e = sum(s for _, s, _ in xs)
    g = sum(w for _, _, w in xs)
    m = a / n
    num = c - m * d - m * e + m * m * g
    den = b - n * m * m
    moran = None if den <= 0 or g <= 0 else (n / g) * num / den
    return n, g, moran


@input_plan
def test_morans_i_matches_python(spark, plan):
    rng = random.Random(23)
    res = 6
    tiles = _rand_tiles(rng, res, 7, span=3, density=0.5)
    (row,) = focal.morans_i(
        _plan_input(spark, tiles, plan), res, radius=1
    ).collect()
    n, g, moran = _py_morans(tiles, res, 1)
    assert (row["n_cells"], row["w_sum"]) == (n, g)
    assert row["moran_i"] == moran


def test_morans_i_duckdb_twin_exact(spark):
    import duckdb

    rng = random.Random(41)
    res = 8
    tiles = _rand_tiles(rng, res, 9)
    con = duckdb.connect()
    con.execute("CREATE TABLE tiles(tx BIGINT, ty BIGINT, counts BIGINT[])")
    con.executemany(
        "INSERT INTO tiles VALUES (?, ?, ?)",
        [(tx, ty, grid) for (tx, ty), grid in tiles.items()],
    )
    (want,) = con.execute(focal.morans_i_sql("tiles", res, 2)).fetchall()
    for df in _inputs(spark, tiles):
        (got,) = focal.morans_i(df, res, radius=2).collect()
        # bit-exact double: the hash-stability claim, not an approx
        # comparison
        assert (got["n_cells"], got["w_sum"], got["moran_i"]) == want


def test_morans_i_sign_and_edge_cases(spark):
    res = 4
    # clustered surface (one hot quadrant) -> strong positive autocorrelation
    hot = {(0, 0): [100 if (i % 4 < 2 and i < 8) else 0 for i in range(16)]}
    (r1,) = focal.morans_i(_mk_df(spark, hot), res).collect()
    assert r1["moran_i"] > 0.3
    # perfect checkerboard -> negative autocorrelation (queen weights damp
    # it: the 4 diagonal neighbors AGREE on a checkerboard, so |I| is small
    # but the sign is unambiguous; rook-only weights would give I ~= -1)
    checker = {(0, 0): [(ix + iy) % 2 for iy in range(4) for ix in range(4)]}
    (r2,) = focal.morans_i(_mk_df(spark, checker), res).collect()
    assert r2["moran_i"] < -0.1
    # constant raster -> null (den == 0)
    flat = {(0, 0): [5] * 16}
    (r3,) = focal.morans_i(_mk_df(spark, flat), res).collect()
    assert r3["moran_i"] is None


def test_hot_cells_finds_planted_hotspot(spark):
    # flat background of 1s with one planted 3x3 block of 500s: the block's
    # pixels must dominate the returned hotspots
    res = 8
    tiles = {(tx, ty): [1] * (res * res) for tx in range(3) for ty in range(3)}
    g = tiles[(1, 1)]
    for py in range(3, 6):
        for px in range(3, 6):
            g[py * res + px] = 500
    df = _mk_df(spark, tiles)
    hot = focal.hot_cells(df, res, radius=1, z_min=2.576).collect()
    got = {(r["gx"], r["gy"]) for r in hot}
    planted = {(res + px, res + py) for px in range(3, 6) for py in range(3, 6)}
    assert planted <= got
    # everything returned is within one window radius of the planted block
    for gx, gy in got:
        assert min(abs(gx - x) for x, _ in planted) <= 1
        assert min(abs(gy - y) for _, y in planted) <= 1


def test_validation(spark):
    df = _mk_df(spark, {(0, 0): [0] * 16})
    with pytest.raises(ValueError):
        focal.focal_sum(df, 4, radius=0)
    with pytest.raises(ValueError):
        focal.focal_sum(df, 4, radius=4)


def _py_extremum(tiles, res, r, op, pad):
    cells = {}
    for (tx, ty), grid in tiles.items():
        for pix, n in enumerate(grid):
            cells[(tx * res + pix % res, ty * res + pix // res)] = n
    ident = pad
    out = {}
    for (tx, ty), _g in tiles.items():
        g = [0] * (res * res)
        for py in range(res):
            for px in range(res):
                x, y = tx * res + px, ty * res + py
                vals = [
                    cells.get((x + dx, y + dy), ident)
                    for dy in range(-r, r + 1)
                    for dx in range(-r, r + 1)
                ]
                g[py * res + px] = min(vals) if op == "min" else max(vals)
        out[(tx, ty)] = g
    return out


@pytest.mark.parametrize("op", ["min", "max"])
@pytest.mark.parametrize("radius", [1, 2])
def test_extremum_matches_python_oracle(spark, op, radius):
    rng = random.Random(500 + radius)
    res = 8
    tiles = _rand_tiles(rng, res, 10)
    df = _mk_df(spark, tiles).repartition(5)
    got = _collect(focal.focal_extremum(df, res, radius, op=op))
    ident = (1 << 63) - 1 if op == "min" else 0
    assert got == _py_extremum(tiles, res, radius, op, ident)


def test_extremum_pad_override(spark):
    """pad=0 erosion: raster borders erode against the 0 background."""
    res = 8
    tiles = {(0, 0): [7] * (res * res)}
    df = _mk_df(spark, tiles)
    got = _collect(focal.focal_extremum(df, res, 1, op="min", pad=0))[(0, 0)]
    for py in range(res):
        for px in range(res):
            border = px in (0, res - 1) or py in (0, res - 1)
            assert got[py * res + px] == (0 if border else 7)


def test_morphology_order_and_speckle(spark):
    """erode <= x <= dilate pointwise; opening kills an isolated speckle and
    closing fills an isolated pinhole, leaving the bulk untouched."""
    res = 8
    base = [1] * (res * res)
    base[3 * res + 4] = 0  # pinhole in the middle of ones
    speck = [0] * (res * res)
    speck[5 * res + 2] = 1  # isolated speckle in zeros
    tiles = {(0, 0): base, (2, 0): speck}  # gap tile between -> independent
    df = _mk_df(spark, tiles)
    x = {k: list(v) for k, v in tiles.items()}
    er = _collect(focal.erode(df, res, 1, pad=0))
    di = _collect(focal.dilate(df, res, 1))
    for k in tiles:
        for i in range(res * res):
            assert er[k][i] <= x[k][i] <= di[k][i]
    op = _collect(focal.morph_open(df, res, 1))
    cl = _collect(focal.morph_close(df, res, 1))
    assert all(v == 0 for v in op[(2, 0)])  # speckle gone
    assert cl[(0, 0)][3 * res + 4] == 1  # pinhole filled
    # closing never invents mass outside the dilation support of ones
    assert all(v in (0, 1) for v in cl[(0, 0)] + cl[(2, 0)] + op[(0, 0)])


def _py_mode(tiles, res, r):
    cells = {}
    for (tx, ty), grid in tiles.items():
        for pix, n in enumerate(grid):
            cells[(tx * res + pix % res, ty * res + pix // res)] = n
    out = {}
    for (tx, ty), _g in tiles.items():
        g = [0] * (res * res)
        for py in range(res):
            for px in range(res):
                x, y = tx * res + px, ty * res + py
                votes = [
                    cells[(x + dx, y + dy)]
                    for dy in range(-r, r + 1)
                    for dx in range(-r, r + 1)
                    if (x + dx, y + dy) in cells
                ]
                from collections import Counter

                c = Counter(votes)
                best = max(c.items(), key=lambda kv: (kv[1], -kv[0]))
                g[py * res + px] = best[0]
        out[(tx, ty)] = g
    return out


@pytest.mark.parametrize("radius", [1, 2])
def test_mode_matches_python_oracle(spark, radius):
    rng = random.Random(600 + radius)
    res = 8
    # few classes so modes are meaningful
    tiles = {}
    keys = set()
    while len(keys) < 9:
        keys.add((rng.randint(-2, 2), rng.randint(-2, 2)))
    for k in keys:
        tiles[k] = [rng.randint(0, 3) for _ in range(res * res)]
    df = _mk_df(spark, tiles).repartition(5)
    got = _collect_named(focal.focal_mode(df, res, radius), "focal")
    assert got == _py_mode(tiles, res, radius)


def _collect_named(df, col):
    return {(r["tx"], r["ty"]): list(r[col]) for r in df.collect()}


def test_mode_homogeneous_and_salt(spark):
    """A constant field is a fixed point; isolated salt pixels are voted
    away; a two-class tie breaks to the smaller class."""
    res = 8
    base = [5] * (res * res)
    base[3 * res + 3] = 9  # salt
    df = _mk_df(spark, {(0, 0): base})
    got = _collect_named(focal.focal_mode(df, res, 1), "focal")[(0, 0)]
    assert all(v == 5 for v in got)  # salt removed, field unchanged
    # corner pixel of a checkerboard: 2x2 in-raster window = {a, b, b, a}
    # tie -> smaller class
    cb = [(1 if (pix % res + pix // res) % 2 == 0 else 2)
          for pix in range(res * res)]
    df2 = _mk_df(spark, {(0, 0): cb})
    got2 = _collect_named(focal.focal_mode(df2, res, 1), "focal")[(0, 0)]
    assert got2[0] == 1  # corner ties 2-2 between classes 1 and 2


# ---------------------------------------------------------------- join counts


def _py_join_counts(tiles, res, r, thresh=0):
    import math

    bins = {k: [1 if v > thresh else 0 for v in g] for k, g in tiles.items()}
    fb = _py_focal(bins, res, r)
    ones = {k: [1] * (res * res) for k in tiles}
    wn = _py_focal(ones, res, r)
    xs = [
        (bins[k][i], fb[k][i] - bins[k][i], wn[k][i] - 1)
        for k in tiles
        for i in range(res * res)
    ]
    n = len(xs)
    nb = sum(x for x, _, _ in xs)
    g = sum(w for _, _, w in xs)
    w2 = sum(w * w for _, _, w in xs)
    bb2 = sum(x * s for x, s, _ in xs)
    d = sum(x * w for x, _, w in xs)
    m, k_ = g // 2, w2 - g
    bb, bw = bb2 // 2, d - bb2
    ww = m - bb - bw
    p = nb / n
    q = 1.0 - p
    e_bb = m * p * p
    e_bw = 2.0 * m * p * q
    var_bb = m * p * p * (1.0 - p * p) + k_ * p * p * p * (1.0 - p)
    var_bw = (
        2.0 * m * p * q * (1.0 - 2.0 * p * q)
        + k_ * p * q * (1.0 - 4.0 * p * q)
    )
    z_bb = None if var_bb <= 0 else (bb - e_bb) / math.sqrt(var_bb)
    z_bw = None if var_bw <= 0 else (bw - e_bw) / math.sqrt(var_bw)
    return (n, nb, m, bb, bw, ww, e_bb, e_bw, z_bb, z_bw)


def test_join_count_variance_formula_exact_enumeration():
    """Pin the free-sampling moment formulas against an exact 2^9
    enumeration on a 3x3 grid with queen (radius-1) weights: E/Var of BB
    and BW computed by summing over all colorings with Bernoulli(p) weights
    must equal the closed forms used by join_counts."""
    import itertools

    n, side, p = 9, 3, 0.3
    nbrs = {}
    for i in range(n):
        ix, iy = i % side, i // side
        nbrs[i] = [
            j
            for j in range(n)
            if j != i
            and abs(j % side - ix) <= 1
            and abs(j // side - iy) <= 1
        ]
    pairs = [(i, j) for i in range(n) for j in nbrs[i] if i < j]
    m = len(pairs)
    g = sum(len(v) for v in nbrs.values())
    w2 = sum(len(v) ** 2 for v in nbrs.values())
    k_ = w2 - g
    assert m == g // 2
    e_bb = e_bb2 = e_bw = e_bw2 = 0.0
    for bits in itertools.product((0, 1), repeat=n):
        w = 1.0
        for b in bits:
            w *= p if b else (1.0 - p)
        bb = sum(1 for i, j in pairs if bits[i] and bits[j])
        bw = sum(1 for i, j in pairs if bits[i] != bits[j])
        e_bb += w * bb
        e_bb2 += w * bb * bb
        e_bw += w * bw
        e_bw2 += w * bw * bw
    q = 1.0 - p
    assert e_bb == pytest.approx(m * p * p, rel=1e-12)
    assert e_bw == pytest.approx(2.0 * m * p * q, rel=1e-12)
    assert e_bb2 - e_bb * e_bb == pytest.approx(
        m * p * p * (1.0 - p * p) + k_ * p * p * p * (1.0 - p), rel=1e-10
    )
    assert e_bw2 - e_bw * e_bw == pytest.approx(
        2.0 * m * p * q * (1.0 - 2.0 * p * q)
        + k_ * p * q * (1.0 - 4.0 * p * q),
        rel=1e-10,
    )


@input_plan
def test_join_counts_matches_python(spark, plan):
    rng = random.Random(29)
    res = 6
    tiles = _rand_tiles(rng, res, 7, span=3, density=0.4)
    (row,) = focal.join_counts(
        _plan_input(spark, tiles, plan), res, radius=1, thresh=50,
    ).collect()
    # bit-exact doubles: the same expression graph over exact int64 inputs
    assert tuple(row) == _py_join_counts(tiles, res, 1, thresh=50)


def test_join_counts_duckdb_twin_exact(spark):
    import duckdb

    rng = random.Random(47)
    res = 8
    tiles = _rand_tiles(rng, res, 9)
    con = duckdb.connect()
    con.execute("CREATE TABLE tiles(tx BIGINT, ty BIGINT, counts BIGINT[])")
    con.executemany(
        "INSERT INTO tiles VALUES (?, ?, ?)",
        [(tx, ty, grid) for (tx, ty), grid in tiles.items()],
    )
    (want,) = con.execute(
        focal.join_counts_sql("tiles", res, 2, thresh=30)
    ).fetchall()
    for df in _inputs(spark, tiles):
        (got,) = focal.join_counts(df, res, radius=2, thresh=30).collect()
        # bit-exact doubles: the hash-stability claim, not approx
        assert tuple(got) == want


def test_join_counts_sign_and_edges(spark):
    res = 4
    # left half black, right half white -> clustered: BW deficit, BB excess
    split = {(0, 0): [(1 if i % 4 < 2 else 0) for i in range(16)]}
    (r1,) = focal.join_counts(_mk_df(spark, split), res).collect()
    assert r1["z_bb"] > 0 and r1["z_bw"] < 0
    assert r1["bb"] + r1["bw"] + r1["ww"] == r1["joins"]
    # checkerboard -> BW excess (rook disagreements dominate queen accord)
    checker = {(0, 0): [(ix + iy) % 2 for iy in range(4) for ix in range(4)]}
    (r2,) = focal.join_counts(_mk_df(spark, checker), res).collect()
    assert r2["z_bw"] > 0
    # constant color -> zero variance -> null z
    flat = {(0, 0): [7] * 16}
    (r3,) = focal.join_counts(_mk_df(spark, flat), res).collect()
    assert r3["z_bb"] is None and r3["z_bw"] is None
    assert (r3["bb"], r3["bw"], r3["ww"]) == (r3["joins"], 0, 0)


def test_tile_totals_empty_and_overflow(spark):
    """The totals behind gi_star / local_morans / morans_i / join_counts:
    an empty input gives count 0 and null sums, and an int64 overflow
    raises, on the aggregate and on the driver path alike."""
    from pyspark.errors import ArithmeticException

    schema = "tx long, ty long, counts array<long>"
    sums = {"s": ("counts", 1), "q": ("counts", 2)}
    empty = [
        spark.createDataFrame([], schema), local_relation(spark, [], schema)
    ]
    for df in empty:
        assert [tuple(r) for r in focal._tile_totals(df, sums).collect()] == [
            (0, None, None)
        ]
    # the driver path answers with a local relation (no Spark job)
    assert local_table(focal._tile_totals(empty[1], sums)) is not None
    # each tile's sum fits, the total does not; a square does not fit
    wide = {(0, 0): [1 << 61, 1 << 61, 0, 0], (1, 0): [1 << 61, 1 << 61, 0, 0]}
    tall = {(0, 0): [1 << 32, 0, 0, 0]}
    for tiles, spec in ((wide, {"s": ("counts", 1)}),
                        (tall, {"q": ("counts", 2)})):
        for df in _inputs(spark, tiles):
            with pytest.raises(ArithmeticException):
                focal._tile_totals(df, spec).collect()
    # in range, both paths give the exact totals
    ok = {(0, 0): [3, -4, 0, 5], (2, 1): [1 << 30, 0, 0, -1]}
    for df in _inputs(spark, ok):
        assert tuple(focal._tile_totals(df, sums).collect()[0]) == (
            2, 3 + (1 << 30), 51 + (1 << 60)
        )


# ---------------------------------------------------------------- local moran


def _py_local_morans(tiles, res, r):
    fs = _py_focal(tiles, res, r)
    ones = {k: [1] * (res * res) for k in tiles}
    wn = _py_focal(ones, res, r)
    n = len(tiles) * res * res
    a = sum(v for g in tiles.values() for v in g)
    b = sum(v * v for g in tiles.values() for v in g)
    m = a / float(n)
    m2 = b / float(n) - m * m
    out = {}
    for k in tiles:
        loc, quad = [], []
        for i in range(res * res):
            x = tiles[k][i]
            s = fs[k][i] - x
            wi = wn[k][i] - 1
            zi = x - m
            lag = s - m * wi
            loc.append(zi * lag / m2 if m2 > 0 else None)
            if zi > 0 and lag > 0:
                quad.append(1)
            elif zi < 0 and lag < 0:
                quad.append(2)
            elif zi > 0 and lag < 0:
                quad.append(3)
            elif zi < 0 and lag > 0:
                quad.append(4)
            else:
                quad.append(0)
        out[k] = (loc, quad)
    return out


@input_plan
def test_local_morans_matches_python(spark, plan):
    rng = random.Random(31)
    res = 6
    tiles = _rand_tiles(rng, res, 7, span=3, density=0.5)
    got = {
        (r["tx"], r["ty"]): (list(r["local"]), list(r["quad"]))
        for r in focal.local_morans(
            _plan_input(spark, tiles, plan), res, radius=1
        ).collect()
    }
    # bit-exact doubles and identical quadrants
    assert got == _py_local_morans(tiles, res, 1)


def test_local_morans_duckdb_twin_exact(spark):
    import duckdb

    rng = random.Random(53)
    res = 8
    tiles = _rand_tiles(rng, res, 9)
    con = duckdb.connect()
    con.execute("CREATE TABLE tiles(tx BIGINT, ty BIGINT, counts BIGINT[])")
    con.executemany(
        "INSERT INTO tiles VALUES (?, ?, ?)",
        [(tx, ty, grid) for (tx, ty), grid in tiles.items()],
    )
    want = {
        (gx, gy): (lv, qv)
        for gx, gy, lv, qv in con.execute(
            focal.local_morans_sql("tiles", res, 2)
        ).fetchall()
    }
    for df in _inputs(spark, tiles):
        got = {}
        for r in focal.local_morans(df, res, radius=2).collect():
            for i, (lv, qv) in enumerate(zip(r["local"], r["quad"])):
                got[(r["tx"] * res + i % res, r["ty"] * res + i // res)] = (
                    lv, qv,
                )
        # bit-exact doubles + identical quadrants
        assert got == want


def test_local_morans_additivity_and_quadrants(spark):
    # sum_i I_i == W * I_global (binary unstandardized weights identity)
    rng = random.Random(61)
    res = 6
    tiles = _rand_tiles(rng, res, 5, span=2, density=0.6)
    df = _mk_df(spark, tiles)
    rows = focal.local_morans(df, res, radius=1).collect()
    total = sum(v for r in rows for v in r["local"] if v is not None)
    (gr,) = focal.morans_i(df, res, radius=1).collect()
    assert total == pytest.approx(gr["w_sum"] * gr["moran_i"], rel=1e-9)
    # planted hot block in a cold field: block core = HH, far field = LL
    res2 = 8
    flat = {(0, 0): [0] * (res2 * res2)}
    g = flat[(0, 0)]
    for py in range(3, 6):
        for px in range(3, 6):
            g[py * res2 + px] = 100
    (row,) = focal.local_morans(_mk_df(spark, flat), res2).collect()
    quad = row["quad"]
    assert quad[4 * res2 + 4] == 1  # block centre: HH
    assert quad[0] == 2  # far corner: LL
    # constant raster -> null locals, quad 0 everywhere
    (rc,) = focal.local_morans(
        _mk_df(spark, {(0, 0): [5] * (res2 * res2)}), res2
    ).collect()
    assert all(v is None for v in rc["local"])
    assert all(q == 0 for q in rc["quad"])


# ------------------------------------------------------------ focal median


def _py_median(tiles, res, r):
    cells = {}
    for (tx, ty), grid in tiles.items():
        for pix, n in enumerate(grid):
            cells[(tx * res + pix % res, ty * res + pix // res)] = n
    out = {}
    for (tx, ty), _g in tiles.items():
        g = [0] * (res * res)
        for py in range(res):
            for px in range(res):
                x, y = tx * res + px, ty * res + py
                vals = sorted(
                    cells[(x + dx, y + dy)]
                    for dy in range(-r, r + 1)
                    for dx in range(-r, r + 1)
                    if (x + dx, y + dy) in cells
                )
                g[py * res + px] = vals[(len(vals) - 1) // 2]  # lower median
        out[(tx, ty)] = g
    return out


@pytest.mark.parametrize("radius", [1, 2])
def test_median_matches_python_oracle(spark, radius):
    rng = random.Random(700 + radius)
    res = 8
    tiles = _rand_tiles(rng, res, 9, span=2, density=0.6)
    df = _mk_df(spark, tiles).repartition(5)
    got = _collect_named(focal.focal_median(df, res, radius), "focal")
    assert got == _py_median(tiles, res, radius)


def test_median_kills_salt_and_pepper_where_sum_smears(spark):
    res = 8
    grid = [10] * (res * res)
    grid[3 * res + 3] = 9999  # single outlier spike
    df = _mk_df(spark, {(0, 0): grid})
    med = _collect_named(focal.focal_median(df, res, 1), "focal")[(0, 0)]
    assert med[3 * res + 3] == 10  # the spike is gone
    assert all(v == 10 for v in med)
    sm = _collect_named(focal.focal_sum(df, res, 1), "focal")[(0, 0)]
    assert sm[3 * res + 4] > 9 * 10  # box sum smears the spike sideways


def test_median_lower_median_convention_even_n(spark):
    # 2x2 isolated raster corner: each pixel's window holds exactly 4
    # in-raster values -> lower median = sorted[1]
    res = 4
    grid = [0] * (res * res)
    vals = {(0, 0): 5, (1, 0): 7, (0, 1): 11, (1, 1): 13}
    for (px, py), v in vals.items():
        grid[py * res + px] = v
    # carve the raster to just those 4 pixels via a 2x2-res tile? keep the
    # full tile (zeros are in-raster values here) and check a corner pixel:
    # window of (0,0) at r=1 inside one isolated tile = pixels (0..1, 0..1)
    df = _mk_df(spark, {(0, 0): grid})
    med = _collect_named(focal.focal_median(df, res, 1), "focal")[(0, 0)]
    assert med[0] == sorted(vals.values())[1]  # 4 values -> index 1
    assert med[0] == 7


def test_median_validation(spark):
    df = _mk_df(spark, {(0, 0): [0] * 16})
    with pytest.raises(ValueError):
        focal.focal_median(df, 4, radius=0)
    with pytest.raises(ValueError):
        focal.focal_median(df, 4, radius=4)


def test_morph_gradient_tophat_blackhat(spark):
    """gradient = dilate - erode (python-oracle parity on random tiles;
    zero on constants away from borders with symmetric pad); white top-hat
    isolates a bright speckle (and only it); black top-hat isolates a
    pinhole; both are >= 0 pointwise."""
    rng = random.Random(520)
    res = 8
    tiles = _rand_tiles(rng, res, 6)
    df = _mk_df(spark, tiles).repartition(4)
    got = _collect(focal.morph_gradient(df, res, 1, pad=0))
    ermax = _py_extremum(tiles, res, 1, "max", 0)
    ermin = _py_extremum(tiles, res, 1, "min", 0)
    want = {
        k: [a - b for a, b in zip(ermax[k], ermin[k])] for k in tiles
    }
    assert got == want
    # constant raster, symmetric pad: zero gradient in the interior, an
    # edge response at the raster border with pad=0
    const = {(0, 0): [5] * (res * res)}
    cg = _collect(focal.morph_gradient(_mk_df(spark, const), res, 1, pad=0))
    for py in range(res):
        for px in range(res):
            border = px in (0, res - 1) or py in (0, res - 1)
            assert cg[(0, 0)][py * res + px] == (5 if border else 0)
    base = [10] * (res * res)
    base[3 * res + 4] = 2          # pinhole (dark feature)
    speck = [0] * (res * res)
    speck[5 * res + 2] = 9         # bright speckle
    mdf = _mk_df(spark, {(0, 0): base, (4, 0): speck})
    th = _collect(focal.top_hat(mdf, res, 1))
    bh = _collect(focal.black_hat(mdf, res, 1))
    assert th[(4, 0)][5 * res + 2] == 9
    assert sum(th[(4, 0)]) == 9            # ONLY the speckle
    assert bh[(0, 0)][3 * res + 4] == 8    # pinhole depth 10-2
    assert all(v >= 0 for v in th[(0, 0)] + th[(4, 0)])
    assert all(v >= 0 for v in bh[(0, 0)] + bh[(4, 0)])


def test_focal_rank_generalizes_median_min_max(spark):
    """q=500 == focal_median exactly; q=0/1000 == presence-masked window
    min/max (python oracle); a mid-quantile matches the type-1 replay."""
    rng = random.Random(530)
    res = 8
    tiles = _rand_tiles(rng, res, 6)
    df = _mk_df(spark, tiles).repartition(4)
    med = _collect(focal.focal_median(df, res, 1))
    q5 = _collect(focal.focal_rank(df, res, 1, q_e3=500))
    assert med == q5
    cells = {
        (tx * res + i % res, ty * res + i // res): g[i]
        for (tx, ty), g in tiles.items() for i in range(res * res)
    }

    def py_rank(q):
        out = {}
        for (tx, ty), _g in tiles.items():
            arr = [0] * (res * res)
            for py in range(res):
                for px in range(res):
                    x, y = tx * res + px, ty * res + py
                    vals = sorted(
                        cells[(x + dx, y + dy)]
                        for dy in (-1, 0, 1) for dx in (-1, 0, 1)
                        if (x + dx, y + dy) in cells
                    )
                    arr[py * res + px] = vals[q * (len(vals) - 1) // 1000]
            out[(tx, ty)] = arr
        return out

    for q in (0, 250, 1000):
        assert _collect(focal.focal_rank(df, res, 1, q_e3=q)) == py_rank(q), q
    with pytest.raises(ValueError):
        focal.focal_rank(df, res, 1, q_e3=1001)
