"""engine.pyramid: 2x2 rollup pyramids vs Python + DuckDB oracles."""

import random

import numpy as np
import pytest

from engine import pyramid
from engine.session import local_relation
from tests.conftest import spark  # noqa: F401

# pyramid_sum's two branches: a createDataFrame input takes the distributed
# plan, a local relation (rows on the driver) the numpy one; the sum tests
# run both in their body, so their ids stay as they were
KINDS = ["frame", "local"]


# ---------------------------------------------------------------------------
# count-grid pyramid
# ---------------------------------------------------------------------------
def _py_rollup(tiles, res):
    """One exact 2x2 rollup of {(tx, ty): [res*res ints]}."""
    half = res // 2
    parents = {}
    for (tx, ty), grid in tiles.items():
        ptx, pty = tx >> 1, ty >> 1
        qx, qy = tx & 1, ty & 1
        pg = parents.setdefault((ptx, pty), [0] * (res * res))
        for by in range(half):
            for bx in range(half):
                s = (
                    grid[(2 * by) * res + 2 * bx]
                    + grid[(2 * by) * res + 2 * bx + 1]
                    + grid[(2 * by + 1) * res + 2 * bx]
                    + grid[(2 * by + 1) * res + 2 * bx + 1]
                )
                pg[(qy * half + by) * res + (qx * half + bx)] += s
    return parents


def _rand_tiles(rng, res, n_tiles, span=5):
    keys = set()
    while len(keys) < n_tiles:
        keys.add((rng.randint(-span, span), rng.randint(-span, span)))
    return {
        k: [rng.randint(0, 50) for _ in range(res * res)] for k in keys
    }


def _mk_df(spark, tiles, kind="frame"):
    make = spark.createDataFrame if kind == "frame" else (
        lambda rows, schema: local_relation(spark, rows, schema)
    )
    return make(
        [(tx, ty, grid) for (tx, ty), grid in tiles.items()],
        "tx long, ty long, counts array<long>",
    )


def _collect(df):
    assert df.schema == pyramid._SUM_SCHEMA
    return {
        (r["level"], r["tx"], r["ty"]): list(r["counts"]) for r in df.collect()
    }


def test_sum_matches_python_oracle_two_levels(spark):
    rng = random.Random(21)
    res = 8
    tiles = _rand_tiles(rng, res, 14)
    l1 = _py_rollup(tiles, res)
    l2 = _py_rollup(l1, res)
    want = {(1, *k): v for k, v in l1.items()}
    want |= {(2, *k): v for k, v in l2.items()}
    base = sum(sum(g) for g in tiles.values())
    for kind in KINDS:
        df = _mk_df(spark, tiles, kind)
        if kind == "frame":
            df = df.repartition(5)
        got = _collect(pyramid.pyramid_sum(df, res, levels=2))
        assert got == want, kind
        # mass conservation per level
        for lvl, group in ((1, l1), (2, l2)):
            assert sum(sum(got[(lvl, *k)]) for k in group) == base


def test_sum_negative_coords_seamless(spark):
    # the 2x2 block straddling the origin: children (-1,-1) (-1,0) (0,-1)
    # (0,0) all roll into parent (-1,-1)'s... no: (0,0)>>1=(0,0). Children
    # (-2,-2)..(-1,-1) share parent (-1,-1); arithmetic shift must floor.
    res = 4
    tiles = {
        (-2, -2): [1] * 16,
        (-1, -2): [2] * 16,
        (-2, -1): [3] * 16,
        (-1, -1): [4] * 16,
    }
    want = _py_rollup(tiles, res)
    for kind in KINDS:
        df = _mk_df(spark, tiles, kind)
        got = _collect(pyramid.pyramid_sum(df, res, levels=1))
        assert set(got) == {(1, -1, -1)}, kind
        assert got[(1, -1, -1)] == want[(-1, -1)], kind


def test_sum_sql_twin(spark):
    import duckdb

    rng = random.Random(5)
    res = 8
    tiles = _rand_tiles(rng, res, 12)
    con = duckdb.connect()
    con.execute("CREATE TABLE tiles(tx BIGINT, ty BIGINT, counts BIGINT[])")
    con.executemany(
        "INSERT INTO tiles VALUES (?, ?, ?)",
        [(tx, ty, g) for (tx, ty), g in tiles.items()],
    )
    want = {
        (r[0], r[1], r[2]): list(r[3])
        for r in con.execute(
            pyramid.pyramid_sum_sql("tiles", res, 3)
        ).fetchall()
    }
    for kind in KINDS:
        got = _collect(
            pyramid.pyramid_sum(_mk_df(spark, tiles, kind), res, levels=3)
        )
        assert got == want, kind


def test_sum_overflow_raises_on_both_paths(spark):
    from pyspark.errors import ArithmeticException

    big = (1 << 62) - 1
    res = 4
    # pixel 1's block (0, 1, 4, 5) overflows only at its fourth addend; the
    # sibling tile sums to exactly 2^63 - 1 with no overflowing partial sum
    grid = [0] * 16
    grid[0] = grid[1] = big
    grid[4] = grid[5] = 1
    ok = [0] * 16
    ok[0], ok[1], ok[4] = big, big, 1
    for kind in KINDS:
        fine = _collect(pyramid.pyramid_sum(
            _mk_df(spark, {(1, 0): ok}, kind), res
        ))
        assert fine[(1, 0, 0)][2] == (1 << 63) - 1
        with pytest.raises(ArithmeticException):
            pyramid.pyramid_sum(
                _mk_df(spark, {(0, 0): grid, (1, 0): ok}, kind), res
            ).collect()


def test_sum_malformed_local_input_matches_distributed(spark):
    # a null count (its block sums to null, the parent pixel reads 0) and
    # a null grid (no children: an all-zero parent): the driver branch
    # leaves such tables to the distributed plan, so both give the same
    grid = list(range(16))
    grid[5] = None
    rows = [(0, 0, grid), (2, 0, None), (1, 1, [1] * 16)]
    schema = "tx long, ty long, counts array<long>"
    got = [
        _collect(pyramid.pyramid_sum(make(rows, schema), 4))
        for make in (
            spark.createDataFrame,
            lambda r, sch: local_relation(spark, r, sch),
        )
    ]
    assert got[0] == got[1]
    assert got[0][(1, 0, 0)][0] == 0


def test_sum_validation(spark):
    df = _mk_df(spark, {(0, 0): [0] * 16})
    with pytest.raises(ValueError):
        pyramid.pyramid_sum(df, 5)
    with pytest.raises(ValueError):
        pyramid.pyramid_sum(df, 4, levels=0)


# ---------------------------------------------------------------------------
# image pyramid
# ---------------------------------------------------------------------------
def _np_parent(children, side):
    """children: {(qx, qy): (side, side, 3) uint8} -> parent canvas."""
    half = side // 2
    canvas = np.zeros((side, side, 3), dtype=np.uint8)
    for (qx, qy), px in children.items():
        small = (
            px.astype(np.uint32).reshape(half, 2, half, 2, 3).sum((1, 3)) // 4
        ).astype(np.uint8)
        canvas[qy * half : (qy + 1) * half, qx * half : (qx + 1) * half] = small
    return canvas


def test_image_pyramid_matches_numpy(spark):
    rng = np.random.default_rng(3)
    side = 8
    imgs = {
        (tx, ty): rng.integers(0, 256, (side, side, 3), dtype=np.uint8)
        for tx in (2, 3) for ty in (4, 5)
    }
    # drop one child: absent quadrant stays black
    del imgs[(3, 5)]
    df = spark.createDataFrame(
        [(tx, ty, bytearray(px.tobytes())) for (tx, ty), px in imgs.items()],
        "tx long, ty long, img binary",
    ).repartition(3)
    out = pyramid.pyramid_image(df, side, levels=1).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["level"], r["tx"], r["ty"], r["side"], r["n_children"]) == (
        1, 1, 2, side, 3,
    )
    want = _np_parent(
        {(tx & 1, ty & 1): px for (tx, ty), px in imgs.items()}, side
    )
    got = np.frombuffer(bytes(r["img"]), dtype=np.uint8).reshape(side, side, 3)
    assert np.array_equal(got, want)


def test_image_pyramid_two_levels_deterministic(spark):
    rng = np.random.default_rng(9)
    side = 4
    rows = [
        (tx, ty, bytearray(
            rng.integers(0, 256, (side, side, 3), dtype=np.uint8).tobytes()
        ))
        for tx in range(4) for ty in range(4)
    ]
    df = spark.createDataFrame(rows, "tx long, ty long, img binary")
    a = pyramid.pyramid_image(df.repartition(2), side, levels=2).collect()
    b = pyramid.pyramid_image(df.repartition(7), side, levels=2).collect()
    key = lambda r: (r["level"], r["tx"], r["ty"])  # noqa: E731
    assert {key(r): bytes(r["img"]) for r in a} == {
        key(r): bytes(r["img"]) for r in b
    }
    assert sum(r["level"] == 1 for r in a) == 4
    assert sum(r["level"] == 2 for r in a) == 1


# ---------------------------------------------------------------------------
# categorical (majority) pyramid
# ---------------------------------------------------------------------------
def _py_mode_level(cells):
    """cells: {(gx, gy): v != 0} -> parent {(pgx, pgy): majority}."""
    from collections import Counter

    votes = {}
    for (gx, gy), v in cells.items():
        votes.setdefault((gx // 2, gy // 2), Counter())[v] += 1
    return {
        k: min(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        for k, c in votes.items()
    }


def test_pyramid_mode_oracle_and_twin(spark):
    import duckdb

    rng = random.Random(41)
    res = 8
    tiles = {
        (tx, ty): [
            rng.randint(1, 4) if rng.random() < 0.7 else 0
            for _ in range(res * res)
        ]
        for tx in range(-1, 1) for ty in range(0, 2)
    }
    df = spark.createDataFrame(
        [(tx, ty, g) for (tx, ty), g in tiles.items()],
        "tx long, ty long, counts array<long>",
    )
    out = pyramid.pyramid_mode(df, res, levels=2).collect()
    got = {}
    for r in out:
        for pix in range(res * res):
            v = r["counts"][pix]
            if v:
                got[(r["level"], r["tx"] * res + pix % res,
                     r["ty"] * res + pix // res)] = v
    cells = {
        (tx * res + i % res, ty * res + i // res): g[i]
        for (tx, ty), g in tiles.items()
        for i in range(res * res) if g[i]
    }
    l1 = _py_mode_level(cells)
    l2 = _py_mode_level({k: v for k, v in l1.items() if v})
    want = {}
    for (gx, gy), v in l1.items():
        if v:
            want[(1, gx, gy)] = v
    for (gx, gy), v in l2.items():
        if v:
            want[(2, gx, gy)] = v
    assert got == want
    con = duckdb.connect()
    con.execute("CREATE TABLE pt (tx BIGINT, ty BIGINT, counts BIGINT[])")
    for (tx, ty), g in tiles.items():
        con.execute("INSERT INTO pt VALUES (?, ?, ?)", [tx, ty, g])
    twin = {
        (gx, gy): v
        for gx, gy, v in con.execute(
            pyramid.pyramid_mode_sql_level1("pt", res)
        ).fetchall()
    }
    assert twin == {k: v for k, v in l1.items() if v}


def test_pyramid_mode_tie_and_nodata(spark):
    res = 4
    # one 2x2 block: values 3, 5, 5, 3 -> tie at count 2 -> smallest (3);
    # another block: 0, 0, 0, 7 -> nodata skipped -> 7; all-zero -> 0
    g = [0] * 16
    g[0], g[1], g[4], g[5] = 3, 5, 5, 3
    g[2] = 7
    df = spark.createDataFrame(
        [(0, 0, g)], "tx long, ty long, counts array<long>"
    )
    out = pyramid.pyramid_mode(df, res, levels=1).collect()[0]
    assert out["counts"][0] == 3
    assert out["counts"][1] == 7
    assert out["counts"][2] == 0
