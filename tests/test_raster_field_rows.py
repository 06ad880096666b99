"""raster_field's row builder (__spark_entry__._tile_rows): tile tables
flattened in pixel order into (tag, a, b, c, d, e) pyarrow rows."""

import pyarrow as pa
import pyarrow.compute as pc
import pytest

import __spark_entry__ as entry_mod
from engine import focal
from engine.session import local_relation
from tests.conftest import spark  # noqa: F401

ROW_SCHEMA = pa.schema(
    [("tag", pa.string())] + [(n, pa.int64()) for n in "abcde"]
)


def test_hot_rows_null_z_on_constant_raster(spark):  # noqa: F811
    # a constant raster has zero variance: every Gi* denominator is 0, so
    # z is null and z_e6 stays null on every row
    res = 4
    tiles = local_relation(
        spark, [(0, 0, [5] * 16), (1, 0, [5] * 16)],
        "tx long, ty long, counts array<long>",
    )
    zs = focal.gi_star(tiles, res, radius=1, keep_fs=True)
    rows = entry_mod._tile_rows(
        "hot", entry_mod._arrow(zs), res,
        "counts", "fs", entry_mod._floor_scaled("z", 1e6),
    )
    assert rows.schema == ROW_SCHEMA
    assert rows.num_rows == 32
    assert rows["e"].null_count == 32
    assert rows["c"].to_pylist() == [5] * 32


def test_tile_rows_where_literal_and_callable():
    # res 2: tile (-1, 2) covers gx -2..-1, tile (0, 2) gx 0..1, gy 4..5
    tbl = pa.table({
        "tx": pa.array([-1, 0], pa.int64()),
        "ty": pa.array([2, 2], pa.int64()),
        "v": pa.array([[0, 3, 0, 4], [5, 0, None, 6]], pa.list_(pa.int32())),
    })
    out = entry_mod._tile_rows(
        "t", tbl, 2, "v", 7, lambda f: pc.multiply(f["v"], 2),
        where=lambda f: pc.not_equal(f["v"], 0),
    )
    assert out.schema == ROW_SCHEMA
    assert [tuple(r.values()) for r in out.to_pylist()] == [
        ("t", -1, 4, 3, 7, 6),
        ("t", -1, 5, 4, 7, 8),
        ("t", 0, 4, 5, 7, 10),
        ("t", 1, 5, 6, 7, 12),
    ]
    # a and b take the same specs: a literal level and a shifted gy
    lv = entry_mod._tile_rows(
        "p", tbl, 2, "v", a=3, b=lambda f: pc.add(f["gy"], 1),
    )
    assert lv["a"].to_pylist() == [3] * 8
    assert lv["b"].to_pylist() == [5, 5, 6, 6] * 2
    assert lv["e"].to_pylist() == [-1] * 8


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), 1e300])
def test_floor_scaled_raises_on_unrepresentable(bad):
    tbl = pa.table({
        "tx": pa.array([0], pa.int64()), "ty": pa.array([0], pa.int64()),
        "z": pa.array([[0.25, bad, None, -0.5]], pa.list_(pa.float64())),
    })
    scaled = entry_mod._floor_scaled("z", 1e6)
    with pytest.raises(pa.ArrowInvalid):
        entry_mod._tile_rows("x", tbl, 2, scaled)
    ok = tbl.set_column(
        2, "z", pa.array([[0.25, 1.5, None, -0.5]], pa.list_(pa.float64()))
    )
    assert entry_mod._tile_rows("x", ok, 2, scaled)["c"].to_pylist() == [
        250000, 1500000, None, -500000,
    ]


def test_tile_rows_refuses_ragged_arrays():
    tbl = pa.table({
        "tx": pa.array([0], pa.int64()), "ty": pa.array([0], pa.int64()),
        "v": pa.array([[1, 2, 3]], pa.list_(pa.int64())),
    })
    with pytest.raises(ValueError):
        entry_mod._tile_rows("x", tbl, 2, "v")
