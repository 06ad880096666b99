"""The shared tile-pixel layout helpers (engine.raster.pixel_xy / tile_pixel /
floor_div) and terrain's pixel node-id codec, against Python integer math."""

from functools import reduce

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from engine import terrain
from engine.raster import floor_div, pixel_xy, pixel_xy_np, tile_pixel
from tests.conftest import spark  # noqa: F401


def test_pixel_xy_tile_pixel_roundtrip(spark):
    rows = []
    for res in (1, 16, 256):
        pixs = (
            range(res * res) if res == 16
            else sorted({0, res - 1, res * res - res, res * res - 1})
        )
        rows += [
            (res, tx, ty, p)
            for tx in (-3, -1, 0, 2) for ty in (-2, 0, 5) for p in pixs
        ]
    df = spark.createDataFrame(rows, "res int, tx long, ty long, pix int")
    parts = []
    for res in (1, 16, 256):
        gx, gy = pixel_xy(res)
        tx, ty, pix = tile_pixel(res, gx, gy)
        parts.append(
            df.filter(F.col("res") == res).select(
                "res", "tx", "ty", "pix", gx.alias("gx"), gy.alias("gy"),
                tx.alias("tx2"), ty.alias("ty2"), pix.alias("pix2"),
            )
        )
    out = reduce(DataFrame.unionByName, parts)
    types = dict(out.dtypes)
    assert [types[c] for c in ("gx", "gy", "tx2", "ty2", "pix2")] == [
        "bigint", "bigint", "bigint", "bigint", "int"
    ]
    got = out.collect()
    assert len(got) == len(rows)
    for r in got:
        assert r.gx == r.tx * r.res + r.pix % r.res
        assert r.gy == r.ty * r.res + r.pix // r.res
        assert (r.tx2, r.ty2, r.pix2) == (r.tx, r.ty, r.pix)
    # the numpy twin over whole tiles (negative ones too), in pix order
    keys = [(-3, -2), (-1, 0), (0, 5), (2, -1)]
    for res in (1, 8, 16):
        gx, gy = pixel_xy(res)
        want = (
            spark.createDataFrame(
                [(tx, ty, p) for tx, ty in keys for p in range(res * res)],
                "tx long, ty long, pix int",
            )
            .select(gx.alias("gx"), gy.alias("gy"))
            .collect()
        )
        got = pixel_xy_np([k[0] for k in keys], [k[1] for k in keys], res)
        assert [a.dtype for a in got] == [np.int64, np.int64]
        assert list(zip(got[0].tolist(), got[1].tolist())) == [
            (r.gx, r.gy) for r in want
        ]


def test_terrain_node_codec_matches_numpy(spark):
    vals = [-(1 << 20), -1, 0, 1 << 20]
    pairs = [(x, y) for x in vals for y in vals]
    df = spark.createDataFrame(pairs, "gx long, gy long")
    node = terrain._pack(F.col("gx"), F.col("gy"))
    ux, uy = terrain._unpack(node)
    got = df.select(
        "gx", "gy", node.alias("node"), ux.alias("ux"), uy.alias("uy")
    ).orderBy("gx", "gy").collect()
    xs, ys = np.asarray(sorted(pairs)).T
    assert [r.node for r in got] == terrain._pack_np(xs, ys).tolist()
    assert [(r.ux, r.uy) for r in got] == sorted(pairs)
    nx, ny = terrain._unpack_np([r.node for r in got])
    assert list(zip(nx.tolist(), ny.tolist())) == sorted(pairs)


def test_floor_div_matches_python(spark):
    nums = [-(1 << 40) - 3, -50, -8, -7, -1, 0, 1, 6, 7, 13, (1 << 40) + 5]
    rows = [(n, d) for n in nums for d in range(1, 8)]
    df = spark.createDataFrame(rows, "num long, den long")
    got = df.select(
        "num", "den",
        floor_div(F.col("num"), F.col("den")).alias("q_col"),
        *[floor_div(F.col("num"), d).alias(f"q{d}") for d in range(1, 8)],
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        assert r.q_col == r.num // r.den
        assert r[f"q{r.den}"] == r.num // r.den
