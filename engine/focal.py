"""Focal (neighborhood) raster operators over the tile grid — halo exchange.

The missing third leg of the raster family (engine/raster.py rasterizes
points INTO tiles, engine/tiles.py cuts vectors against tiles): compute, for
every pixel of every tile, an aggregate over its (2r+1) x (2r+1) pixel
neighborhood — the focal/convolution primitive behind smoothing, density
surfaces, terrain derivatives and hotspot screens. The hard part at cluster
scale is that a pixel's window crosses tile borders, so tiles are not
independent. Every operator here runs ONE physical plan, the classic
distributed-raster HALO EXCHANGE: each tile sends only the r-pixel-wide
border strips its 8 neighbors need (edges r*res values, corners r*r), then
one groupBy(tile) assembles a (res+2r)^2 padded grid and an integral-image
pass computes every window sum in O(res^2) regardless of radius. Shuffle
volume per tile is res^2 + 4*r*res + 4*r^2 — a (1 + 4r/res + ...) factor
over the raster itself (+26% at res=16 r=1, +3% at res=256 r=1), and the
per-tile combine is numpy over Arrow batches.

The plan uses ZERO padding outside the union of input tiles (absent
neighbors contribute nothing) and emits one output row per INPUT tile —
focal_sum does not invent tiles beyond the input extent, so output
cardinality equals input cardinality.

References: the DuckDB twins (focal_sum_sql, focal_stencil_sql,
morans_i_sql, local_morans_sql, join_counts_sql) compute the same exact
integers by the scatter algebra — every nonzero cell broadcasts its value
to the (2r+1)^2 windows that see it, one GROUP BY cell sums — and the
Python oracles in tests/test_focal.py recompute each window directly.

The reference has no raster operator; this extends the brief's raster x
vector axis. Reference provenance: nearest analog is the cell-rollup
aggregation (SURVEY.md section 2.7), which is pointwise — focal is the
neighborhood generalization.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .raster import pixel_xy
from .session import local_relation, local_table


def _strip_exprs(res: int, r: int):
    """(dx, dy) -> Column extracting the border strip of `counts` a neighbor
    at that offset needs, as a flat row-major array. dx=dy=0 is the full
    tile. A neighbor at (dx, dy) sees this tile's side OPPOSITE to the
    offset direction: e.g. the neighbor to the east (dx=+1... of the target)
    receives this tile's WEST columns. Here (dx, dy) is the offset FROM this
    tile TO the target, so the strip is taken from the side facing the
    target: dx=+1 -> this tile's east columns px in [res-r, res)."""
    c = F.col("counts")

    def strip(y0: int, ny: int, x0: int, nx: int):
        # row-major rectangle [y0, y0+ny) x [x0, x0+nx) as a flat array:
        # one contiguous slice per row via a sequence HOF — O(1) expression
        # size regardless of r (the old literal index-array pick was an
        # O(r*res)-node Column tree: MB-scale task binaries and ~80 s of
        # pure plumbing at res=256 r=128, measured by the viewshed bench)
        if nx == res:
            return F.slice(c, y0 * res + 1, ny * res)
        rows = F.sequence(F.lit(y0), F.lit(y0 + ny - 1))
        return F.flatten(
            F.transform(rows, lambda py: F.slice(c, py * res + x0 + 1, nx))
        )

    out = {}
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            x0 = res - r if dx > 0 else 0
            y0 = res - r if dy > 0 else 0
            if dx == 0 and dy == 0:
                out[(0, 0)] = c
            elif dx == 0:
                out[(dx, dy)] = strip(y0, r, 0, res)
            elif dy == 0:
                out[(dx, dy)] = strip(0, res, x0, r)
            else:
                out[(dx, dy)] = strip(y0, r, x0, r)
    return out


def _box_sums(grid: np.ndarray, res: int, r: int) -> np.ndarray:
    """(res+2r)^2 padded grid -> res^2 window sums via an integral image —
    O(pad^2) for any radius."""
    ii = np.zeros((res + 2 * r + 1,) * 2, dtype=np.int64)
    np.cumsum(grid, axis=0, out=ii[1:, 1:])
    np.cumsum(ii[1:, 1:], axis=1, out=ii[1:, 1:])
    w = 2 * r + 1
    return ii[w:, w:] - ii[:-w, w:] - ii[w:, :-w] + ii[:-w, :-w]


def _tile_grids(pdf, res: int):
    """A collected (tx, ty, counts) frame -> (tile keys in row order,
    {key: res x res int64 grid})."""
    keys = [(int(t), int(y)) for t, y in zip(pdf["tx"], pdf["ty"])]
    grids = {
        k: np.asarray(c, dtype=np.int64).reshape(res, res)
        for k, c in zip(keys, pdf["counts"])
    }
    return keys, grids


def _strip(d: int, res: int, r: int) -> tuple[slice, slice]:
    """Along one axis, for the neighbor at offset d: (its rows/cols that
    border this tile, where they land in the (res+2r) halo)."""
    if d == 1:
        return slice(0, r), slice(r + res, res + 2 * r)
    if d == -1:
        return slice(res - r, res), slice(0, r)
    return slice(0, res), slice(r, r + res)


def _driver_halo(grids: dict, tx: int, ty: int, res: int, r: int):
    """numpy twin of _halo_apply's strip scatter for tile (tx, ty): the
    zero-padded (res+2r)^2 halo from the tile and its 8 neighbor grids,
    plus the same-shape 0/1 presence mask."""
    pad = res + 2 * r
    halo = np.zeros((pad, pad), dtype=np.int64)
    mask = np.zeros((pad, pad), dtype=np.int64)
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            nb = grids.get((tx + dx, ty + dy))
            if nb is None:
                continue
            ys, hy = _strip(dy, res, r)
            xs, hx = _strip(dx, res, r)
            halo[hy, hx] = nb[ys, xs]
            mask[hy, hx] = 1
    return halo, mask


def _halo_apply_driver(
    spark, pdf, res: int, r: int, finish, fields=None,
    pass_key: bool = False,
) -> DataFrame:
    """Driver-side twin of _halo_apply for pre-collected small rasters: the
    same zero-padded (res+2r)^2 halo + presence mask per tile, assembled
    with numpy slices from the neighbor grids instead of a strip shuffle,
    and the same `finish` kernel — output rows and schema identical. Used
    when the input is a local relation: `pdf` is its (tx, ty, counts)
    table; the distributed path keeps parity coverage in
    tests/test_terrain.py."""
    keys, grids = _tile_grids(pdf, res)
    out_fields = (
        [("focal", T.ArrayType(T.LongType()))] if fields is None else fields
    )
    names = [n for n, _ in out_fields]
    rows = {"tx": [], "ty": [], **{n: [] for n in names}}
    for (tx, ty) in keys:
        halo, mask = _driver_halo(grids, tx, ty, res, r)
        result = (
            finish(halo, mask, (tx, ty)) if pass_key else finish(halo, mask)
        )
        if fields is None:
            result = {"focal": result.tolist()}
        rows["tx"].append(tx)
        rows["ty"].append(ty)
        for n in names:
            rows[n].append(result[n])
    schema = T.StructType(
        [T.StructField("tx", T.LongType()), T.StructField("ty", T.LongType())]
        + [T.StructField(n, t) for n, t in out_fields]
    )
    return local_relation(spark, pd.DataFrame(rows), schema)


def _exact_sum(x: np.ndarray, p: int, name: str) -> int:
    """sum(x ** p) of an int64 array in Python ints (no wrap); raises where
    the ANSI Spark sum overflows."""
    from pyspark.errors import ArithmeticException

    total = int((x.astype(object) ** p).sum())
    if not np.iinfo(np.int64).min <= total <= np.iinfo(np.int64).max:
        raise ArithmeticException(
            message=f"[ARITHMETIC_OVERFLOW] long overflow in the {name} total"
        )
    return total


def _tile_totals(df: DataFrame, sums: dict) -> DataFrame:
    """Totals over a tile frame, one row (_tiles, <name>...): the row count
    and, per name, the sum over rows of column sums[name][0] raised to the
    power sums[name][1] (1 or 2) — over the elements of an array column.
    An empty frame gives _tiles 0 and null sums. Exact int64: the
    distributed aggregate raises on overflow under ANSI Spark. Over a local
    relation the sums run on the driver with no Spark job, raise on the
    same overflow, and come back as a one-row local relation, so the double
    expressions a caller puts over the totals fold into that relation."""
    tbl = local_table(df)
    if tbl is None:
        def expr(col, p):
            term = (lambda v: v) if p == 1 else (lambda v: v * v)
            if isinstance(df.schema[col].dataType, T.ArrayType):
                return F.aggregate(
                    col, F.lit(0).cast("long"), lambda a, v: a + term(v)
                )
            return term(F.col(col))

        return df.agg(
            F.count("*").alias("_tiles"),
            *[F.sum(expr(c, p)).alias(n) for n, (c, p) in sums.items()],
        )
    import pyarrow as pa
    import pyarrow.compute as pc

    row = {"_tiles": [tbl.num_rows]}
    for name, (col, p) in sums.items():
        v = tbl.column(col)
        if pa.types.is_list(v.type):
            v = pc.list_flatten(v)
        x = v.to_numpy().astype(np.int64)
        row[name] = [_exact_sum(x, p, name) if tbl.num_rows else None]
    return local_relation(
        df.sparkSession, row, ", ".join(f"{n} long" for n in row)
    )


def _halo_apply(
    tiles: DataFrame, res: int, r: int, finish, fields=None,
    pass_key: bool = False,
) -> DataFrame:
    """Shared halo-exchange machinery. Stage 1 (no shuffle): per tile,
    generate <= 9 addressed contributions — the full grid to itself, border
    strips to the 8 neighbors. Stage 2 (the one shuffle): groupBy target
    tile; an Arrow kernel scatters the strips into a zero-padded (res+2r)^2
    grid plus a same-shape 0/1 PRESENCE mask (which pixels belong to tiles
    that exist in the input — free in-area accounting for edge-aware stats)
    and hands both to `finish(halo, mask)`. With fields=None, finish
    returns int64[res*res] emitted as `focal`; otherwise fields is a list
    of (name, sparkType) and finish returns a dict of per-name lists.
    Tiles with no center contribution (a strip addressed to a tile absent
    from the input) are dropped, so the output tile set equals the input
    tile set. pass_key=True hands finish the (tx, ty) key as a third
    argument (kernels that need the tile's GLOBAL position, e.g. viewshed
    locating broadcast observers in patch coordinates).

    r6: when `tiles` is a local relation (its rows already on the
    driver), the whole exchange+kernel runs driver-side with identical
    output (see _halo_apply_driver)."""
    drv = local_table(tiles)
    if drv is not None and r <= res:
        return _halo_apply_driver(
            tiles.sparkSession, drv.to_pandas(), res, r, finish, fields,
            pass_key,
        )
    strips = _strip_exprs(res, r)
    contrib = F.array(
        *[
            F.struct(
                F.lit(dx).alias("dx"),
                F.lit(dy).alias("dy"),
                strip.alias("vals"),
            )
            for (dx, dy), strip in strips.items()
        ]
    )
    routed = tiles.select(
        "tx", "ty", F.explode(contrib).alias("c")
    ).select(
        (F.col("tx") + F.col("c.dx")).alias("tx"),
        (F.col("ty") + F.col("c.dy")).alias("ty"),
        F.col("c.dx").alias("dx"),
        F.col("c.dy").alias("dy"),
        F.col("c.vals").alias("vals"),
    )

    pad = res + 2 * r
    out_fields = (
        [("focal", T.ArrayType(T.LongType()))] if fields is None else fields
    )
    schema = T.StructType(
        [T.StructField("tx", T.LongType()), T.StructField("ty", T.LongType())]
        + [T.StructField(n, t) for n, t in out_fields]
    )
    names = [n for n, _ in out_fields]

    def assemble(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        dxs = pdf["dx"].to_numpy()
        dys = pdf["dy"].to_numpy()
        center = (dxs == 0) & (dys == 0)
        if not center.any():
            return pd.DataFrame(
                {"tx": [], "ty": [], **{n: [] for n in names}}
            ).astype(
                {"tx": "int64", "ty": "int64", **{n: "object" for n in names}}
            )
        halo = np.zeros((pad, pad), dtype=np.int64)
        mask = np.zeros((pad, pad), dtype=np.int64)
        for dx, dy, vals in zip(dxs, dys, pdf["vals"]):
            v = np.asarray(vals, dtype=np.int64)
            # a contribution that travelled (dx, dy) lands on the OPPOSITE
            # side of the target's halo: it came FROM tile (tx-dx, ty-dy)
            if dx == 0 and dy == 0:
                rows = cols = slice(r, r + res)
                block = v.reshape(res, res)
            elif dx == 0:
                block = v.reshape(r, res)
                rows = slice(r + res, pad) if dy < 0 else slice(0, r)
                cols = slice(r, r + res)
            elif dy == 0:
                block = v.reshape(res, r)
                rows = slice(r, r + res)
                cols = slice(r + res, pad) if dx < 0 else slice(0, r)
            else:
                block = v.reshape(r, r)
                rows = slice(r + res, pad) if dy < 0 else slice(0, r)
                cols = slice(r + res, pad) if dx < 0 else slice(0, r)
            halo[rows, cols] = block
            mask[rows, cols] = 1
        result = finish(halo, mask, key) if pass_key else finish(halo, mask)
        if fields is None:
            result = {"focal": result.tolist()}
        return pd.DataFrame(
            {"tx": [key[0]], "ty": [key[1]], **{n: [result[n]] for n in names}}
        )

    # AQE sizes the group shuffle for BYTES, not Python-kernel cost: at
    # res=256/r=128 it coalesced the 537 MB contribution shuffle to ~2
    # partitions and ran the viewshed kernel near-serial (116 s of kernel
    # CPU in an 80 s wall on 32 cores). The explicit count-pinned
    # repartition on the group keys is AQE-exempt and satisfies
    # applyInPandas' clustering requirement, so no second exchange appears
    # (same fix as imagesim.ssim_pairs / trajsim).
    n_part = tiles.sparkSession.sparkContext.defaultParallelism
    routed = routed.repartition(n_part, "tx", "ty")
    return routed.groupBy("tx", "ty").applyInPandas(assemble, schema)


def focal_sum(tiles: DataFrame, res: int, radius: int = 1) -> DataFrame:
    """(tx, ty, counts: array<long>[res*res]) -> (tx, ty, focal:
    array<long>[res*res]) where focal[py*res+px] = sum of counts over the
    (2*radius+1)^2 global-pixel window centered there, zero-padded outside
    the input tiles. Exact int64: one border-strip exchange, integral-image
    box sums; focal_sum_sql is the DuckDB twin. focal_mean = focal /
    (2r+1)^2 is left to the caller (exactness)."""
    if not (1 <= radius < res):
        raise ValueError(f"radius must be in [1, res); got {radius}")
    return _halo_apply(
        tiles, res, radius,
        lambda halo, _mask: _box_sums(halo, res, radius).reshape(-1),
    )


def focal_extremum(
    tiles: DataFrame,
    res: int,
    radius: int = 1,
    op: str = "max",
    pad=None,
) -> DataFrame:
    """Focal window MIN / MAX over the tile raster — the grayscale
    MORPHOLOGY primitive (op='max' = dilation, op='min' = erosion; binary
    0/1 rasters get the set-morphology semantics for free). Same halo
    strip-exchange plan as focal_sum: shuffle O(perimeter) per tile, then a
    numpy running-extremum over the (2r+1)^2 shifted window slices —
    O(res^2 (2r+1)^2) per tile, exact int64, no UDF rows.

    Padding outside the input tile union defaults to the operation's
    IDENTITY (min: +inf-like int64 max; max: 0 — consistent with the
    family's zero background where values are nonnegative counts). Pass
    `pad` to override (e.g. pad=0 for erosion of a signed field where the
    background really is 0).

    erode/dilate/morph_open/morph_close below are the named compositions;
    open/close pay two halo rounds (the intermediate raster must be
    re-exchanged — neighborhood of neighborhood spans 2r)."""
    if not (1 <= radius < res):
        raise ValueError(f"radius must be in [1, res); got {radius}")
    if op not in ("min", "max"):
        raise ValueError(f"op must be 'min' or 'max', got {op!r}")
    r = radius
    if pad is None:
        pad_val = np.iinfo(np.int64).max if op == "min" else 0
    else:
        pad_val = int(pad)
    reducer = np.minimum if op == "min" else np.maximum

    def finish(halo: np.ndarray, mask: np.ndarray) -> np.ndarray:
        g = np.where(mask > 0, halo, pad_val)
        out = None
        for dy in range(-r, r + 1):
            for dx in range(-r, r + 1):
                w = g[r + dy : r + dy + res, r + dx : r + dx + res]
                out = w.copy() if out is None else reducer(out, w)
        return out.reshape(-1)

    return _halo_apply(tiles, res, r, finish)


def erode(tiles: DataFrame, res: int, radius: int = 1, pad=None) -> DataFrame:
    """Grayscale erosion (focal min)."""
    return focal_extremum(tiles, res, radius, op="min", pad=pad)


def dilate(tiles: DataFrame, res: int, radius: int = 1, pad=None) -> DataFrame:
    """Grayscale dilation (focal max)."""
    return focal_extremum(tiles, res, radius, op="max", pad=pad)


def _rename_focal(df: DataFrame) -> DataFrame:
    return df.select("tx", "ty", F.col("focal").alias("counts"))


def morph_open(tiles: DataFrame, res: int, radius: int = 1) -> DataFrame:
    """Morphological opening: erosion then dilation — removes speckles /
    features thinner than the window without shrinking larger shapes."""
    return dilate(_rename_focal(erode(tiles, res, radius)), res, radius)


def morph_close(tiles: DataFrame, res: int, radius: int = 1) -> DataFrame:
    """Morphological closing: dilation then erosion — fills pinholes / gaps
    narrower than the window without growing larger shapes."""
    return erode(_rename_focal(dilate(tiles, res, radius)), res, radius)


def _tile_diff(a: DataFrame, b: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Per-pixel a - b of two aligned tile rasters: one tile-key equi-join
    + zip_with — exact int64, no UDF."""
    return (
        a.select("tx", "ty", F.col(a_col).alias("_a"))
        .join(b.select("tx", "ty", F.col(b_col).alias("_b")), ["tx", "ty"])
        .select(
            "tx", "ty",
            F.zip_with("_a", "_b", lambda x, y: x - y).alias("focal"),
        )
    )


def morph_gradient(
    tiles: DataFrame, res: int, radius: int = 1, pad=None
) -> DataFrame:
    """Morphological gradient: dilate - erode — the classic morphology edge
    detector (0 on constant regions, the local value range on boundaries).
    One halo pass per extremum + a tile-key equi-join; pad overrides both
    identities symmetrically (e.g. pad=0 to treat off-raster as
    background, making borders of the tile union read as edges)."""
    return _tile_diff(
        dilate(tiles, res, radius, pad=pad),
        erode(tiles, res, radius, pad=pad),
        "focal", "focal",
    )


def top_hat(tiles: DataFrame, res: int, radius: int = 1) -> DataFrame:
    """White top-hat: x - open(x) — isolates bright features thinner than
    the window (speckles, small peaks) on a varying background. >= 0
    everywhere by opening's anti-extensivity."""
    return _tile_diff(tiles, morph_open(tiles, res, radius), "counts", "focal")


def black_hat(tiles: DataFrame, res: int, radius: int = 1) -> DataFrame:
    """Black top-hat: close(x) - x — isolates dark features narrower than
    the window (pinholes, small pits). >= 0 everywhere by closing's
    extensivity."""
    return _tile_diff(morph_close(tiles, res, radius), tiles, "focal", "counts")


def focal_mode(
    tiles: DataFrame,
    res: int,
    radius: int = 1,
) -> DataFrame:
    """Focal MAJORITY (mode) filter — the categorical-raster cleanup op
    (smoothing a classified land-cover/segmentation raster): each pixel
    takes the most frequent value among the IN-RASTER cells of its
    (2r+1)^2 window (presence-masked — off-raster neighbors do not vote;
    in-raster zeros are a real class and do vote). Ties break to the
    SMALLEST value — deterministic and engine-independent. The center
    pixel always votes, so the result is always defined on input tiles.

    Same halo plan as every focal op; the kernel is an O(k^2) vectorized
    candidate sweep over the k = (2r+1)^2 window slices (k^2 = 81 at r=1 —
    cheaper than a per-pixel sort for the small radii mode filters use)."""
    if not (1 <= radius < res):
        raise ValueError(f"radius must be in [1, res); got {radius}")
    r = radius

    def finish(halo: np.ndarray, mask: np.ndarray) -> np.ndarray:
        ks = [
            (dy, dx)
            for dy in range(-r, r + 1)
            for dx in range(-r, r + 1)
        ]
        vals = [
            halo[r + dy : r + dy + res, r + dx : r + dx + res] for dy, dx in ks
        ]
        ms = [
            mask[r + dy : r + dy + res, r + dx : r + dx + res] for dy, dx in ks
        ]
        best_cnt = np.zeros((res, res), dtype=np.int64)
        best_val = np.zeros((res, res), dtype=np.int64)
        first = True
        for vi, mi in zip(vals, ms):
            cnt = np.zeros((res, res), dtype=np.int64)
            for vj, mj in zip(vals, ms):
                cnt += ((vj == vi) & (mj > 0)).astype(np.int64)
            cnt = np.where(mi > 0, cnt, -1)  # absent candidates never win
            if first:
                better = cnt >= 0
                first = False
            else:
                better = (cnt > best_cnt) | (
                    (cnt == best_cnt) & (vi < best_val)
                )
            best_cnt = np.where(better, cnt, best_cnt)
            best_val = np.where(better, vi, best_val)
        return best_val.reshape(-1)

    return _halo_apply(tiles, res, r, finish)


def focal_rank(
    tiles: DataFrame,
    res: int,
    radius: int = 1,
    q_e3: int = 500,
) -> DataFrame:
    """Focal RANK (percentile) filter — the generalization of focal_median
    to any order statistic: each pixel takes the element at index
    floor(q_e3 * (n - 1) / 1000) of the sorted n in-raster window values
    (q_e3 = 0 -> min, 500 -> the lower median exactly as focal_median,
    1000 -> max; the type-1 integer-exact convention — no interpolation,
    output stays exact int64). Presence-masked like focal_mode/median;
    one halo pass, one vectorized sort."""
    if not (1 <= radius < res):
        raise ValueError(f"radius must be in [1, res); got {radius}")
    if not (0 <= q_e3 <= 1000):
        raise ValueError(f"q_e3 must be in [0, 1000], got {q_e3}")
    r = radius
    sentinel = np.iinfo(np.int64).max

    def finish(halo: np.ndarray, mask: np.ndarray) -> np.ndarray:
        ks = [
            (dy, dx)
            for dy in range(-r, r + 1)
            for dx in range(-r, r + 1)
        ]
        stack = np.stack(
            [halo[r + dy : r + dy + res, r + dx : r + dx + res] for dy, dx in ks]
        )
        mstack = np.stack(
            [
                mask[r + dy : r + dy + res, r + dx : r + dx + res] > 0
                for dy, dx in ks
            ]
        )
        n = mstack.sum(axis=0)
        arr = np.where(mstack, stack, sentinel)
        arr.sort(axis=0, kind="stable")
        idx = (q_e3 * (n - 1) // 1000).astype(np.int64)
        out = np.take_along_axis(arr, idx[None, :, :], axis=0)[0]
        return out.reshape(-1)

    return _halo_apply(tiles, res, r, finish)


def focal_median(
    tiles: DataFrame,
    res: int,
    radius: int = 1,
) -> DataFrame:
    """Focal MEDIAN filter — the edge-preserving denoiser (salt-and-pepper
    removal on count/elevation rasters, where focal_sum smoothing would
    smear outliers into neighbors instead of deleting them): each pixel
    takes the LOWER MEDIAN of the in-raster cells of its (2r+1)^2 window
    (element at index (n-1)//2 of the sorted n in-window values).
    Off-raster neighbors are excluded by the presence mask, exactly like
    focal_mode; the center always counts, so n >= 1 on every input pixel.
    Lower median (not the two-middle average) keeps the output exact int64
    and engine-independent for even n — the documented convention.

    Same halo strip-exchange plan as every focal op. Kernel: stack the
    k = (2r+1)^2 shifted window slices, mask absent cells to int64-max,
    ONE vectorized per-pixel sort (O(res^2 k log k)), then index at
    (n-1)//2 — no per-pixel Python."""
    if not (1 <= radius < res):
        raise ValueError(f"radius must be in [1, res); got {radius}")
    r = radius
    sentinel = np.iinfo(np.int64).max

    def finish(halo: np.ndarray, mask: np.ndarray) -> np.ndarray:
        ks = [
            (dy, dx)
            for dy in range(-r, r + 1)
            for dx in range(-r, r + 1)
        ]
        stack = np.stack(
            [halo[r + dy : r + dy + res, r + dx : r + dx + res] for dy, dx in ks]
        )
        mstack = np.stack(
            [
                mask[r + dy : r + dy + res, r + dx : r + dx + res] > 0
                for dy, dx in ks
            ]
        )
        n = mstack.sum(axis=0)
        arr = np.where(mstack, stack, sentinel)
        arr.sort(axis=0, kind="stable")
        idx = ((n - 1) // 2).astype(np.int64)
        med = np.take_along_axis(arr, idx[None, :, :], axis=0)[0]
        return med.reshape(-1)

    return _halo_apply(tiles, res, r, finish)


def _norm_weights(weights) -> dict[tuple[int, int], int]:
    w = {(int(dx), int(dy)): int(v) for (dx, dy), v in dict(weights).items()}
    w = {k: v for k, v in w.items() if v != 0}
    if not w:
        raise ValueError("weights must contain at least one nonzero entry")
    return w


def focal_stencil(tiles: DataFrame, res: int, weights) -> DataFrame:
    """Integer-weighted focal CORRELATION over the tile raster: for every
    pixel p, out[p] = sum over (dx, dy) of weights[(dx, dy)] * x[p + (dx,
    dy)], zero-padded outside the input tiles — the generalization of
    focal_sum (all-ones weights) to arbitrary integer kernels: Sobel /
    Prewitt gradients, Laplacians, unsharp masks, asymmetric drift stencils.
    `weights` is a {(dx, dy): int} mapping; radius = max |offset|. Exact
    int64; the strip-exchange machinery with a shift-and-accumulate finish
    (O(res^2 * nnz(weights)) per tile). The DuckDB twin focal_stencil_sql
    computes the same integers by scatter (each cell emits weight * value
    to the pixels whose window sees it)."""
    w = _norm_weights(weights)
    r = max(max(abs(dx), abs(dy)) for dx, dy in w)
    if not (1 <= r < res):
        raise ValueError(f"stencil radius must be in [1, res); got {r}")
    items = sorted(w.items())

    def finish(halo: np.ndarray, _mask: np.ndarray) -> np.ndarray:
        out = np.zeros((res, res), dtype=np.int64)
        for (dx, dy), wt in items:
            out += wt * halo[r + dy : r + dy + res, r + dx : r + dx + res]
        return out.reshape(-1)

    return _halo_apply(tiles, res, r, finish)


def focal_stencil_sql(tiles_table: str, res: int, weights) -> str:
    """DuckDB twin of focal_stencil (scatter algebra with a weights VALUES
    table)."""
    w = _norm_weights(weights)
    rows = ",\n            ".join(
        f"({dx}, {dy}, {wt}::BIGINT)" for (dx, dy), wt in sorted(w.items())
    )
    return f"""
        WITH cells AS (
          SELECT tx * {res} + i % {res} AS gx,
                 ty * {res} + i // {res} AS gy,
                 counts[i + 1] AS n
          FROM {tiles_table}, range(0, {res * res}) t(i)
          WHERE counts[i + 1] <> 0
        ), offs AS (
          SELECT * FROM (VALUES
            {rows}
          ) AS t(dx, dy, wt)
        ), sums AS (
          SELECT gx - dx AS gx, gy - dy AS gy, SUM(n * wt)::BIGINT AS fs
          FROM cells, offs GROUP BY 1, 2
        ), target AS (
          SELECT CAST(FLOOR(gx / {res}.0) AS BIGINT) AS tx,
                 CAST(FLOOR(gy / {res}.0) AS BIGINT) AS ty,
                 CAST((gy % {res} + {res}) % {res} AS INT) * {res}
                   + CAST((gx % {res} + {res}) % {res} AS INT) AS pix,
                 fs
          FROM sums
        ), dense AS (
          SELECT tx, ty, MAP(list(pix), list(fs)) AS m
          FROM target GROUP BY 1, 2
        )
        SELECT t.tx, t.ty,
               COALESCE(
                 list_transform(range(0, {res * res}),
                                i -> COALESCE(m[i][1], 0)::BIGINT),
                 list_transform(range(0, {res * res}), i -> 0::BIGINT)
               ) AS focal
        FROM {tiles_table} t LEFT JOIN dense d USING (tx, ty)
    """


def gi_star(
    tiles: DataFrame,
    res: int,
    radius: int = 1,
    keep_fs: bool = False,
) -> DataFrame:
    """Getis-Ord Gi* hotspot z-scores over the tile raster: for every pixel,
    how extreme its (2r+1)^2 window sum is against the global distribution
    of cell values. Binary weights incl. self; the study area is the union
    of input-tile pixels (n = n_tiles * res^2), and windows are truncated at
    the study-area edge — the per-pixel in-area window size W is the window
    sum of the halo's presence mask, so edge pixels get the correct
    (smaller) expectation instead of a zero-padding bias.

        Gi* = (S_w - mean * W) / (sd * sqrt((n*W - W^2) / (n-1)))

    with S_w the focal sum, mean/sd the global population moments. All
    inputs to the formula (S_w, W, n, sum, sum of squares) are exact int64
    from the halo pass + the moments totals (_tile_totals); only the final
    z is floating point. Output (tx, ty, z array<double>[res^2]); z is null
    where the denominator vanishes (constant raster, or W == n);
    keep_fs=True adds the centre `counts` (as the halo kernel holds them)
    and the focal-sum array `fs`, so a caller needs no join back to the
    input. Cost: ONE fused halo pass — the in-area window size W comes free
    from the strip PRESENCE mask (_halo_apply builds it anyway), and z is
    vectorized numpy inside the same Arrow kernel (r4 A/B: a two-pass +
    interpreted zip_with shape measured ~3x slower at 16.8M cells) — plus
    the moments totals: one aggregate, or a driver sum over a local
    relation. The registry's hotspot rows
    hash-match a DuckDB pipeline built on focal_sum_sql (bit-identical
    doubles: exact int64 inputs, matching IEEE expression graphs), and
    tests compare against a Python oracle. The input is consumed twice, so
    persist `tiles` when it is itself the product of a pipeline."""
    g = _tile_totals(
        tiles, {"_sum": ("counts", 1), "_sumsq": ("counts", 2)}
    ).collect()[0]
    n = g["_tiles"] * res * res
    if n < 2:
        raise ValueError("gi_star needs a study area of >= 2 cells")
    mean = g["_sum"] / n
    var = g["_sumsq"] / n - mean * mean
    sd = float(np.sqrt(max(var, 0.0)))
    nn = float(n)
    r = radius

    def finish(halo: np.ndarray, mask: np.ndarray) -> dict:
        fs = _box_sums(halo, res, r).reshape(-1)
        wn = _box_sums(mask, res, r).reshape(-1)
        with np.errstate(divide="ignore", invalid="ignore"):
            denom = sd * np.sqrt((nn * wn - wn * wn) / (nn - 1.0))
            zv = (fs - mean * wn) / denom
        ok = denom > 0.0
        zo = zv.astype(object)
        zo[~ok] = None
        out = {"z": zo.tolist()}
        if keep_fs:
            out["counts"] = halo[r : r + res, r : r + res].reshape(-1).tolist()
            out["fs"] = fs.tolist()
        return out

    fields = (
        [("counts", T.ArrayType(T.LongType())),
         ("fs", T.ArrayType(T.LongType()))]
        if keep_fs else []
    ) + [("z", T.ArrayType(T.DoubleType()))]
    return _halo_apply(tiles, res, r, finish, fields=fields)


def hot_cells(
    tiles: DataFrame,
    res: int,
    radius: int = 1,
    z_min: float = 2.576,
) -> DataFrame:
    """Sparse hotspot extraction: explode gi_star and keep global pixels
    with z >= z_min (default: the 99% one-sided normal quantile). Returns
    (gx, gy, z) — the operator a screening pipeline actually materializes,
    bounded by the true hotspot count rather than raster size."""
    zs = gi_star(tiles, res, radius=radius)
    gx, gy = pixel_xy(res)
    return (
        zs.select("tx", "ty", F.posexplode("z").alias("pix", "z"))
        .filter(F.col("z") >= z_min)
        .select(gx.alias("gx"), gy.alias("gy"), "z")
    )


def local_morans(tiles: DataFrame, res: int, radius: int = 1) -> DataFrame:
    """Local Moran's I (Anselin 1995 "LISA") over the tile raster: per
    pixel, how strongly its deviation from the global mean co-varies with
    its neighborhood's, under the same binary (2r+1)^2 window weights
    excluding self that morans_i uses (study area = union of input-tile
    pixels, windows truncated at the edge):

        I_i = (x_i - m) * (S_i - W_i m) / m2

    with S_i the neighbor-only window sum, W_i the in-area neighbor count,
    m the global mean and m2 = sum (x - m)^2 / n the population variance.
    The additivity identity sum_i I_i = W * I_global (W = sum W_i) ties it
    to morans_i and is asserted in pytest. Alongside I_i a QUADRANT code
    classifies the (z_i, lag) sign pair: 1=HH (hot cluster core), 2=LL
    (cold cluster), 3=HL (hot outlier in cold field), 4=LH, 0=on-mean /
    isolated (z_i == 0, lag == 0, or W_i == 0).

    Global moments come from the tile totals gi_star uses (_tile_totals:
    one aggregate, or a driver sum over a local relation); per-pixel work
    is ONE fused halo pass (numpy in the Arrow kernel). S_i and W_i are
    exact int64 and the doubles follow one fixed expression graph, so Spark
    and the DuckDB twin local_morans_sql (the scatter focal algebra) agree
    bit-for-bit; tests also compare against a Python oracle. Returns (tx, ty, local
    array<double>, quad array<int>); local is null everywhere when the
    raster is constant (m2 == 0). Reference provenance: no analog; completes the
    autocorrelation family (gi_star / morans_i / join_counts).
    """
    g = _tile_totals(
        tiles, {"_sum": ("counts", 1), "_sumsq": ("counts", 2)}
    ).collect()[0]
    n = g["_tiles"] * res * res
    if n < 1:
        raise ValueError("local_morans needs a non-empty study area")
    nn = float(n)
    m = g["_sum"] / nn
    m2 = g["_sumsq"] / nn - m * m
    r = radius

    def finish(halo: np.ndarray, mask: np.ndarray) -> dict:
        x = halo[r : r + res, r : r + res].reshape(-1)
        s = _box_sums(halo, res, r).reshape(-1) - x
        wi = _box_sums(mask, res, r).reshape(-1) - 1
        zi = x - m
        lag = s - m * wi
        if m2 > 0.0:
            loc = (zi * lag / m2).astype(object).tolist()
        else:
            loc = [None] * (res * res)
        quad = np.zeros(len(zi), dtype=np.int64)
        quad[(zi > 0.0) & (lag > 0.0)] = 1
        quad[(zi < 0.0) & (lag < 0.0)] = 2
        quad[(zi > 0.0) & (lag < 0.0)] = 3
        quad[(zi < 0.0) & (lag > 0.0)] = 4
        return {"local": loc, "quad": quad.astype(int).tolist()}

    return _halo_apply(
        tiles, res, r, finish,
        fields=[
            ("local", T.ArrayType(T.DoubleType())),
            ("quad", T.ArrayType(T.IntegerType())),
        ],
    )


def local_morans_sql(
    tiles_table: str, res: int, radius: int = 1
) -> str:
    """DuckDB twin of local_morans: the scatter focal algebra per pixel,
    the same double expression graph (m = a/n, m2 = b/n - m*m, I_i =
    (x - m) * (s - m * wi) / m2), emitted SPARSE as one row per pixel
    (gx, gy, local, quad)."""
    n_px = res * res
    fs = focal_sum_sql("t_in", res, radius)
    ws = focal_sum_sql("t_ones", res, radius)
    return f"""
        WITH t_in AS (SELECT * FROM {tiles_table}),
        t_ones AS (
          SELECT tx, ty,
                 list_transform(range(0, {n_px}), i -> 1::BIGINT) AS counts
          FROM t_in
        ),
        fsq AS ({fs}),
        wq AS ({ws}),
        gm AS (
          SELECT SUM(x)::BIGINT AS a, SUM(x * x)::BIGINT AS b,
                 CAST(COUNT(*) AS DOUBLE) AS n
          FROM (SELECT counts[i + 1] AS x
                FROM t_in, range(0, {n_px}) r(i))
        ),
        px AS (
          SELECT t.tx * {res} + i % {res} AS gx,
                 t.ty * {res} + i // {res} AS gy,
                 t.counts[i + 1] AS x,
                 f.focal[i + 1] - t.counts[i + 1] AS s,
                 w.focal[i + 1] - 1 AS wi
          FROM t_in t
          JOIN fsq f USING (tx, ty)
          JOIN wq w USING (tx, ty), range(0, {n_px}) r(i)
        )
        SELECT gx, gy,
               CASE WHEN (b / n - (a / n) * (a / n)) > 0.0
                    THEN ((x - a / n) * (s - (a / n) * wi))
                           / (b / n - (a / n) * (a / n))
               END AS local,
               CASE WHEN x - a / n > 0.0 AND s - (a / n) * wi > 0.0 THEN 1
                    WHEN x - a / n < 0.0 AND s - (a / n) * wi < 0.0 THEN 2
                    WHEN x - a / n > 0.0 AND s - (a / n) * wi < 0.0 THEN 3
                    WHEN x - a / n < 0.0 AND s - (a / n) * wi > 0.0 THEN 4
                    ELSE 0
               END AS quad
        FROM px, gm
    """


def morans_i(tiles: DataFrame, res: int, radius: int = 1) -> DataFrame:
    """Global Moran's I spatial autocorrelation of the tile raster under
    binary (2r+1)^2 window weights EXCLUDING self, study area = the union of
    input-tile pixels, windows truncated at the study-area edge (same
    in-area W accounting as gi_star).

        I = (n / W) * sum_i (x_i - m)(S_i - W_i m) / sum_i (x_i - m)^2

    with S_i the window sum over neighbors of i, W_i its in-area neighbor
    count, W = sum W_i, m the global mean. Everything reduces to SEVEN exact
    int64 aggregates (n, sum x, sum x^2, sum x*S, sum x*W_i, sum S, sum W_i),
    so the final double is bit-stable across engines:

        num = C - m*D - m*E + m*m*G     (C=sum xS, D=sum xW, E=sum S, G=sum W)
        den = B - n*m*m                 (B=sum x^2)
        I   = (n / G) * num / den

    Returns one row (n_cells, w_sum, moran_i) — moran_i null on a constant
    raster (den == 0) or when no pixel has any neighbor (G == 0). Cost: ONE
    fused halo pass emitting the seven per-tile partial sums as scalars
    (numpy inside the Arrow kernel; W from the strip presence mask) + the
    7-column totals (_tile_totals: one aggregate, or over a local relation
    a driver sum into a one-row local relation that the final double
    expressions fold into) (r4 A/B: ~5x faster at 16.8M cells than two
    focal passes + an interpreted HOF fold). morans_i_sql (the scatter
    focal algebra in DuckDB) and the Python oracle in tests are the
    references."""
    r = radius

    def finish(halo: np.ndarray, mask: np.ndarray) -> dict:
        x = halo[r : r + res, r : r + res]
        s = _box_sums(halo, res, r) - x  # neighbor-only window sums
        wi = _box_sums(mask, res, r) - 1  # in-area neighbor counts
        return {
            "a": int(x.sum()), "b": int((x * x).sum()),
            "c": int((x * s).sum()), "d": int((x * wi).sum()),
            "e": int(s.sum()), "g": int(wi.sum()),
        }

    g = _tile_totals(
        _halo_apply(
            tiles, res, r, finish,
            fields=[(c, T.LongType()) for c in "abcdeg"],
        ),
        {c: (c, 1) for c in "abcdeg"},
    )
    n = (F.col("_tiles") * (res * res)).cast("double")
    m = F.col("a") / n
    num = F.col("c") - m * F.col("d") - m * F.col("e") + m * m * F.col("g")
    den = F.col("b") - n * m * m
    gg = F.col("g").cast("double")
    moran = F.when((den > 0.0) & (F.col("g") > 0), (n / gg) * num / den)
    return g.select(
        (F.col("_tiles") * (res * res)).cast("long").alias("n_cells"),
        F.col("g").alias("w_sum"),
        moran.alias("moran_i"),
    )


def morans_i_sql(tiles_table: str, res: int, radius: int = 1) -> str:
    """DuckDB twin of morans_i: the same seven int64 aggregates from the
    scatter focal algebra, the same double expression graph."""
    n_px = res * res
    fs = focal_sum_sql("t_in", res, radius)
    ws = focal_sum_sql("t_ones", res, radius)
    return f"""
        WITH t_in AS (SELECT * FROM {tiles_table}),
        t_ones AS (
          SELECT tx, ty,
                 list_transform(range(0, {n_px}), i -> 1::BIGINT) AS counts
          FROM t_in
        ),
        fsq AS ({fs}),
        wq AS ({ws}),
        px AS (
          SELECT t.counts[i + 1] AS x,
                 f.focal[i + 1] - t.counts[i + 1] AS s,
                 w.focal[i + 1] - 1 AS wi
          FROM t_in t
          JOIN fsq f USING (tx, ty)
          JOIN wq w USING (tx, ty), range(0, {n_px}) r(i)
        ),
        agg AS (
          SELECT COUNT(*) AS n_int,
                 CAST(COUNT(*) AS DOUBLE) AS n,
                 SUM(x)::BIGINT AS a, SUM(x * x)::BIGINT AS b,
                 SUM(x * s)::BIGINT AS c, SUM(x * wi)::BIGINT AS d,
                 SUM(s)::BIGINT AS e, SUM(wi)::BIGINT AS g
          FROM px
        )
        SELECT n_int::BIGINT AS n_cells, g AS w_sum,
               CASE WHEN (b - n * (a / n) * (a / n) > 0.0) AND g > 0
                    THEN (n / CAST(g AS DOUBLE))
                           * (c - (a / n) * d - (a / n) * e
                              + (a / n) * (a / n) * g)
                           / (b - n * (a / n) * (a / n))
               END AS moran_i
        FROM agg
    """


def join_counts(
    tiles: DataFrame,
    res: int,
    radius: int = 1,
    thresh: int = 0,
) -> DataFrame:
    """Join-count statistics (Cliff & Ord 1981 ch.1) — the CATEGORICAL
    companion of morans_i: classify every pixel Black (count > thresh) or
    White, then count the BB / BW / WW adjacencies ("joins") under the same
    binary (2r+1)^2 window weights excluding self, study area = the union
    of input-tile pixels, windows truncated at the area edge.

    Everything is exact int64: with b_i in {0,1}, S_i the neighbor-only
    window sum of b and W_i the in-area neighbor count,

        BB = (sum_i b_i S_i) / 2          (each BB pair seen from both ends)
        BW = sum_i b_i (W_i - S_i)        (each BW pair has ONE black end)
        WW = joins - BB - BW,  joins = (sum_i W_i) / 2

    so five integer aggregates (nb, g=sum W_i, w2=sum W_i^2, bb2=sum b*S,
    d=sum b*W_i) determine every count. z-scores use FREE (binomial)
    sampling with p estimated as nb/n; with m = joins and k = w2 - g (the
    number of ordered neighbor-pair "cotangencies" sharing a hub pixel),
    the pair-covariance expansion gives

        E[BB]   = m p^2
        Var[BB] = m p^2 (1 - p^2) + k p^3 (1 - p)
        E[BW]   = 2 m p q
        Var[BW] = 2 m p q (1 - 2 p q) + k p q (1 - 4 p q)

    (derivation: Var(sum of pair indicators) = sum Var + 2 sum Cov over
    pair-of-pairs sharing one pixel; Cov(BB) = p^3 - p^4, Cov(BW) = pq -
    4p^2q^2; disjoint pairs are independent under free sampling — pinned by
    an exact 2^n enumeration test). The final doubles are one fixed
    expression graph over the exact ints, so Spark and the DuckDB twin
    agree bit-for-bit. Returns one row (n_cells, n_black, joins, bb, bw,
    ww, e_bb, e_bw, z_bb, z_bw); z null when the variance is 0 (constant
    color or no neighbor pairs).

    Cost mirrors morans_i: ONE fused halo pass emitting five per-tile int
    scalars + the same totals (_tile_totals: one aggregate, or a driver sum
    over a local relation). join_counts_sql (the scatter focal algebra in
    DuckDB) and the Python oracle in tests are the references.
    Reference provenance: no analog (the reference has no raster ops);
    extends the brief's hotspot/screening family alongside gi_star.
    """
    r = radius
    cols = ("nb", "g", "w2", "bb2", "d")

    def finish(halo: np.ndarray, mask: np.ndarray) -> dict:
        bh = ((halo > thresh) & (mask > 0)).astype(np.int64)
        b = bh[r : r + res, r : r + res]
        sb = _box_sums(bh, res, r) - b
        wi = _box_sums(mask, res, r) - 1
        return {
            "nb": int(b.sum()),
            "g": int(wi.sum()),
            "w2": int((wi * wi).sum()),
            "bb2": int((b * sb).sum()),
            "d": int((b * wi).sum()),
        }

    agg = _tile_totals(
        _halo_apply(
            tiles, res, r, finish, fields=[(c, T.LongType()) for c in cols]
        ),
        {c: (c, 1) for c in cols},
    )
    n = (F.col("_tiles") * (res * res)).cast("double")
    p = F.col("nb") / n
    q = F.lit(1.0) - p
    m = F.expr("g div 2")
    k = F.col("w2") - F.col("g")
    bb = F.expr("bb2 div 2")
    bw = F.col("d") - F.col("bb2")
    ww = m - bb - bw
    md, kd = m.cast("double"), k.cast("double")
    e_bb = md * p * p
    e_bw = F.lit(2.0) * md * p * q
    var_bb = md * p * p * (F.lit(1.0) - p * p) \
        + kd * p * p * p * (F.lit(1.0) - p)
    var_bw = F.lit(2.0) * md * p * q * (F.lit(1.0) - F.lit(2.0) * p * q) \
        + kd * p * q * (F.lit(1.0) - F.lit(4.0) * p * q)
    return agg.select(
        (F.col("_tiles") * (res * res)).cast("long").alias("n_cells"),
        F.col("nb").alias("n_black"),
        m.alias("joins"),
        bb.alias("bb"),
        bw.alias("bw"),
        ww.alias("ww"),
        e_bb.alias("e_bb"),
        e_bw.alias("e_bw"),
        F.when(var_bb > 0, (bb.cast("double") - e_bb) / F.sqrt(var_bb))
        .alias("z_bb"),
        F.when(var_bw > 0, (bw.cast("double") - e_bw) / F.sqrt(var_bw))
        .alias("z_bw"),
    )


def join_counts_sql(
    tiles_table: str, res: int, radius: int = 1, thresh: int = 0
) -> str:
    """DuckDB twin of join_counts: the same five int64 aggregates from the
    scatter focal algebra, the same double expression graph (operand order
    preserved multiplication-for-multiplication for bit equality)."""
    n_px = res * res
    fb = focal_sum_sql("t_bin", res, radius)
    ws = focal_sum_sql("t_ones", res, radius)
    return f"""
        WITH t_in AS (SELECT * FROM {tiles_table}),
        t_bin AS (
          SELECT tx, ty,
                 list_transform(
                   counts,
                   v -> (CASE WHEN v > {thresh} THEN 1 ELSE 0 END)::BIGINT
                 ) AS counts
          FROM t_in
        ),
        t_ones AS (
          SELECT tx, ty,
                 list_transform(range(0, {n_px}), i -> 1::BIGINT) AS counts
          FROM t_in
        ),
        fbq AS ({fb}),
        wq AS ({ws}),
        px AS (
          SELECT b.counts[i + 1] AS x,
                 f.focal[i + 1] - b.counts[i + 1] AS s,
                 w.focal[i + 1] - 1 AS wi
          FROM t_bin b
          JOIN fbq f USING (tx, ty)
          JOIN wq w USING (tx, ty), range(0, {n_px}) r(i)
        ),
        agg AS (
          SELECT COUNT(*) AS n_int,
                 CAST(COUNT(*) AS DOUBLE) AS n,
                 SUM(x)::BIGINT AS nb, SUM(wi)::BIGINT AS g,
                 SUM(wi * wi)::BIGINT AS w2,
                 SUM(x * s)::BIGINT AS bb2, SUM(x * wi)::BIGINT AS d
          FROM px
        ),
        fin AS (
          SELECT n_int::BIGINT AS n_cells, nb, g // 2 AS m, w2 - g AS k,
                 bb2 // 2 AS bb, d - bb2 AS bw,
                 nb / n AS p, 1.0 - nb / n AS q
          FROM agg
        ),
        ex AS (
          SELECT n_cells, nb, m, bb, bw, m - bb - bw AS ww,
                 CAST(m AS DOUBLE) * p * p AS e_bb,
                 2.0 * CAST(m AS DOUBLE) * p * q AS e_bw,
                 CAST(m AS DOUBLE) * p * p * (1.0 - p * p)
                   + CAST(k AS DOUBLE) * p * p * p * (1.0 - p) AS var_bb,
                 2.0 * CAST(m AS DOUBLE) * p * q * (1.0 - 2.0 * p * q)
                   + CAST(k AS DOUBLE) * p * q * (1.0 - 4.0 * p * q) AS var_bw
          FROM fin
        )
        SELECT n_cells, nb AS n_black, m AS joins, bb, bw, ww, e_bb, e_bw,
               CASE WHEN var_bb > 0
                    THEN (CAST(bb AS DOUBLE) - e_bb) / sqrt(var_bb)
               END AS z_bb,
               CASE WHEN var_bw > 0
                    THEN (CAST(bw AS DOUBLE) - e_bw) / sqrt(var_bw)
               END AS z_bw
        FROM ex
    """


def focal_sum_sql(tiles_table: str, res: int, radius: int = 1) -> str:
    """DuckDB twin of focal_sum (scatter algebra): unnest to global cells,
    offset cross join, sum per cell, re-densify on the input tile set."""
    r = radius
    return f"""
        WITH cells AS (
          SELECT tx * {res} + i % {res} AS gx,
                 ty * {res} + i // {res} AS gy,
                 counts[i + 1] AS n
          FROM {tiles_table}, range(0, {res * res}) t(i)
          WHERE counts[i + 1] <> 0
        ), offs AS (
          SELECT dx.o AS dx, dy.o AS dy
          FROM range(-{r}, {r + 1}) dx(o), range(-{r}, {r + 1}) dy(o)
        ), sums AS (
          SELECT gx + dx AS gx, gy + dy AS gy, SUM(n)::BIGINT AS fs
          FROM cells, offs GROUP BY 1, 2
        ), target AS (
          SELECT CAST(FLOOR(gx / {res}.0) AS BIGINT) AS tx,
                 CAST(FLOOR(gy / {res}.0) AS BIGINT) AS ty,
                 CAST((gy % {res} + {res}) % {res} AS INT) * {res}
                   + CAST((gx % {res} + {res}) % {res} AS INT) AS pix,
                 fs
          FROM sums
        ), dense AS (
          SELECT tx, ty, MAP(list(pix), list(fs)) AS m
          FROM target GROUP BY 1, 2
        )
        SELECT t.tx, t.ty,
               COALESCE(
                 list_transform(range(0, {res * res}),
                                i -> COALESCE(m[i][1], 0)::BIGINT),
                 list_transform(range(0, {res * res}), i -> 0::BIGINT)
               ) AS focal
        FROM {tiles_table} t LEFT JOIN dense d USING (tx, ty)
    """
