"""Deterministic synthetic tables (seed=42) — FIXTURES.md specs.

Generators:
  images_df          primary input (BASELINE.json input_hint shape); scalable
                     Column-math path (no bytes) for bench scale, pandas_udf bytes
                     path for correctness scale
  polygons_df        convex boundary polygons (PIP right side), valid intervals
  tiles_df           raster tile grid (z 7..11) over an extent
  object_versions_df versioned-entity history driving the diff/propagation pipeline
                     (graft analog of the reference ObjectVersion,
                     /root/reference/.../osmdata/ObjectVersion.scala:3-17)

All PRNG use is seeded (np.random.default_rng([42, ...])); regenerating at the same
scale is bit-identical regardless of partitioning (per-row streams keyed by row id).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import cells, image_codec, schema
from .session import local_relation

SEED = 42

# Megacity hot box (skew fixture): 0.5 x 0.5 degrees.
HOT_LON_MIN, HOT_LAT_MIN = 2.25, 48.75  # "Paris-ish"
HOT_BOX_DEG = 0.5

_ADJECTIVES = [
    "quiet", "bright", "old", "new", "red", "green", "tall", "small",
    "wide", "narrow", "dusty", "wet", "cold", "warm", "busy", "empty",
]
_NOUNS = [
    "bridge", "market", "tower", "park", "river", "station", "harbor", "square",
    "museum", "garden", "castle", "mill", "gate", "fountain", "arch", "pier",
]


def _hot_phash_expr(key):
    """phash remapped so the anchor lands inside the megacity box (Column math)."""
    w32 = 2**32
    # x span covering HOT_BOX_DEG of longitude; y span for latitude
    x0 = int((HOT_LON_MIN + 180.0) / 360.0 * w32)
    xw = max(1, int(HOT_BOX_DEG / 360.0 * w32))
    y0 = int((HOT_LAT_MIN + 90.0) / 180.0 * 2**31)
    yw = max(1, int(HOT_BOX_DEG / 180.0 * 2**31))
    base = cells.synth_phash(key)
    x = F.lit(x0) + cells.phash_x(base) % F.lit(xw)
    y = F.lit(y0) + cells.phash_y(base) % F.lit(yw)
    return y * F.lit(w32) + x


def images_df(
    spark: SparkSession,
    n: int,
    with_bytes: bool = False,
    hot_frac: float = 0.0,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic images table. Column-math everywhere except the optional
    bytes column (Arrow-batched pandas kernel). Scales to arbitrary n: built on
    spark.range, never a driver-side collect."""
    rng_base = spark.range(0, n, 1, partitions or max(1, min(64, n // 4096 + 1)))
    key = F.col("id")
    phash_cold = cells.synth_phash(key)
    if hot_frac > 0:
        hot = (key % F.lit(1000)) < F.lit(int(hot_frac * 1000))
        phash = F.when(hot, _hot_phash_expr(key)).otherwise(phash_cold)
    else:
        phash = phash_cold
    # w/h in {16,32,64}; fmt 80% raw / 20% png — all from key arithmetic
    sizes = F.array(F.lit(16), F.lit(32), F.lit(64))
    w = F.element_at(sizes, (key % 3 + 1).cast("int"))
    h = F.element_at(sizes, ((key / F.lit(3)).cast("long") % 3 + 1).cast("int"))
    fmt = F.when(key % 5 == 4, F.lit("png")).otherwise(F.lit("raw"))
    adj = F.element_at(
        F.array(*[F.lit(a) for a in _ADJECTIVES]), (key % 16 + 1).cast("int")
    )
    noun = F.element_at(
        F.array(*[F.lit(x) for x in _NOUNS]), ((key / F.lit(16)).cast("long") % 16 + 1).cast("int")
    )
    lon, lat = cells.anchor_lon(phash), cells.anchor_lat(phash)
    caption = F.format_string("%s %s near (%.3f,%.3f)", adj, noun, lon, lat)
    df = rng_base.select(
        F.format_string("img%012d", key).alias("image_id"),
        w.alias("w"),
        h.alias("h"),
        fmt.alias("fmt"),
        caption.alias("caption"),
        phash.alias("phash"),
        key.alias("_key"),
    )
    if with_bytes:
        def gen_bytes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                blobs = []
                for k, ww, hh, f in zip(pdf["_key"], pdf["w"], pdf["h"], pdf["fmt"]):
                    rng = np.random.default_rng([SEED, int(k)])
                    px = rng.integers(0, 256, size=(int(hh), int(ww), 3), dtype=np.uint8)
                    blobs.append(
                        image_codec.encode_png(px)
                        if f == "png"
                        else image_codec.encode_raw(px)
                    )
                pdf = pdf.copy()
                pdf["bytes"] = blobs
                yield pdf
        out_schema = (
            "image_id string, w int, h int, fmt string, caption string, "
            "phash long, _key long, bytes binary"
        )
        df = df.mapInPandas(gen_bytes, schema=out_schema)
    else:
        df = df.withColumn("bytes", F.lit(None).cast("binary"))
    return df.select("image_id", "bytes", "w", "h", "fmt", "caption", "phash")


def _smooth_pixels(key: int, h: int, w: int) -> np.ndarray:
    """Deterministic smooth content for the LOSSY codec leg: per-channel 2-D
    sinusoids over a random base + sigma=2 noise, rounded half-up. Smooth
    (energy concentrated in low DCT frequencies) so block-DCT at quality 95
    lands squarely in the PSNR [40, 50) window — actually lossy, actually
    passing — unlike images_df's uniform noise, which no transform codec can
    carry at 40 dB. Spec duplicated numerically in tests/gen_goldens.py."""
    rng = np.random.default_rng([SEED, 7, int(key)])
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    fx, fy = rng.uniform(0.5, 3.0, 2)
    ph = rng.uniform(0, 2 * np.pi, 3)
    base = rng.uniform(60, 180, 3)
    amp = rng.uniform(20, 60, 3)
    px = np.empty((h, w, 3))
    for c in range(3):
        px[:, :, c] = (
            base[c]
            + amp[c] * np.sin(2 * np.pi * fx * xx / w + ph[c])
            + 0.5 * amp[c] * np.cos(2 * np.pi * fy * yy / h + ph[c])
        )
    px += rng.normal(0, 2.0, (h, w, 3))
    return np.clip(np.floor(px + 0.5), 0, 255).astype(np.uint8)


def lossy_images_df(spark: SparkSession, n: int, quality: int = 95) -> DataFrame:
    """images_df companion carrying LOSSY block-DCT payloads (fmt='bdct',
    engine.image_codec.encode_bdct) over smooth deterministic content.
    Sizes cycle {24,40,64} and every 4th image is cropped to an odd shape
    (w-3, h-5) so the codec's 8-px replicate padding + decode crop is
    exercised in-pipeline. Same output schema as images_df."""
    sizes = np.array([24, 40, 64], dtype=np.int64)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for k in pdf["id"]:
                k = int(k)
                w = int(sizes[k % 3])
                h = int(sizes[(k // 3) % 3])
                if k % 4 == 3:
                    w -= 3
                    h -= 5
                px = _smooth_pixels(k, h, w)
                rows.append(
                    (
                        f"img{k:012d}",
                        image_codec.encode_bdct(px, quality),
                        w,
                        h,
                        "bdct",
                        f"smooth field {k}",
                        k,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["image_id", "bytes", "w", "h", "fmt", "caption", "_key"],
            )

    rng_base = spark.range(0, n, 1, max(1, min(32, n // 64 + 1)))
    return rng_base.mapInPandas(
        gen,
        schema=(
            "image_id string, bytes binary, w int, h int, fmt string, "
            "caption string, _key long"
        ),
    )


def lossy_fidelity_batches():
    """mapInPandas kernel over lossy_images_df rows: regenerate the ORIGINAL
    pixels from _key (deterministic spec), decode the stored bdct payload and
    report original-vs-decoded PSNR (e2 fixed point) + whether any pixel
    actually changed. This is the orig-side fidelity check the round-trip
    verify gate (decode->re-encode->decode) cannot see."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            # zip, not itertuples: namedtuple mangles the _key column name
            for iid, k, w, h, blob in zip(
                pdf["image_id"], pdf["_key"], pdf["w"], pdf["h"], pdf["bytes"]
            ):
                px = _smooth_pixels(int(k), int(h), int(w))
                dec = image_codec.decode_bdct(blob)
                p = image_codec.psnr(px, dec)
                out.append(
                    (
                        iid,
                        int(np.floor(p * 100.0)) if np.isfinite(p) else -1,
                        not np.array_equal(px, dec),
                    )
                )
            yield pd.DataFrame(out, columns=["image_id", "psnr_e2", "lossy"])

    return run


def polygons_df(
    spark: SparkSession, p: int = 10, hot_frac: float = 0.1, radius_scale: float = 1.0
) -> DataFrame:
    """Convex polygons (5-12 vertices on a PRNG ellipse); ~hot_frac of centers inside
    the megacity box. Driver-side numpy (polygon sets are small dims — they get
    broadcast in PIP joins)."""
    rows = []
    epoch = dt.datetime(2017, 1, 1)
    span = dt.datetime(2021, 1, 1) - epoch
    for i in range(p):
        rng = np.random.default_rng([SEED, 7, i])
        if rng.random() < hot_frac:
            clon = HOT_LON_MIN + rng.random() * HOT_BOX_DEG
            clat = HOT_LAT_MIN + rng.random() * HOT_BOX_DEG
            rlon, rlat = 0.05 + rng.random() * 0.3, 0.05 + rng.random() * 0.3
        else:
            clon = rng.uniform(-170, 170)
            clat = rng.uniform(-80, 80)
            rlon = (0.5 + rng.random() * 8.0) * radius_scale
            rlat = (0.5 + rng.random() * 6.0) * radius_scale
        nv = int(rng.integers(5, 13))
        angles = np.sort(rng.uniform(0, 2 * np.pi, nv))
        lons = clon + rlon * np.cos(angles)
        lats = clat + rlat * np.sin(angles)
        ring = [{"lon": float(lo), "lat": float(la)} for lo, la in zip(lons, lats)]
        bbox = {
            "min": {"lon": float(lons.min()), "lat": float(lats.min())},
            "max": {"lon": float(lons.max()), "lat": float(lats.max())},
        }
        t0 = epoch + (i / p) * span
        t1 = epoch + ((i + 1) / p) * span
        rows.append(
            {"poly_id": i, "ring": ring, "bbox": bbox, "valid_from": t0, "valid_to": t1}
        )
    return local_relation(spark, rows, schema.POLYGONS)


def pack_tile(z: int, x, y):
    """tile_id = z * 2^50 + x * 2^25 + y (z <= 24, x/y < 2^25)."""
    return z * 2**50 + x * 2**25 + y


def tiles_df(
    spark: SparkSession,
    zooms: tuple[int, ...] = (7, 8, 9, 10, 11),
    extent: tuple[float, float, float, float] = (-10.0, 40.0, 10.0, 55.0),
) -> DataFrame:
    """Equirectangular tile grid over `extent` (lon_min, lat_min, lon_max, lat_max)
    for each zoom. Tile (z,x,y) covers the same lattice as grid res z."""
    lon0, lat0, lon1, lat1 = extent
    rows = []
    for z in zooms:
        n = 2**z
        x0 = int(np.floor((lon0 + 180) / 360 * n))
        x1 = int(np.floor((lon1 + 180) / 360 * n))
        y0 = int(np.floor((lat0 + 90) / 180 * n))
        y1 = int(np.floor((lat1 + 90) / 180 * n))
        for x in range(x0, x1 + 1):
            for y in range(y0, y1 + 1):
                rows.append(
                    {
                        "tile_id": pack_tile(z, x, y),
                        "z": z,
                        "x": x,
                        "y": y,
                        "bounds": {
                            "min": {"lon": x / n * 360 - 180, "lat": y / n * 180 - 90},
                            "max": {
                                "lon": (x + 1) / n * 360 - 180,
                                "lat": (y + 1) / n * 180 - 90,
                            },
                        },
                    }
                )
    return local_relation(spark, rows, schema.TILES)


# ---------------------------------------------------------------------------
# object_versions — FIXTURES.md §3
# ---------------------------------------------------------------------------
_TAG_VOCAB = [f"k{i}" for i in range(16)]
_TAG_VALS = ["a", "b", "c", "d"]


def object_versions_df(spark: SparkSession, n_entities: int = 200) -> DataFrame:
    """Versioned entity history: nodes 70% / ways 25% / relations 5%; per-version tag
    add/delete/change and child add/remove with prob 0.3 each; ~5% duplicate
    timestamps; ~5% of final versions invisible. Exercises every change type
    (/root/reference/.../changes/ChangeUtils.scala:9-18)."""
    rows = []
    base_ts = dt.datetime(2017, 1, 1)
    node_ids = []
    for e in range(n_entities):
        rng = np.random.default_rng([SEED, 11, e])
        tname = rng.choice(["node", "way", "relation"], p=[0.70, 0.25, 0.05])
        raw_id = e + 1
        packed = {"node": 0, "way": cells.WAY_OFFSET, "relation": cells.RELATION_OFFSET}[
            str(tname)
        ] + raw_id
        if tname == "node":
            node_ids.append(raw_id)
        nv = 1 + int(rng.poisson(2))
        ts = base_ts + dt.timedelta(hours=int(rng.integers(0, 20000)))
        tags: dict[str, str] = (
            {str(rng.choice(_TAG_VOCAB)): str(rng.choice(_TAG_VALS))}
            if rng.random() < 0.8
            else {}
        )
        if rng.random() < 0.05:
            tags = {"type": "multipolygon"}  # feature-predicate edge case
        if tname == "relation" and rng.random() < 0.5:
            tags["type"] = "multipolygon"  # geometry-bearing relation
        lon = float(rng.uniform(-180, 180)) if tname == "node" else None
        lat = float(rng.uniform(-90, 90)) if tname == "node" else None
        if tname == "way":
            pool = node_ids or [1]
            kids = [
                {"type": "node", "ref": int(rng.choice(pool)), "role": ""}
                for _ in range(int(rng.integers(2, 7)))
            ]
        elif tname == "relation":
            kids = [
                {
                    "type": str(rng.choice(["node", "way", "relation"])),
                    "ref": int(rng.integers(1, max(2, e + 1))),
                    "role": str(rng.choice(["outer", "inner", ""])),
                }
                for _ in range(int(rng.integers(1, 5)))
            ]
        else:
            kids = None
        changeset = int(rng.integers(1, 10**6))
        for v in range(1, nv + 1):
            visible = True
            if v == nv and rng.random() < 0.05:
                visible = False
            rows.append(
                {
                    "id": packed,
                    "type": str(tname),
                    "version": v,
                    "timestamp": ts,
                    "visible": visible,
                    "tags": dict(tags),
                    "lon": lon,
                    "lat": lat,
                    "children": list(kids) if kids is not None else None,
                    "changeset": changeset,
                }
            )
            # mutate for next version
            step_h = int(rng.integers(1, 2000))
            if rng.random() < 0.05:
                step_h = 0  # duplicate-timestamp tie case
            ts = ts + dt.timedelta(hours=step_h)
            if rng.random() < 0.3 and tags:
                k = str(rng.choice(sorted(tags.keys())))
                del tags[k]
            if rng.random() < 0.3:
                tags[str(rng.choice(_TAG_VOCAB))] = str(rng.choice(_TAG_VALS))
            if rng.random() < 0.3 and tags:
                k = str(rng.choice(sorted(tags.keys())))
                tags[k] = str(rng.choice(_TAG_VALS))
            if tname == "node" and rng.random() < 0.2:
                lon = float(rng.uniform(-180, 180))
                lat = float(rng.uniform(-90, 90))
            if kids is not None:
                if rng.random() < 0.3 and len(kids) > 1:
                    kids.pop(int(rng.integers(0, len(kids))))
                if rng.random() < 0.3:
                    kids.append(
                        {
                            "type": "node",
                            "ref": int(rng.integers(1, 10**4)),
                            "role": "",
                        }
                    )
            if rng.random() < 0.6:
                changeset = int(rng.integers(1, 10**6))
    return local_relation(spark, rows, schema.OBJECT_VERSIONS)
