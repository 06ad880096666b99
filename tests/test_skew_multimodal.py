"""Skew handling (hot-cell salting, adaptive split) + multimodal kernel plumbing."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from engine import cells, metrics, multimodal, skew, synth


def _hot_points(spark, n=20000):
    return synth.images_df(spark, n, hot_frac=0.8).select(
        "image_id",
        cells.anchor_lon(F.col("phash")).alias("lon"),
        cells.anchor_lat(F.col("phash")).alias("lat"),
        cells.grid_encode_phash(F.col("phash"), 7).alias("cell"),
    )


def test_detect_hot_keys(spark):
    pts = _hot_points(spark)
    hot = skew.detect_hot_keys(pts, "cell", threshold=1000).collect()
    assert len(hot) >= 1
    assert max(r["n"] for r in hot) > 10000  # the megacity cell


def test_salted_agg_matches_plain(spark):
    pts = _hot_points(spark, 5000)
    plain = {
        r["cell"]: r["n"]
        for r in pts.groupBy("cell").agg(F.count("*").alias("n")).collect()
    }
    salted = {
        r["cell"]: r["n"]
        for r in skew.salted_agg(
            pts, "cell", {"n": F.count("*")}, n_salts=8
        ).collect()
    }
    assert plain == salted


def test_salted_join_matches_plain(spark):
    pts = _hot_points(spark, 5000)
    dim = spark.createDataFrame(
        [(r["cell"],) for r in pts.select("cell").distinct().collect()], ["cell"]
    ).withColumn("label", F.col("cell") % 7)
    plain = pts.join(dim, "cell").count()
    salted = skew.salted_join(pts, dim, ["cell"], n_salts=8, salt_from="image_id").count()
    assert plain == salted


def test_split_hot_cells_bounds_key_size(spark):
    pts = _hot_points(spark)
    before_max = (
        pts.groupBy("cell").count().agg(F.max("count")).first()[0]
    )
    out = skew.split_hot_cells(pts, "cell", res=7, hot_threshold=2000, split_steps=3)
    after_max = out.groupBy("cell").count().agg(F.max("count")).first()[0]
    assert out.count() == pts.count()  # no rows lost
    assert after_max < before_max / 4  # hot cell actually split


def _pandas_metrics(df, key_col=None):
    """partition_metrics' figures from a plain collect, counted in pandas:
    integer keys arrive as Python ints, so ids above 2^53 stay distinct."""
    cols = [F.spark_partition_id().alias("pid")]
    if key_col in df.columns:
        cols.append(F.col(key_col))
    rows = df.select(*cols).collect()
    per_part = np.sort(
        pd.Series([r[0] for r in rows], dtype="int64").value_counts().to_numpy()
    )
    want = {
        "rows": len(rows),
        "partitions": len(per_part),
        "max_partition_rows": int(per_part.max()) if len(rows) else 0,
        # percentile_approx(n, 0.5): the lower median
        "median_partition_rows": int(np.percentile(per_part, 50, method="lower"))
        if len(rows) else 0,
    }
    if len(rows):
        want["skew_ratio"] = round(
            want["max_partition_rows"] / want["median_partition_rows"], 2
        )
    if key_col in df.columns:
        want["distinct_keys"] = pd.Series(
            [_hashable(r[1]) for r in rows], dtype=object
        ).nunique(dropna=False)
    return want


def _hashable(v):
    if isinstance(v, bytearray):
        return bytes(v)
    if isinstance(v, list):
        return tuple(v)
    return v


_KEYS = {
    "long": lambda c: c,
    "string": lambda c: c.cast("string"),
    "binary": lambda c: c.cast("string").cast("binary"),
    "array": lambda c: F.array(c, c % 3),
}


def _keyed(spark, n=3000, kind="long", name="cell"):
    """Deterministic hash-partitioned frame; long cell ids sit above 2^53 (a
    float round trip would merge them), the other key kinds are functions of
    them, and every 50th key is null."""
    cell = F.lit(1 << 60) + (F.col("id") * 7919) % 613
    return (
        spark.range(n)
        .select(
            "id",
            F.when(F.col("id") % 50 == 0, None)
            .otherwise(_KEYS[kind](cell))
            .alias(name),
        )
        .repartition(4, name)
    )


def test_partition_metrics(spark):
    pts = _hot_points(spark, 5000).repartition(4, "cell")
    m = metrics.partition_metrics(pts, "cell")
    assert m["rows"] == 5000 and m["partitions"] >= 1
    assert m == _pandas_metrics(pts, "cell")


@pytest.mark.parametrize("shape,kind,name", [
    ("hash", "long", "cell"), ("coalesce", "long", "cell"),
    ("empty", "long", "cell"), ("hash", "string", "cell"),
    ("hash", "binary", "cell"), ("hash", "array", "cell"),
    # key columns named like partition_metrics' own helper columns
    ("hash", "long", "n"), ("hash", "long", "pid"),
])
def test_partition_metrics_matches_pandas(spark, shape, kind, name):
    df = _keyed(spark, kind=kind, name=name)
    if shape == "coalesce":
        df = df.coalesce(3)
    elif shape == "empty":
        df = df.filter(F.col("id") < 0)
    m = metrics.partition_metrics(df, name)
    assert m == _pandas_metrics(df, name)
    if shape == "empty":
        assert m == {"rows": 0, "partitions": 0, "max_partition_rows": 0,
                     "median_partition_rows": 0, "distinct_keys": 0}
    else:
        assert m["distinct_keys"] == 614  # 613 cells + the null key


def test_partition_metrics_without_key(spark):
    df = _keyed(spark)
    want = _pandas_metrics(df)
    assert "distinct_keys" not in want
    assert metrics.partition_metrics(df) == want
    assert metrics.partition_metrics(df, "no_such_column") == want


def test_partition_metrics_arrow_off(spark):
    bare = spark.newSession()
    bare.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    df = _keyed(bare)
    assert metrics.partition_metrics(df, "cell") == _pandas_metrics(df, "cell")
    assert metrics.partition_metrics(df.filter(F.col("id") < 0), "cell")[
        "rows"] == 0


@pytest.mark.parametrize("by_range", [False, True])
def test_partition_metrics_executes_input_once(spark, by_range):
    n = 2000
    seen = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def tick(x):
        seen.add(1)
        return x

    df = spark.range(n).select(tick("id").alias("id")).withColumn(
        "cell", F.col("id") % 97
    )
    df = df.repartitionByRange(4, "cell") if by_range else df.repartition(
        4, "cell")
    m = metrics.partition_metrics(df, "cell")
    assert m["rows"] == n and m["distinct_keys"] == 97
    # a range exchange's bounds-sampling job runs the plan below it once more
    assert seen.value == (2 * n if by_range else n)


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def images(spark):
    return synth.images_df(spark, 40, with_bytes=True).persist()


def test_extract_features(spark, images):
    out = multimodal.extract_features(images).collect()
    assert len(out) == 40
    ok = [r for r in out if r["error"] is None]
    assert len(ok) == 40  # raw + png both decodable
    for r in ok:
        assert 0 <= r["brightness"] <= 255
        assert r["mean_r"] is not None and r["edge_energy"] >= 0


def test_compute_ahash_matches_numpy_and_is_stable(spark, images):
    """Average hash from decoded pixels: matches the numpy oracle applied to
    the same decoded bytes, is partition-invariant, and the derived anchor
    lands in valid lon/lat ranges (the geotag-from-pixels north-star path)."""
    import numpy as np

    from engine import image_codec

    out = {r["image_id"]: r for r in multimodal.compute_ahash(images).collect()}
    assert len(out) == 40 and all(r["error"] is None for r in out.values())
    # partition invariance
    out2 = {r["image_id"]: r["ahash"]
            for r in multimodal.compute_ahash(images.repartition(7)).collect()}
    assert {k: v["ahash"] for k, v in out.items()} == out2
    # numpy oracle on raw rows
    for row in images.filter(F.col("fmt") == "raw").limit(5).collect():
        px = image_codec.decode_image(row["bytes"], row["fmt"], row["w"], row["h"])
        want = multimodal.np_ahash(px) & ((1 << 63) - 1)
        got = out[row["image_id"]]
        assert got["ahash"] == want
        assert -180.0 <= got["anchor_lon"] < 180.0
        assert -90.0 <= got["anchor_lat"] < 90.0
    # hash must discriminate: 40 distinct random images -> many distinct hashes
    assert len({r["ahash"] for r in out.values()}) > 30


def test_compute_ahash_error_isolation(spark):
    df = spark.createDataFrame(
        [("bad", bytearray(b"\x00\x01"), 4, 4, "jpeg"),
         ("cap", None, 4, 4, "raw")],
        "image_id string, bytes binary, w int, h int, fmt string",
    )
    rows = {r["image_id"]: r for r in multimodal.compute_ahash(df).collect()}
    assert rows["bad"]["error"] is not None and rows["bad"]["ahash"] is None
    assert rows["cap"]["error"] is not None


def test_extract_features_unsupported_format(spark):
    df = spark.createDataFrame(
        [("x1", bytearray(b"\x00\x01"), 4, 4, "jpeg")],
        "image_id string, bytes binary, w int, h int, fmt string",
    )
    r = multimodal.extract_features(df).first()
    assert r["error"] is not None and "unsupported" in r["error"]
    assert r["brightness"] is None


def test_resize_roundtrip(spark, images):
    from engine import image_codec

    out = multimodal.resize(images, 8, 8).collect()
    assert all(r["error"] is None for r in out)
    for r in out[:5]:
        px = image_codec.decode_image(bytes(r["bytes"]), r["fmt"], 8, 8)
        assert px.shape == (8, 8, 3)


def test_image_convolve_matches_numpy(spark, images):
    import numpy as np

    from engine import image_codec

    out = {
        r["image_id"]: r
        for r in multimodal.image_convolve(images, "sharpen").collect()
    }
    assert len(out) == 40 and all(r["error"] is None for r in out.values())
    src = {r["image_id"]: r for r in images.collect()}
    for iid in list(out)[:6]:
        s = src[iid]
        px = image_codec.decode_image(bytes(s["bytes"]), s["fmt"], s["w"], s["h"])
        kw, kd, ko = multimodal.KERNELS["sharpen"]
        want = multimodal.np_convolve_rgb(px, kw, kd, ko)
        got = image_codec.decode_image(
            bytes(out[iid]["bytes"]), out[iid]["fmt"], out[iid]["w"], out[iid]["h"]
        )
        assert np.array_equal(got, want), iid


def test_image_convolve_identity_and_box(spark, images):
    import numpy as np

    from engine import image_codec

    # identity kernel must return byte-identical pixels
    ident = multimodal.image_convolve(images, {(0, 0): 1})
    src = {r["image_id"]: r for r in images.collect()}
    for r in ident.collect():
        px0 = image_codec.decode_image(
            bytes(src[r["image_id"]]["bytes"]), r["fmt"], r["w"], r["h"]
        )
        px1 = image_codec.decode_image(bytes(r["bytes"]), r["fmt"], r["w"], r["h"])
        assert np.array_equal(px0, px1)
    # box blur flattens: per-image pixel std must not increase
    blurred = {
        r["image_id"]: r for r in multimodal.image_convolve(images, "box3").collect()
    }
    for iid, s in list(src.items())[:6]:
        px0 = image_codec.decode_image(bytes(s["bytes"]), s["fmt"], s["w"], s["h"])
        px1 = image_codec.decode_image(
            bytes(blurred[iid]["bytes"]), s["fmt"], s["w"], s["h"]
        )
        assert px1.astype(float).std() <= px0.astype(float).std() + 1e-9


def test_image_convolve_errors_and_validation(spark):
    df = spark.createDataFrame(
        [("bad", bytearray(b"\x00"), 4, 4, "jpeg")],
        "image_id string, bytes binary, w int, h int, fmt string",
    )
    r = multimodal.image_convolve(df, "box3").first()
    assert r["error"] is not None and r["bytes"] is None
    import pytest as _pytest

    with _pytest.raises(ValueError):
        multimodal.image_convolve(df, "nope")
    with _pytest.raises(ValueError):
        multimodal.image_convolve(df, {})
    with _pytest.raises(ValueError):
        multimodal.image_convolve(df, {(0, 0): 1}, divisor=0)


def test_frame_sample_stub_plumbing(spark):
    df = spark.createDataFrame(
        [("v1", bytearray(b"\x00"), "mp4")],
        "media_id string, bytes binary, fmt string",
    )
    r = multimodal.frame_sample(df).first()
    assert "NotImplementedError" in r["error"]
    assert r["media_id"] == "v1"


def test_partition_byte_metrics(spark):
    from engine import metrics

    df = spark.createDataFrame(
        [(i, "x" * (10 + i % 5), bytes(20)) for i in range(200)],
        "id long, s string, b binary",
    ).repartition(4)
    m = metrics.partition_byte_metrics(df)
    # 8 (long) + 10..14 (string) + 20 (binary) per row
    per_row_min, per_row_max = 38, 42
    assert 200 * per_row_min <= m["approx_bytes"] <= 200 * per_row_max
    assert m["max_partition_bytes"] >= m["median_partition_bytes"] > 0


def test_color_histogram_matches_numpy(spark, images):
    import numpy as np

    from engine import image_codec

    out = {r["image_id"]: r for r in multimodal.color_histogram(images, bins=8).collect()}
    assert len(out) == 40 and all(r["error"] is None for r in out.values())
    for row in images.limit(6).collect():
        px = image_codec.decode_image(
            bytes(row["bytes"]), row["fmt"], row["w"], row["h"]
        )
        want = multimodal.np_color_histogram(px, 8)
        got = np.asarray(out[row["image_id"]]["embedding"], dtype=np.float32)
        assert got.shape == (24,)
        assert np.array_equal(got, want)
        assert abs(float(np.linalg.norm(got)) - 1.0) < 1e-6


def test_color_histogram_feeds_ann(spark, images):
    """The image -> embedding bridge: identical pixel content is cosine-1.0
    under cosine_topk regardless of container format."""
    from engine import embedops

    emb = multimodal.color_histogram(images, bins=8).select(
        F.col("image_id").alias("vec_id"), "embedding"
    )
    # duplicate one image under a new id (same pixels -> same histogram)
    src = images.limit(1).collect()[0]
    dup = spark.createDataFrame(
        [("dup-0", src["bytes"], src["w"], src["h"], src["fmt"])],
        "image_id string, bytes binary, w int, h int, fmt string",
    )
    demb = multimodal.color_histogram(dup, bins=8).select(
        F.col("image_id").alias("query_id"), "embedding"
    )
    top = embedops.cosine_topk(demb, emb, k=1).collect()
    assert len(top) == 1
    assert top[0]["vec_id"] == src["image_id"]


def test_color_histogram_error_isolation_and_validation(spark):
    df = spark.createDataFrame(
        [("bad", bytes(3), 4, 4, "raw"), ("unk", bytes(48), 4, 4, "jp2")],
        "image_id string, bytes binary, w int, h int, fmt string",
    )
    out = {r["image_id"]: r for r in multimodal.color_histogram(df).collect()}
    assert out["bad"]["error"] is not None and out["bad"]["embedding"] is None
    assert "unsupported" in out["unk"]["error"]
    with pytest.raises(ValueError):
        multimodal.color_histogram(df, bins=0)


# ---------------------------------------------------------------------------
# augmentation ops: patches / affine / equalize
# ---------------------------------------------------------------------------
def _decoded(images):
    from engine import image_codec

    return {
        r["image_id"]: image_codec.decode_image(
            r["bytes"], r["fmt"], r["w"], r["h"]
        )
        for r in images.collect()
    }


def test_image_patches_reassemble(spark, images):
    from engine import image_codec

    p = 8
    orig = _decoded(images)
    rows = multimodal.image_patches(images, patch=p).collect()
    assert all(r["error"] is None for r in rows)
    by_img = {}
    for r in rows:
        by_img.setdefault(r["image_id"], {})[(r["py"], r["px"])] = (
            image_codec.decode_image(r["bytes"], r["fmt"], p, p)
        )
    import numpy as np

    for iid, px in orig.items():
        h, w, _ = px.shape
        ny, nx = (h - p) // p + 1, (w - p) // p + 1
        tiles = by_img[iid]
        assert len(tiles) == ny * nx
        stitched = np.concatenate(
            [
                np.concatenate([tiles[(gy, gx)] for gx in range(nx)], axis=1)
                for gy in range(ny)
            ],
            axis=0,
        )
        assert (stitched == px[: ny * p, : nx * p]).all()


def test_image_patches_overlap_and_padding(spark):
    import numpy as np

    from engine import image_codec

    px = np.arange(10 * 10 * 3, dtype=np.uint8).reshape(10, 10, 3)
    df = spark.createDataFrame(
        [("a", image_codec.encode_raw(px), 10, 10, "raw")],
        "image_id string, bytes binary, w int, h int, fmt string",
    )
    # stride 4, patch 8, drop_partial: positions {0} only (8+4 > 10)? no:
    # range(0, 10-8+1, 4) = {0} -> 1x1
    got = multimodal.image_patches(df, patch=8, stride=4).collect()
    assert len(got) == 1
    # keep partials, zero-padded: positions range(0, 10, 4) = {0,4,8} -> 3x3
    got = multimodal.image_patches(
        df, patch=8, stride=4, drop_partial=False
    ).collect()
    assert len(got) == 9
    corner = next(r for r in got if r["py"] == 2 and r["px"] == 2)
    tile = image_codec.decode_image(corner["bytes"], "raw", 8, 8)
    assert (tile[:2, :2] == px[8:, 8:]).all()
    assert (tile[2:, :] == 0).all() and (tile[:, 2:] == 0).all()
    with pytest.raises(ValueError):
        multimodal.image_patches(df, patch=0)


def test_image_affine_identity_and_rot90(spark, images):
    import numpy as np

    from engine import image_codec

    orig = _decoded(images)
    # identity: exact byte roundtrip (take one size class to fix out dims)
    sq = images.filter((F.col("w") == 32) & (F.col("h") == 32))
    ident = multimodal.image_affine(sq, (1, 0, 0, 1, 0, 0), 1, 32, 32)
    for r in ident.collect():
        assert r["error"] is None
        got = image_codec.decode_image(r["bytes"], r["fmt"], 32, 32)
        assert (got == orig[r["image_id"]]).all()
    # clockwise 90: h x w -> w x h, parity with np.rot90(px, -1)
    h = w = 32
    rot = multimodal.image_affine(sq, (0, 1, -1, 0, 0, h - 1), 1, h, w)
    for r in rot.collect():
        got = image_codec.decode_image(r["bytes"], r["fmt"], h, w)
        assert (got == np.rot90(orig[r["image_id"]], -1)).all()


def test_image_affine_bilinear_matches_float_oracle(spark):
    import numpy as np

    from engine import image_codec, multimodal as mm

    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    # 2x upscale + shear, den=2: sx = ox/2 + oy/2, sy = oy/2
    coeffs, den, ow, oh = (1, 1, 0, 1, 0, 0), 2, 20, 24
    df = spark.createDataFrame(
        [("a", image_codec.encode_raw(px), 16, 16, "raw")],
        "image_id string, bytes binary, w int, h int, fmt string",
    )
    r = mm.image_affine(df, coeffs, den, ow, oh, method="bilinear").collect()[0]
    got = image_codec.decode_image(r["bytes"], "raw", ow, oh)
    # independent float oracle with half-up rounding
    want = np.zeros((oh, ow, 3), dtype=np.uint8)
    for oy in range(oh):
        for ox in range(ow):
            sx = (coeffs[0] * ox + coeffs[1] * oy + coeffs[4]) / den
            sy = (coeffs[2] * ox + coeffs[3] * oy + coeffs[5]) / den
            fx, fy = int(np.floor(sx)), int(np.floor(sy))
            wx, wy = sx - fx, sy - fy
            if fx < 0 or fy < 0 or fx + (wx > 0) > 15 or fy + (wy > 0) > 15:
                continue
            x1, y1 = min(fx + 1, 15), min(fy + 1, 15)
            v = (
                (1 - wx) * (1 - wy) * px[fy, fx].astype(float)
                + wx * (1 - wy) * px[fy, x1]
                + (1 - wx) * wy * px[y1, fx]
                + wx * wy * px[y1, x1]
            )
            want[oy, ox] = np.floor(v + 0.5).astype(np.uint8)
    assert (got == want).all()


def test_image_equalize(spark):
    import numpy as np

    from engine import image_codec

    # ramp channel equalizes to a full-range ramp; constant channel -> 0
    px = np.zeros((16, 16, 3), dtype=np.uint8)
    px[..., 0] = np.repeat(np.arange(16, dtype=np.uint8) * 4, 16).reshape(16, 16)
    px[..., 1] = 7
    rng = np.random.default_rng(9)
    px[..., 2] = rng.integers(0, 256, (16, 16), dtype=np.uint8)
    df = spark.createDataFrame(
        [("a", image_codec.encode_raw(px), 16, 16, "raw")],
        "image_id string, bytes binary, w int, h int, fmt string",
    )
    r = multimodal.image_equalize(df).collect()[0]
    got = image_codec.decode_image(r["bytes"], "raw", 16, 16)
    assert got[..., 1].max() == 0  # constant channel
    # independent float oracle for every channel
    n = 16 * 16
    for ch in range(3):
        v = px[..., ch]
        hist = np.bincount(v.ravel(), minlength=256)
        cdf = hist.cumsum()
        cdf_min = cdf[np.nonzero(hist)[0][0]]
        denom = n - cdf_min
        if denom <= 0:
            assert (got[..., ch] == 0).all()
            continue
        lut = np.floor((cdf - cdf_min) / denom * 255 + 0.5).clip(0, 255)
        assert (got[..., ch] == lut[v]).all()
    # the ramp uses the full range after equalization
    assert got[..., 0].min() == 0 and got[..., 0].max() == 255


def test_augmentation_error_isolation(spark):
    df = spark.createDataFrame(
        [("bad", b"\x00\x01", 16, 16, "jpeg")],
        "image_id string, bytes binary, w int, h int, fmt string",
    )
    for out in (
        multimodal.image_patches(df, patch=8),
        multimodal.image_affine(df, (1, 0, 0, 1, 0, 0), 1, 16, 16),
        multimodal.image_equalize(df),
    ):
        rows = out.collect()
        assert len(rows) == 1 and rows[0]["error"] is not None


# ---------------------------------------------------------------------------
# template matching (exact integer SSD)
# ---------------------------------------------------------------------------
def _py_ssd_best(px, T):
    """Brute-force oracle: direct O(positions x area) loops, (ssd, y, x)
    lexicographic argmin."""
    import numpy as np

    I = px.astype(np.int64)
    th, tw = T.shape[:2]
    oh, ow = I.shape[0] - th + 1, I.shape[1] - tw + 1
    best = None
    for y in range(oh):
        for x in range(ow):
            s = int(((I[y:y + th, x:x + tw] - T) ** 2).sum())
            if best is None or s < best[0]:
                best = (s, y, x)
    return best, oh * ow


def test_template_match_oracle_and_planted(spark):
    import numpy as np

    from engine import image_codec

    rng = np.random.default_rng(77)
    T = rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8)
    rows, want = [], {}
    for i in range(6):
        h, w = int(rng.integers(12, 24)), int(rng.integers(12, 24))
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        if i % 2 == 0:  # plant an exact copy at a known offset
            py0, px0 = int(rng.integers(0, h - 5)), int(rng.integers(0, w - 4))
            px[py0:py0 + 5, px0:px0 + 4] = T
        fmt = "png" if i % 3 == 0 else "raw"
        data = (
            image_codec.encode_png(px) if fmt == "png"
            else image_codec.encode_raw(px)
        )
        rows.append((f"im{i}", data, w, h, fmt))
        want[f"im{i}"] = _py_ssd_best(px, T.astype(np.int64))
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string"
    )
    got = {r["image_id"]: r for r in multimodal.template_match(df, T).collect()}
    assert len(got) == 6
    for k, ((ssd, by, bx), n_pos) in want.items():
        r = got[k]
        assert r["error"] is None
        assert (r["ssd"], r["best_y"], r["best_x"]) == (ssd, by, bx), k
        assert r["n_pos"] == n_pos
        if int(k[2:]) % 2 == 0:
            assert r["ssd"] == 0  # the planted copy is an exact match


def test_template_match_tie_break_and_errors(spark):
    import numpy as np

    from engine import image_codec

    T = np.full((3, 3, 3), 9, dtype=np.uint8)
    const = np.full((8, 8, 3), 9, dtype=np.uint8)
    rows = [
        ("flat", image_codec.encode_raw(const), 8, 8, "raw"),
        ("tiny", image_codec.encode_raw(const[:2, :2]), 2, 2, "raw"),
        ("bad", b"\x00\x01", 8, 8, "jpeg"),
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string"
    )
    got = {r["image_id"]: r for r in multimodal.template_match(df, T).collect()}
    # all-tie surface -> first row-major position wins deterministically
    assert (got["flat"]["best_x"], got["flat"]["best_y"], got["flat"]["ssd"]) \
        == (0, 0, 0)
    assert got["tiny"]["error"] == "template larger than image"
    assert got["bad"]["error"] is not None and got["bad"]["best_x"] is None
    with pytest.raises(ValueError):
        multimodal.template_match(df, np.zeros((4, 4), dtype=np.uint8))


# ---------------------------------------------------------------------------
# block-matching motion estimation
# ---------------------------------------------------------------------------
def _py_block_motion(a, b, block, search):
    import numpy as np

    h, w = a.shape[:2]
    A, B = a.astype(np.int64), b.astype(np.int64)
    out = {}
    for by in range(h // block):
        for bx in range(w // block):
            y0, x0 = by * block, bx * block
            blk = A[y0:y0 + block, x0:x0 + block]
            best = None
            for dy in range(-search, search + 1):
                for dx in range(-search, search + 1):
                    py, px = y0 + dy, x0 + dx
                    if py < 0 or px < 0 or py + block > h or px + block > w:
                        continue
                    s = int(((B[py:py + block, px:px + block] - blk) ** 2).sum())
                    if best is None or s < best[0]:
                        best = (s, dy, dx)
            out[(bx, by)] = best
    return out


def test_block_motion_planted_shift_and_oracle(spark):
    import numpy as np

    from engine import image_codec

    rng = np.random.default_rng(88)
    h = w = 20
    a = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    b = np.zeros_like(a)
    b[2:, 3:] = a[:-2, :-3]  # frame B = A shifted by (+3, +2)
    rows = [
        ("shift", image_codec.encode_raw(a), image_codec.encode_raw(b),
         w, h, "raw"),
    ]
    # plus a pure-random pair for exhaustive oracle parity
    c = rng.integers(0, 256, size=(12, 16, 3), dtype=np.uint8)
    d = rng.integers(0, 256, size=(12, 16, 3), dtype=np.uint8)
    rows.append(("rand", image_codec.encode_raw(c), image_codec.encode_raw(d),
                 16, 12, "raw"))
    rows.append(("bad", b"xx", b"yy", 8, 8, "jpeg"))
    rows.append(("mismatch", image_codec.encode_raw(c),
                 image_codec.encode_raw(c[:8]), 16, 12, "raw"))
    df = spark.createDataFrame(
        rows,
        "pair_id string, bytes_a binary, bytes_b binary, w int, h int, fmt string",
    )
    got = multimodal.block_motion(df, block=4, search=4).collect()
    by_pair = {}
    for r in got:
        by_pair.setdefault(r["pair_id"], {})[(r["bx"], r["by"])] = r
    # interior blocks of the shifted pair recover exactly (+3, +2), ssd 0
    sh = by_pair["shift"]
    for (bx, by), r in sh.items():
        x0, y0 = bx * 4, by * 4
        if x0 >= 3 and y0 >= 2 and x0 + 4 + 3 <= w and y0 + 4 + 2 <= h:
            assert (r["dx"], r["dy"], r["ssd"]) == (3, 2, 0), (bx, by)
    # exhaustive-parity on the random pair, every block incl. borders
    want = _py_block_motion(c, d, 4, 4)
    assert set(by_pair["rand"]) == set(want)
    for k, (s, dy, dx) in want.items():
        r = by_pair["rand"][k]
        assert (r["ssd"], r["dy"], r["dx"]) == (s, dy, dx), k
    assert by_pair["bad"][(None, None)]["error"] is not None \
        if (None, None) in by_pair["bad"] else True
    errs = [r for r in got if r["error"] is not None]
    assert {r["pair_id"] for r in errs} == {"bad", "mismatch"}
    with pytest.raises(ValueError):
        multimodal.block_motion(df, block=0)


# ---------------------------------------------------------------------------
# Harris corners (exact integer response)
# ---------------------------------------------------------------------------
def _py_harris(px, r, k_den, thresh):
    """Independent loop oracle: same luminance/Sobel/box/response algebra,
    written directly (no integral images, no shift slices)."""
    import numpy as np

    I = px.astype(np.int64).sum(axis=2)
    h, w = I.shape

    def lum(x, y):
        return I[min(max(y, 0), h - 1), min(max(x, 0), w - 1)]

    ix = np.zeros((h, w), dtype=np.int64)
    iy = np.zeros((h, w), dtype=np.int64)
    for y in range(h):
        for x in range(w):
            ix[y, x] = (lum(x + 1, y - 1) + 2 * lum(x + 1, y) + lum(x + 1, y + 1)
                        - lum(x - 1, y - 1) - 2 * lum(x - 1, y) - lum(x - 1, y + 1))
            iy[y, x] = (lum(x - 1, y + 1) + 2 * lum(x, y + 1) + lum(x + 1, y + 1)
                        - lum(x - 1, y - 1) - 2 * lum(x, y - 1) - lum(x + 1, y - 1))
    resp = np.zeros((h, w), dtype=np.int64)
    for y in range(h):
        for x in range(w):
            sxx = syy = sxy = 0
            for dy in range(-r, r + 1):
                for dx in range(-r, r + 1):
                    yy, xx = y + dy, x + dx
                    if 0 <= yy < h and 0 <= xx < w:
                        sxx += int(ix[yy, xx]) ** 2
                        syy += int(iy[yy, xx]) ** 2
                        sxy += int(ix[yy, xx]) * int(iy[yy, xx])
            resp[y, x] = k_den * (sxx * syy - sxy * sxy) - (sxx + syy) ** 2
    found = []
    for y in range(1, h - 1):
        for x in range(1, w - 1):
            if resp[y, x] <= thresh:
                continue
            ok = True
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    if dx == dy == 0:
                        continue
                    yy, xx = y + dy, x + dx
                    if 0 <= yy < h and 0 <= xx < w and resp[yy, xx] >= resp[y, x]:
                        ok = False
            if ok:
                found.append((x, y, int(resp[y, x])))
    found.sort(key=lambda t: (-t[2], t[1], t[0]))
    return found


def test_harris_oracle_parity_and_square(spark):
    import numpy as np

    from engine import image_codec

    rng = np.random.default_rng(99)
    rows, want = [], {}
    for i in range(3):
        h, w = 14, 12
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        rows.append((f"r{i}", image_codec.encode_raw(px), w, h, "raw"))
        want[f"r{i}"] = _py_harris(px, 1, 20, 0)[:8]
    # white square on black: exactly 4 strongest corners, one per square
    # corner, all with the SAME response (symmetry)
    sq = np.zeros((16, 16, 3), dtype=np.uint8)
    sq[4:12, 4:12] = 255
    rows.append(("sq", image_codec.encode_raw(sq), 16, 16, "raw"))
    # straight vertical edge: gradients but no corners anywhere
    edge = np.zeros((12, 12, 3), dtype=np.uint8)
    edge[:, 6:] = 255
    rows.append(("edge", image_codec.encode_raw(edge), 12, 12, "raw"))
    rows.append(("bad", b"z", 4, 4, "gif"))
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string"
    )
    got = {}
    for r in multimodal.harris_corners(df, max_corners=8).collect():
        got.setdefault(r["image_id"], []).append(r)
    for i in range(3):
        rs = [r for r in got[f"r{i}"] if r["error"] is None]
        assert [(r["x"], r["y"], r["resp"]) for r in rs] == want[f"r{i}"]
    sq_rows = got["sq"]
    top4 = sq_rows[:4]
    assert len({r["resp"] for r in top4}) == 1  # 4-fold symmetry
    xs = {(r["x"], r["y"]) for r in top4}
    # one per quadrant around the square's corners
    assert len({(x < 8, y < 8) for x, y in xs}) == 4
    assert len(got["edge"]) == 1 and got["edge"][0]["x"] is None \
        and got["edge"][0]["error"] is None
    assert got["bad"][0]["error"] is not None
    with pytest.raises(ValueError):
        multimodal.np_harris(sq, window_radius=4)


# ---------------------------------------------------------------------------
# image <-> raster bridge (watershed-on-images composition)
# ---------------------------------------------------------------------------
def test_image_tiles_roundtrip_and_isolation(spark):
    import numpy as np

    from engine import focal, image_codec

    rng = np.random.default_rng(61)
    imgs = {}
    rows = []
    for i in (0, 1):
        px = rng.integers(0, 256, size=(11, 14, 3), dtype=np.uint8)
        imgs[i] = px
        rows.append((str(i), image_codec.encode_raw(px), 14, 11, "raw"))
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string"
    )
    tiles = multimodal.image_to_tiles(df, res=8).persist()
    assert tiles.filter("error IS NOT NULL").count() == 0
    back = {
        r["image_id"]: list(r["pixels"])
        for r in multimodal.tiles_to_image(
            tiles.select("tx", "ty", "counts"), 8, 14, 11
        ).collect()
    }
    for i in (0, 1):
        want = imgs[i].astype(np.int64).sum(axis=2).reshape(-1).tolist()
        assert back[i] == want, i
    # halo isolation: image 0's focal sums are identical whether image 1's
    # tiles share the frame or not (the stride keeps strips apart)
    t0 = tiles.filter(F.col("image_id") == "0").select("tx", "ty", "counts")
    both = tiles.select("tx", "ty", "counts")
    a = {
        (r["tx"], r["ty"]): list(r["focal"])
        for r in focal.focal_sum(t0, 8, radius=2).collect()
    }
    b = {
        (r["tx"], r["ty"]): list(r["focal"])
        for r in focal.focal_sum(both, 8, radius=2).collect()
        if (r["tx"], r["ty"]) in a
    }
    assert a == b
    tiles.unpersist()


def test_image_watershed_two_basins(spark):
    """The axes-A+B composition: decode -> image_to_tiles -> D8 flow ->
    basins segments an image into watershed regions of its luminance
    surface. Two L1 cones draining to (3,3) and (12,12) -> exactly two
    basins, each containing its minimum."""
    import numpy as np

    from engine import image_codec, terrain

    h = w = 16
    px = np.zeros((h, w, 3), dtype=np.uint8)
    for iy in range(h):
        for ix in range(w):
            v = min(abs(ix - 3) + abs(iy - 3), abs(ix - 12) + abs(iy - 12))
            px[iy, ix, 0] = 10 * v
    df = spark.createDataFrame(
        [("0", image_codec.encode_raw(px), w, h, "raw")],
        "image_id string, bytes binary, w int, h int, fmt string",
    )
    tiles = multimodal.image_to_tiles(df, res=8, channel="r").select(
        "tx", "ty", "counts"
    )
    flow = terrain.d8_flow(tiles, 8)
    bas = terrain.basins(flow, 8).collect()
    labels = {}
    for r in bas:
        labels[(r["gx"], r["gy"])] = r["basin"]
    assert len(set(labels.values())) == 2
    # the two minima are in different basins; y is flipped (row 0 = top,
    # gy = h-1-row)
    m1 = labels[(3, h - 1 - 3)]
    m2 = labels[(12, h - 1 - 12)]
    assert m1 != m2
    # every cell strictly closer to one minimum (in L1) drains to it
    for (gx, gy), lab in labels.items():
        iy = h - 1 - gy
        d1 = abs(gx - 3) + abs(iy - 3)
        d2 = abs(gx - 12) + abs(iy - 12)
        if d1 + 1 < d2:
            assert lab == m1, (gx, gy)
        elif d2 + 1 < d1:
            assert lab == m2, (gx, gy)
