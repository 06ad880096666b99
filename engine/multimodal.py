"""Multimodal column operators: images/audio/video as opaque binary columns with
typed metadata, processed by Arrow-batched mapInPandas kernels.

The Spark-side plumbing (schemas, batch iteration, partitioning behavior) is real
and tested; decoders beyond the built-in raw-RGB24/PNG codecs are STUBBED behind
clearly-marked NotImplementedError (no image/audio libs in this container —
SURVEY.md §7.0). Rows whose format has no decoder surface a per-row `error`
column instead of failing the batch, so a mixed-format 100 TB table degrades
gracefully.

Batch sizing: rows carry MB-scale payloads, so sessions built by engine.session
pin spark.sql.execution.arrow.maxRecordsPerBatch low; kernels iterate batches and
never hold more than one batch of pixels.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from . import image_codec
from .raster import pixel_xy

FEATURES_SCHEMA = (
    "image_id string, w int, h int, fmt string, "
    "mean_r double, mean_g double, mean_b double, brightness double, "
    "contrast double, edge_energy double, error string"
)


def _decode_or_error(row) -> tuple[np.ndarray | None, str | None]:
    try:
        return image_codec.decode_image(row.bytes, row.fmt, row.w, row.h), None
    except NotImplementedError as e:
        return None, f"unsupported format: {e}"
    except Exception as e:  # corrupt payloads must not kill the batch
        return None, f"decode error: {e}"


def extract_features(df: DataFrame) -> DataFrame:
    """Per-image features (mean channel, brightness, contrast, edge energy) via a
    mapInPandas kernel. Input needs (image_id, bytes, w, h, fmt)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                px, err = _decode_or_error(row)
                if px is None:
                    out.append((row.image_id, row.w, row.h, row.fmt,
                                None, None, None, None, None, None, err))
                    continue
                f = px.astype(np.float64)
                mean = f.mean(axis=(0, 1))
                gray = f.mean(axis=2)
                edge = float(
                    np.abs(np.diff(gray, axis=0)).mean()
                    + np.abs(np.diff(gray, axis=1)).mean()
                ) if min(gray.shape) > 1 else 0.0
                out.append(
                    (row.image_id, row.w, row.h, row.fmt,
                     float(mean[0]), float(mean[1]), float(mean[2]),
                     float(gray.mean()), float(gray.std()), edge, None)
                )
            yield pd.DataFrame(out, columns=[
                "image_id", "w", "h", "fmt", "mean_r", "mean_g", "mean_b",
                "brightness", "contrast", "edge_energy", "error"])

    return df.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        kernel, schema=FEATURES_SCHEMA
    )


def np_ahash(pixels: np.ndarray, grid: int = 8) -> int:
    """Average hash (aHash) of an RGB image: downsample the grayscale to a
    grid x grid lattice (block means), threshold at the global mean, pack the
    bits row-major (bit (r*grid + c) set iff block mean > image mean). 64-bit
    for the default 8x8 grid — the perceptual-hash family the north star's
    'phash-derived anchor point' refers to, computed from REAL pixels."""
    gray = pixels.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    ys = (np.arange(grid + 1) * h) // grid
    xs = (np.arange(grid + 1) * w) // grid
    blocks = np.empty((grid, grid), dtype=np.float64)
    for r in range(grid):
        for c in range(grid):
            blocks[r, c] = gray[ys[r]:ys[r + 1], xs[c]:xs[c + 1]].mean()
    bits = (blocks > gray.mean()).astype(np.uint64).ravel()
    return int((bits << np.arange(grid * grid, dtype=np.uint64)).sum())


AHASH_SCHEMA = "image_id string, ahash long, anchor_lon double, anchor_lat double, error string"


def compute_ahash(df: DataFrame, grid: int = 8) -> DataFrame:
    """Per-image average hash from DECODED pixels + the phash-derived anchor
    point (engine.cells anchor mapping applied to the computed hash) — the
    geotag-from-pixels path of the north star, as an Arrow-batched mapInPandas
    kernel. Input needs (image_id, bytes, w, h, fmt); undecodable rows surface
    a per-row error."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                px, err = _decode_or_error(row)
                if px is None:
                    out.append((row.image_id, None, None, None, err))
                    continue
                hv = np_ahash(px, grid) & ((1 << 63) - 1)  # non-negative int64
                x = hv % 2**32
                y = (hv >> 32) % 2**31
                out.append((
                    row.image_id, hv,
                    x / 2**32 * 360.0 - 180.0,
                    y / 2**31 * 180.0 - 90.0,
                    None,
                ))
            yield pd.DataFrame(out, columns=[
                "image_id", "ahash", "anchor_lon", "anchor_lat", "error"])

    return df.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        kernel, schema=AHASH_SCHEMA
    )


RESIZE_SCHEMA = "image_id string, bytes binary, w int, h int, fmt string, error string"


def resize(df: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize (numpy index sampling); re-encodes in the row's own
    format. Real for raw/png; other formats surface `error`."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ys = None
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                px, err = _decode_or_error(row)
                if px is None:
                    out.append((row.image_id, None, out_w, out_h, row.fmt, err))
                    continue
                h, w, _ = px.shape
                yi = (np.arange(out_h) * h // out_h).clip(0, h - 1)
                xi = (np.arange(out_w) * w // out_w).clip(0, w - 1)
                rs = px[yi][:, xi]
                enc = (
                    image_codec.encode_png(rs)
                    if row.fmt == "png"
                    else image_codec.encode_raw(rs)
                )
                out.append((row.image_id, enc, out_w, out_h, row.fmt, None))
            yield pd.DataFrame(out, columns=[
                "image_id", "bytes", "w", "h", "fmt", "error"])

    return df.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        kernel, schema=RESIZE_SCHEMA
    )


def np_convolve_rgb(
    px: np.ndarray, weights, divisor: int = 1, offset: int = 0
) -> np.ndarray:
    """Exact-int 2D correlation of an RGB uint8 image with an integer
    kernel (the image-side twin of engine.focal.focal_stencil's raster
    algebra): out[p] = clip(sum_d w[d] * px[p + d] // divisor + offset,
    0, 255), clamp-to-edge padding, int64 accumulation, FLOOR division
    (Python //), per channel. `weights` is {(dx, dy): int}."""
    w = {(int(dx), int(dy)): int(v) for (dx, dy), v in dict(weights).items()}
    w = {k: v for k, v in w.items() if v != 0}
    if not w:
        raise ValueError("weights must contain at least one nonzero entry")
    if divisor == 0:
        raise ValueError("divisor must be nonzero")
    r = max(max(abs(dx), abs(dy)) for dx, dy in w)
    h, wd, _ = px.shape
    padded = np.pad(
        px.astype(np.int64), ((r, r), (r, r), (0, 0)), mode="edge"
    )
    acc = np.zeros((h, wd, 3), dtype=np.int64)
    for (dx, dy), wt in sorted(w.items()):
        acc += wt * padded[r + dy : r + dy + h, r + dx : r + dx + wd]
    out = acc // int(divisor) + int(offset)
    return np.clip(out, 0, 255).astype(np.uint8)


CONVOLVE_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, error string"
)

KERNELS = {
    # name -> (weights, divisor, offset)
    "box3": ({(dx, dy): 1 for dx in (-1, 0, 1) for dy in (-1, 0, 1)}, 9, 0),
    "sharpen": (
        {(0, 0): 5, (1, 0): -1, (-1, 0): -1, (0, 1): -1, (0, -1): -1}, 1, 0
    ),
    "emboss": ({(-1, -1): -2, (0, 0): 1, (1, 1): 2}, 1, 128),
    "edge": (
        {(0, 0): 8, **{(dx, dy): -1 for dx in (-1, 0, 1) for dy in (-1, 0, 1)
                       if (dx, dy) != (0, 0)}}, 1, 0
    ),
}


def image_convolve(
    df: DataFrame, kernel_name_or_weights, divisor: int = 1, offset: int = 0
) -> DataFrame:
    """Integer-kernel convolution over binary image columns (blur / sharpen
    / emboss / edge — the standard divisor+offset image-kernel form), as an
    Arrow-batched mapInPandas with per-row error isolation. Pass a preset
    name from KERNELS or a {(dx, dy): int} mapping. Re-encodes each row in
    its own format. Embarrassingly parallel: unlike the raster focal ops,
    images are row-local — no halo, no shuffle."""
    if isinstance(kernel_name_or_weights, str):
        try:
            weights, divisor, offset = KERNELS[kernel_name_or_weights]
        except KeyError:
            raise ValueError(
                f"unknown kernel {kernel_name_or_weights!r}; "
                f"presets: {sorted(KERNELS)}"
            ) from None
    else:
        weights = kernel_name_or_weights
    # validate eagerly on a 1px probe so bad kernels fail at plan time
    np_convolve_rgb(np.zeros((1, 1, 3), np.uint8), weights, divisor, offset)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                px, err = _decode_or_error(row)
                if px is None:
                    out.append((row.image_id, None, row.w, row.h, row.fmt, err))
                    continue
                cv = np_convolve_rgb(px, weights, divisor, offset)
                enc = (
                    image_codec.encode_png(cv)
                    if row.fmt == "png"
                    else image_codec.encode_raw(cv)
                )
                out.append((row.image_id, enc, row.w, row.h, row.fmt, None))
            yield pd.DataFrame(out, columns=[
                "image_id", "bytes", "w", "h", "fmt", "error"])

    return df.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        kernel, schema=CONVOLVE_SCHEMA
    )


FRAME_SAMPLE_SCHEMA = (
    "media_id string, frame_idx int, frame_bytes binary, w int, h int, error string"
)


def frame_sample(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame sampling plumbing: input (media_id, bytes, fmt); output one row
    per sampled frame. STUB: no video codec exists in this container, so every row
    surfaces a NotImplementedError marker — the batch shape, output schema and
    fan-out contract are the real, tested interface a codec plugs into."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                # Plug a real decoder here: yield (media_id, i, frame, w, h, None)
                # for every every_n-th frame.
                err = (
                    "NotImplementedError: video decode requires an external codec "
                    f"(fmt={row.fmt!r}); plumbing is real, decoder is stubbed"
                )
                out.append((row.media_id, 0, None, None, None, err))
            yield pd.DataFrame(out, columns=[
                "media_id", "frame_idx", "frame_bytes", "w", "h", "error"])

    return df.select("media_id", "bytes", "fmt").mapInPandas(
        kernel, schema=FRAME_SAMPLE_SCHEMA
    )


MOSAIC_SCHEMA = (
    "tile_id long, mosaic binary, w int, h int, "
    "n_images int, n_errors int, ids_csv string"
)


def tile_mosaic(
    df: DataFrame, tile_col: str = "tile_id", grid: int = 4, thumb: int = 16
) -> DataFrame:
    """Per-tile thumbnail mosaic — the image x geo composition of the north
    star: for every map tile, decode its first grid^2 images (image_id rank
    order), nearest-neighbor-resize each to thumb x thumb, and pack them
    row-major into one raw-RGB24 canvas (the visual tile preview a serving
    stack renders).

    Scale discipline: membership is capped by a row_number window BEFORE the
    group shuffle, so an applyInPandas group never exceeds grid^2 rows no
    matter how hot the megacity tile is — the binary payloads of the dropped
    rows never travel. Undecodable members count in n_errors and leave their
    slot black; deterministic and partition-invariant by construction (tests).
    Input needs (tile_col, image_id, bytes, w, h, fmt)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    cap = grid * grid
    side = grid * thumb
    w = Window.partitionBy(tile_col).orderBy("image_id")
    capped = (
        df.select(
            F.col(tile_col).cast("long").alias("tile_id"),
            "image_id", "bytes", "w", "h", "fmt",
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_rn")
        canvas = np.zeros((side, side, 3), dtype=np.uint8)
        n_err = 0
        ids = []
        for slot, row in enumerate(pdf.itertuples(index=False)):
            ids.append(row.image_id)
            px, err = _decode_or_error(row)
            if px is None:
                n_err += 1
                continue
            h0, w0, _ = px.shape
            yi = (np.arange(thumb) * h0 // thumb).clip(0, h0 - 1)
            xi = (np.arange(thumb) * w0 // thumb).clip(0, w0 - 1)
            r, c = divmod(slot, grid)
            canvas[r * thumb : (r + 1) * thumb, c * thumb : (c + 1) * thumb] = (
                px[yi][:, xi]
            )
        return pd.DataFrame(
            [
                (
                    int(pdf["tile_id"].iloc[0]),
                    image_codec.encode_raw(canvas),
                    side,
                    side,
                    len(pdf),
                    n_err,
                    ",".join(ids),
                )
            ],
            columns=["tile_id", "mosaic", "w", "h", "n_images", "n_errors", "ids_csv"],
        )

    return capped.groupBy("tile_id").applyInPandas(build, schema=MOSAIC_SCHEMA)


HISTOGRAM_SCHEMA = "image_id string, embedding array<float>, error string"


def np_color_histogram(pixels: np.ndarray, bins: int = 8) -> np.ndarray:
    """L2-normalized per-channel color histogram of an RGB uint8 image:
    `bins` equal-width buckets per channel (bucket = channel_value * bins
    // 256), concatenated R|G|B to a 3*bins float32 vector and scaled to
    unit L2 norm — a deterministic pixel-content embedding. Near-duplicate
    images (recompressed, slightly cropped) land near cosine 1.0, so the
    vector drops straight into the engine's embedding stack (cosine_topk /
    lsh_ann_topk / cosine_near_dups / kmeans) without any model weights."""
    counts = [
        np.bincount(
            ((pixels[..., c].astype(np.int64) * bins) >> 8).ravel(),
            minlength=bins,
        ).astype(np.float64)
        for c in range(3)
    ]
    v = np.concatenate(counts)
    n = np.linalg.norm(v)
    return (v / n if n > 0 else v).astype(np.float32)


def color_histogram(df: DataFrame, bins: int = 8) -> DataFrame:
    """Per-image color-histogram embedding via Arrow-batched mapInPandas:
    (image_id, embedding: array<float> of length 3*bins, error). The image →
    embedding bridge: output feeds embedops/cluster operators directly (see
    np_color_histogram). Per-row decode errors isolate, rows never fail the
    batch; binary payloads are projected away before the result shuffles
    anywhere. bins must make (value * bins) >> 8 a true bucket index:
    1 <= bins <= 256."""
    if not 1 <= int(bins) <= 256:
        raise ValueError(f"bins must be in [1, 256], got {bins}")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, embs, errs = [], [], []
            for row in pdf.itertuples(index=False):
                px, err = _decode_or_error(row)
                ids.append(row.image_id)
                embs.append(
                    None if px is None else np_color_histogram(px, bins)
                )
                errs.append(err)
            yield pd.DataFrame(
                {"image_id": ids, "embedding": embs, "error": errs}
            )

    return df.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        kernel, schema=HISTOGRAM_SCHEMA
    )


def np_blob_label(mask: np.ndarray, connectivity: int = 4) -> np.ndarray:
    """Exact connected-component labeling of a boolean mask: int64 (h, w)
    raster where every foreground pixel carries its blob's label — the MIN
    flat pixel index (y*w + x) in the blob, a deterministic canonical id —
    and background is -1. Run-length union-find: runs are extracted
    vectorized per row, union-find works over RUNS (O(runs) alpha ops, not
    O(pixels)), so a 4K frame of big blobs costs thousands of ops, not
    millions. connectivity=4 links vertical interval overlaps; 8 also links
    diagonal touches (intervals expanded by one)."""
    if connectivity not in (4, 8):
        raise ValueError(f"connectivity must be 4 or 8, got {connectivity}")
    h, w = mask.shape
    labels = np.full((h, w), -1, dtype=np.int64)
    m = mask.astype(np.int8)
    d = np.diff(
        np.concatenate(
            [np.zeros((h, 1), np.int8), m, np.zeros((h, 1), np.int8)], axis=1
        ),
        axis=1,
    )
    sr, sx = np.nonzero(d == 1)     # run starts (row-major order)
    _, ex = np.nonzero(d == -1)     # run ends (exclusive), same order
    n = len(sr)
    if n == 0:
        return labels
    parent = list(range(n))

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    row_first = np.searchsorted(sr, np.arange(h + 1))
    slack = 0 if connectivity == 4 else 1
    for y in range(1, h):
        a, a_end = row_first[y - 1], row_first[y]
        b, b_end = row_first[y], row_first[y + 1]
        while a < a_end and b < b_end:
            # overlap (4-conn): sx[a] < ex[b] and sx[b] < ex[a];
            # 8-conn widens both by one (diagonal touch)
            if sx[a] < ex[b] + slack and sx[b] < ex[a] + slack:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            if ex[a] + slack <= ex[b] + slack:
                a += 1
            else:
                b += 1
    roots = np.fromiter((find(i) for i in range(n)), np.int64, n)
    run_min = sr.astype(np.int64) * w + sx          # each run's min flat idx
    blob_lab = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
    np.minimum.at(blob_lab, roots, run_min)
    lab = blob_lab[roots]
    for i in range(n):
        labels[sr[i], sx[i]:ex[i]] = lab[i]
    return labels


BLOBS_SCHEMA = (
    "image_id string, w int, h int, fmt string, n_blobs int, "
    "blobs array<struct<label: long, area: long, "
    "xmin: int, ymin: int, xmax: int, ymax: int>>, error string"
)


def image_blobs(
    df: DataFrame,
    threshold: int = 128,
    connectivity: int = 4,
    max_blobs: int = 64,
) -> DataFrame:
    """Per-image blob detection (the segmentation/labeling stage of a
    detection pipeline) over the decoded pixels: foreground = mean-channel
    luminance >= threshold, blobs = exact connected components of the mask
    (np_blob_label), emitted as (image_id, w, h, fmt, n_blobs, blobs,
    error) with per-blob (label = min flat pixel idx, area, inclusive
    bbox), sorted by area DESC then label ASC and capped at max_blobs
    (n_blobs is the UNCAPPED count, so the cap is visible). Per-row error
    isolation like every multimodal kernel — a corrupt frame degrades to
    an error row, never a dead batch. Embarrassingly parallel: no shuffle,
    one image never crosses a batch row; pairs with nms_boxes downstream
    (blobs -> candidate boxes)."""
    conn = int(connectivity)
    if conn not in (4, 8):
        raise ValueError(f"connectivity must be 4 or 8, got {connectivity}")
    thr = int(threshold)
    cap = int(max_blobs)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                px, err = _decode_or_error(row)
                if px is None:
                    out.append(
                        (row.image_id, row.w, row.h, row.fmt, None, None, err)
                    )
                    continue
                lum = px.astype(np.int64).sum(axis=2) // 3
                lab = np_blob_label(lum >= thr, conn)
                fg = lab >= 0
                blobs = []
                if fg.any():
                    ids, inv = np.unique(lab[fg], return_inverse=True)
                    ys, xs = np.nonzero(fg)
                    k = len(ids)
                    area = np.zeros(k, np.int64)
                    np.add.at(area, inv, 1)
                    xmin = np.full(k, np.iinfo(np.int64).max)
                    xmax = np.full(k, -1, np.int64)
                    ymin = np.full(k, np.iinfo(np.int64).max)
                    ymax = np.full(k, -1, np.int64)
                    np.minimum.at(xmin, inv, xs)
                    np.maximum.at(xmax, inv, xs)
                    np.minimum.at(ymin, inv, ys)
                    np.maximum.at(ymax, inv, ys)
                    order = np.lexsort((ids, -area))[:cap]
                    blobs = [
                        {
                            "label": int(ids[i]), "area": int(area[i]),
                            "xmin": int(xmin[i]), "ymin": int(ymin[i]),
                            "xmax": int(xmax[i]), "ymax": int(ymax[i]),
                        }
                        for i in order
                    ]
                    n_all = int(k)
                else:
                    n_all = 0
                out.append(
                    (row.image_id, row.w, row.h, row.fmt, n_all, blobs, None)
                )
            yield pd.DataFrame(out, columns=[
                "image_id", "w", "h", "fmt", "n_blobs", "blobs", "error"])

    return df.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        kernel, schema=BLOBS_SCHEMA
    )


PATCHES_SCHEMA = (
    "image_id string, py int, px int, bytes binary, w int, h int, "
    "fmt string, error string"
)


def image_patches(
    df: DataFrame,
    patch: int,
    stride: int | None = None,
    drop_partial: bool = True,
) -> DataFrame:
    """Explode each image into patch rows (the ViT-style patchification a
    training pipeline runs before embedding): one output row per (patch-grid
    y, x) position, carrying the patch re-encoded in the row's own format.
    stride defaults to `patch` (non-overlapping tiling); a smaller stride
    yields overlapping patches. drop_partial=True keeps only full patches
    (the training convention); False pads the ragged right/bottom patches
    with zeros to patch x patch so every output row has one shape.

    Scale: embarrassingly parallel (mapInPandas, no shuffle) and the output
    row count is data-independent per image (grid size from w, h), so the
    explosion factor is known before running. Per-row error isolation like
    every multimodal kernel."""
    p = int(patch)
    if p < 1:
        raise ValueError(f"patch must be >= 1, got {patch}")
    s = int(stride) if stride is not None else p
    if s < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                px_, err = _decode_or_error(row)
                if px_ is None:
                    out.append((row.image_id, None, None, None, p, p,
                                row.fmt, err))
                    continue
                h, w, _ = px_.shape
                lim_y = h - p if drop_partial else h - 1
                lim_x = w - p if drop_partial else w - 1
                for gy, y0 in enumerate(range(0, max(lim_y, 0) + 1, s)):
                    for gx, x0 in enumerate(range(0, max(lim_x, 0) + 1, s)):
                        tile = px_[y0:y0 + p, x0:x0 + p]
                        if tile.shape[:2] != (p, p):
                            padded = np.zeros((p, p, 3), dtype=np.uint8)
                            padded[: tile.shape[0], : tile.shape[1]] = tile
                            tile = padded
                        enc = (
                            image_codec.encode_png(tile)
                            if row.fmt == "png"
                            else image_codec.encode_raw(tile)
                        )
                        out.append((row.image_id, gy, gx, enc, p, p,
                                    row.fmt, None))
            yield pd.DataFrame(out, columns=[
                "image_id", "py", "px", "bytes", "w", "h", "fmt", "error"])

    return df.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        kernel, schema=PATCHES_SCHEMA
    )


def np_affine_rgb(
    px: np.ndarray,
    coeffs: tuple[int, int, int, int, int, int],
    den: int,
    out_w: int,
    out_h: int,
    method: str = "nearest",
) -> np.ndarray:
    """Exact integer-rational INVERSE affine warp of one RGB image — the
    per-image twin of engine.warp.affine_resample's discipline. For output
    pixel (ox, oy) the source position is ((a*ox + b*oy + tx) / den,
    (c*oy... see below) / den) with integer coeffs (a, b, c, d, tx, ty):
    sx_num = a*ox + b*oy + tx, sy_num = c*ox + d*oy + ty. nearest = exact
    half-up rounding of the rational (no float anywhere); bilinear = exact
    integer weights over the 4 neighbors, final value half-up-rounded once.
    Out-of-range source positions fill black (0,0,0)."""
    if den <= 0:
        raise ValueError(f"den must be > 0, got {den}")
    a, b, c, d, tx, ty = (int(v) for v in coeffs)
    h, w, _ = px.shape
    ox = np.arange(out_w, dtype=np.int64)[None, :]
    oy = np.arange(out_h, dtype=np.int64)[:, None]
    sxn = a * ox + b * oy + tx  # (out_h, out_w) numerators
    syn = c * ox + d * oy + ty
    if method == "nearest":
        # half-up rounding of sxn/den: floor((2*sxn + den) / (2*den))
        gx = (2 * sxn + den) // (2 * den)
        gy = (2 * syn + den) // (2 * den)
        ok = (gx >= 0) & (gx < w) & (gy >= 0) & (gy < h)
        out = np.zeros((out_h, out_w, 3), dtype=np.uint8)
        out[ok] = px[gy[ok], gx[ok]]
        return out
    if method != "bilinear":
        raise ValueError(f"method must be nearest or bilinear, got {method}")
    fx = np.floor_divide(sxn, den)
    fy = np.floor_divide(syn, den)
    wx = sxn - fx * den  # in [0, den)
    wy = syn - fy * den
    ok = (fx >= 0) & (fx + 1 <= w) & (fy >= 0) & (fy + 1 <= h)
    # clamp the +1 neighbor at the exact last row/col (weight there is 0
    # only when wx/wy == 0; require full 4-neighbor support otherwise)
    ok &= ((fx + 1 < w) | (wx == 0)) & ((fy + 1 < h) | (wy == 0))
    gx0 = np.clip(fx, 0, w - 1)
    gy0 = np.clip(fy, 0, h - 1)
    gx1 = np.clip(fx + 1, 0, w - 1)
    gy1 = np.clip(fy + 1, 0, h - 1)
    den2 = den * den
    out = np.zeros((out_h, out_w, 3), dtype=np.uint8)
    v = (
        (den - wx)[..., None] * (den - wy)[..., None] * px[gy0, gx0].astype(np.int64)
        + wx[..., None] * (den - wy)[..., None] * px[gy0, gx1].astype(np.int64)
        + (den - wx)[..., None] * wy[..., None] * px[gy1, gx0].astype(np.int64)
        + wx[..., None] * wy[..., None] * px[gy1, gx1].astype(np.int64)
    )
    vals = (2 * v + den2) // (2 * den2)  # half-up, single rounding
    out[ok] = vals[ok].astype(np.uint8)
    return out


AFFINE_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, error string"
)


def image_affine(
    df: DataFrame,
    coeffs: tuple[int, int, int, int, int, int],
    den: int,
    out_w: int,
    out_h: int,
    method: str = "nearest",
) -> DataFrame:
    """Per-image exact affine warp (rotate / scale / shear / translate — the
    geometric augmentation op of a training pipeline) over decoded pixels:
    INVERSE mapping with integer-rational coefficients over one denominator
    (engine.warp.affine_resample's exactness discipline applied to binary
    image columns), nearest or exact-integer bilinear, black fill outside.
    E.g. 2x upscale: coeffs=(1,0,0,1,0,0), den=2, out 2w x 2h; 90-degree
    clockwise rotation of an h x w image: coeffs=(0,1,-1,0,0,h-1), den=1,
    out h x w (source gy = h-1-ox, gx = oy — np.rot90(img, -1) parity,
    asserted in tests). Re-encodes in the row's own format; per-row error
    isolation; embarrassingly parallel (no shuffle)."""
    m = str(method)
    if m not in ("nearest", "bilinear"):
        raise ValueError(f"method must be nearest or bilinear, got {method}")
    cf = tuple(int(v) for v in coeffs)
    dn, ow, oh = int(den), int(out_w), int(out_h)
    if dn <= 0:
        raise ValueError(f"den must be > 0, got {den}")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                px_, err = _decode_or_error(row)
                if px_ is None:
                    out.append((row.image_id, None, ow, oh, row.fmt, err))
                    continue
                warped = np_affine_rgb(px_, cf, dn, ow, oh, m)
                enc = (
                    image_codec.encode_png(warped)
                    if row.fmt == "png"
                    else image_codec.encode_raw(warped)
                )
                out.append((row.image_id, enc, ow, oh, row.fmt, None))
            yield pd.DataFrame(out, columns=[
                "image_id", "bytes", "w", "h", "fmt", "error"])

    return df.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        kernel, schema=AFFINE_SCHEMA
    )


def np_equalize_rgb(px: np.ndarray) -> np.ndarray:
    """Per-channel histogram equalization, the classic integer CDF mapping:
    out = round((cdf(v) - cdf_min) / (n_pixels - cdf_min) * 255) with
    round = half-up in integers — deterministic, no float. A channel whose
    pixels are all one value (cdf_min == n_pixels) maps to 0."""
    h, w, _ = px.shape
    n = h * w
    out = np.empty_like(px)
    for ch in range(3):
        v = px[..., ch]
        hist = np.bincount(v.ravel(), minlength=256).astype(np.int64)
        cdf = hist.cumsum()
        nz = np.nonzero(hist)[0]
        cdf_min = int(cdf[nz[0]]) if len(nz) else 0
        denom = n - cdf_min
        if denom <= 0:
            out[..., ch] = 0
            continue
        lut = ((2 * (cdf - cdf_min) * 255 + denom) // (2 * denom)).clip(
            0, 255
        ).astype(np.uint8)
        out[..., ch] = lut[v]
    return out


def image_equalize(df: DataFrame) -> DataFrame:
    """Per-image, per-channel histogram equalization (the contrast-normalize
    augmentation): integer CDF LUT mapping (np_equalize_rgb), re-encoded in
    the row's own format, per-row error isolation, no shuffle."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                px_, err = _decode_or_error(row)
                if px_ is None:
                    out.append((row.image_id, None, row.w, row.h, row.fmt, err))
                    continue
                eq = np_equalize_rgb(px_)
                enc = (
                    image_codec.encode_png(eq)
                    if row.fmt == "png"
                    else image_codec.encode_raw(eq)
                )
                out.append((row.image_id, enc, row.w, row.h, row.fmt, None))
            yield pd.DataFrame(out, columns=[
                "image_id", "bytes", "w", "h", "fmt", "error"])

    return df.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        kernel, schema=AFFINE_SCHEMA
    )


def np_template_ssd(pixels: np.ndarray, template: np.ndarray) -> np.ndarray | None:
    """EXACT integer sum-of-squared-differences template-match map: out[y, x] =
    sum over the template window at (x, y) of (I - T)^2, summed across RGB —
    all int64, no floats (uint8 inputs bound the total at
    3 * 65025 * template_area, far inside int64). Decomposed as
    sum I^2 (integral image over windows) - 2 * cross-correlation (one
    vectorized shift-accumulate per template pixel, O(template_area) passes
    over the output lattice) + sum T^2 (a constant). None when the template
    does not fit. The arg-min convention downstream is (ssd, y, x)
    lexicographic — row-major np.argmin's first-occurrence rule, exactly."""
    I = pixels.astype(np.int64)
    T = template.astype(np.int64)
    th, tw = T.shape[:2]
    h, w = I.shape[:2]
    oh, ow = h - th + 1, w - tw + 1
    if oh <= 0 or ow <= 0:
        return None
    i2 = (I * I).sum(axis=2)
    ii = np.zeros((h + 1, w + 1), dtype=np.int64)
    ii[1:, 1:] = i2.cumsum(0).cumsum(1)
    win_i2 = ii[th:, tw:] - ii[:-th, tw:] - ii[th:, :-tw] + ii[:-th, :-tw]
    cross = np.zeros((oh, ow), dtype=np.int64)
    for dy in range(th):
        for dx in range(tw):
            cross += (I[dy : dy + oh, dx : dx + ow, :] * T[dy, dx, :]).sum(
                axis=2
            )
    return win_i2 - 2 * cross + int((T * T).sum())


TEMPLATE_SCHEMA = (
    "image_id string, best_x int, best_y int, ssd long, n_pos long, "
    "error string"
)


def template_match(df: DataFrame, template: np.ndarray) -> DataFrame:
    """Find the best placement of a small RGB template inside every image:
    per image the (best_x, best_y) minimizing the EXACT integer SSD (ties by
    smallest y then x — np_template_ssd's deterministic argmin), the minimal
    ssd itself, and the number of candidate positions. The template is a
    driver-side (th, tw, 3) uint8-ranged array, broadcast by closure — the
    GEMM-guard discipline: one small constant operand, never a joined side.
    Images the template does not fit in (or that fail to decode) surface a
    per-row error instead of failing the batch. Input needs (image_id,
    bytes, w, h, fmt)."""
    T = np.ascontiguousarray(np.asarray(template, dtype=np.int64))
    if T.ndim != 3 or T.shape[2] != 3 or T.shape[0] < 1 or T.shape[1] < 1:
        raise ValueError(
            f"template must be (th, tw, 3), got {T.shape}"
        )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                px, err = _decode_or_error(row)
                if px is None:
                    out.append((row.image_id, None, None, None, None, err))
                    continue
                ssd = np_template_ssd(px, T)
                if ssd is None:
                    out.append((
                        row.image_id, None, None, None, None,
                        "template larger than image",
                    ))
                    continue
                flat = int(np.argmin(ssd))
                oh, ow = ssd.shape
                out.append((
                    row.image_id, flat % ow, flat // ow,
                    int(ssd.reshape(-1)[flat]), oh * ow, None,
                ))
            yield pd.DataFrame(out, columns=[
                "image_id", "best_x", "best_y", "ssd", "n_pos", "error"])

    return df.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        kernel, schema=TEMPLATE_SCHEMA
    )


MOTION_SCHEMA = (
    "pair_id string, bx int, by int, dx int, dy int, ssd long, error string"
)


def block_motion(
    df: DataFrame, block: int = 8, search: int = 4
) -> DataFrame:
    """Block-matching motion estimation between two frames — the classic
    video-codec/optical-flow primitive, EXACT integer SSD end to end. Input
    rows carry two same-size frames (pair_id, bytes_a, bytes_b, w, h, fmt);
    frame A is tiled into non-overlapping block x block blocks (partial
    border blocks dropped), and every block searches frame B over the
    displacement window [-search, +search]^2 (placements clamped to frame
    B's bounds near borders). One output row per (pair, block): the best
    displacement and its SSD. Ties: the first minimum in row-major
    (dy, dx) order over the displacement lattice — deterministic.
    Per-row errors (undecodable frames, frame-size mismatch, frame smaller
    than one block) isolate instead of failing the batch."""
    if block < 1 or search < 1:
        raise ValueError(f"need block >= 1 and search >= 1, got {block}, {search}")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                try:
                    a = image_codec.decode_image(row.bytes_a, row.fmt, row.w, row.h)
                    b = image_codec.decode_image(row.bytes_b, row.fmt, row.w, row.h)
                except NotImplementedError as e:
                    out.append((row.pair_id, None, None, None, None, None,
                                f"unsupported format: {e}"))
                    continue
                except Exception as e:
                    out.append((row.pair_id, None, None, None, None, None,
                                f"decode error: {e}"))
                    continue
                if a.shape != b.shape:
                    out.append((row.pair_id, None, None, None, None, None,
                                "frame size mismatch"))
                    continue
                h, w = a.shape[:2]
                nbx, nby = w // block, h // block
                if nbx == 0 or nby == 0:
                    out.append((row.pair_id, None, None, None, None, None,
                                "frame smaller than one block"))
                    continue
                A = a.astype(np.int64)
                for by in range(nby):
                    for bx in range(nbx):
                        y0, x0 = by * block, bx * block
                        blk = A[y0 : y0 + block, x0 : x0 + block]
                        # clamp the search region to frame B
                        sy0, sx0 = max(0, y0 - search), max(0, x0 - search)
                        sy1 = min(h, y0 + block + search)
                        sx1 = min(w, x0 + block + search)
                        ssd = np_template_ssd(b[sy0:sy1, sx0:sx1], blk)
                        flat = int(np.argmin(ssd))
                        ow = ssd.shape[1]
                        py, px = flat // ow, flat % ow
                        out.append((
                            row.pair_id, bx, by,
                            sx0 + px - x0, sy0 + py - y0,
                            int(ssd.reshape(-1)[flat]), None,
                        ))
            yield pd.DataFrame(out, columns=[
                "pair_id", "bx", "by", "dx", "dy", "ssd", "error"])

    return df.select(
        "pair_id", "bytes_a", "bytes_b", "w", "h", "fmt"
    ).mapInPandas(kernel, schema=MOTION_SCHEMA)


def np_harris(
    pixels: np.ndarray,
    window_radius: int = 1,
    k_den: int = 20,
    thresh: int = 0,
) -> list[tuple[int, int, int]]:
    """EXACT-integer Harris corner response + strict local-max extraction.
    Luminance = r + g + b (0..765, integer); Sobel gradients with
    clamp-to-edge padding (which zeroes only the gradient component
    PERPENDICULAR to the edge — border pixels can still carry strong
    responses), so the 1-px frame border is explicitly EXCLUDED from
    corner extraction: downstream patch consumers (BRIEF, template
    windows) read a neighborhood around each keypoint and must never be
    handed an edge pixel. Structure-tensor window sums over the (2w+1)^2
    box via integral images; response scaled by k_den so k = 1/k_den
    needs no float:

        resp = k_den * (Sxx * Syy - Sxy^2) - (Sxx + Syy)^2    (all int64)

    Corners: pixels with resp > thresh that are STRICTLY greater than all
    8 neighbors (plateau cells suppress each other — deterministic), as
    (x, y, resp) sorted by (resp desc, y, x)."""
    # int64 bound: |ix| <= 4*765, window (2r+1)^2 cells, so
    # k_den * Sxx * Syy <= 20 * ((2r+1)^2 * (4*765)^2)^2 — stays under
    # 2^63 through r = 3 (~4.2e18) and overflows at r = 4
    if not (1 <= window_radius <= 3):
        raise ValueError(
            f"window_radius must be in [1, 3] (int64 bound), got {window_radius}"
        )
    I = pixels.astype(np.int64).sum(axis=2)
    h, w = I.shape
    if h < 3 or w < 3:
        return []
    # clamp-to-edge pad, then Sobel by shift algebra
    P = np.pad(I, 1, mode="edge")

    def sh(dx: int, dy: int) -> np.ndarray:
        return P[1 + dy : 1 + dy + h, 1 + dx : 1 + dx + w]

    ix = (sh(1, -1) + 2 * sh(1, 0) + sh(1, 1)
          - sh(-1, -1) - 2 * sh(-1, 0) - sh(-1, 1))
    iy = (sh(-1, 1) + 2 * sh(0, 1) + sh(1, 1)
          - sh(-1, -1) - 2 * sh(0, -1) - sh(1, -1))

    def boxsum(g: np.ndarray, r: int) -> np.ndarray:
        gp = np.pad(g, r)  # zero pad: off-frame products contribute 0
        ii = np.zeros((h + 2 * r + 1, w + 2 * r + 1), dtype=np.int64)
        np.cumsum(gp, axis=0, out=ii[1:, 1:])
        np.cumsum(ii[1:, 1:], axis=1, out=ii[1:, 1:])
        k = 2 * r + 1
        return ii[k:, k:] - ii[:-k, k:] - ii[k:, :-k] + ii[:-k, :-k]

    r = window_radius
    sxx = boxsum(ix * ix, r)
    syy = boxsum(iy * iy, r)
    sxy = boxsum(ix * iy, r)
    resp = k_den * (sxx * syy - sxy * sxy) - (sxx + syy) ** 2
    rp = np.pad(resp, 1, constant_values=np.iinfo(np.int64).min)

    def rsh(dx: int, dy: int) -> np.ndarray:
        return rp[1 + dy : 1 + dy + h, 1 + dx : 1 + dx + w]

    is_max = resp > thresh
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            if dx == 0 and dy == 0:
                continue
            is_max &= resp > rsh(dx, dy)
    # 1-px border excluded: replicate-pad Sobel leaves real (parallel)
    # gradients at the frame edge, and keypoint consumers sample patches
    is_max[0, :] = is_max[-1, :] = False
    is_max[:, 0] = is_max[:, -1] = False
    ys, xs = np.nonzero(is_max)
    found = [(int(x), int(y), int(resp[y, x])) for y, x in zip(ys, xs)]
    found.sort(key=lambda t: (-t[2], t[1], t[0]))
    return found


HARRIS_SCHEMA = "image_id string, x int, y int, resp long, error string"


def harris_corners(
    df: DataFrame,
    max_corners: int = 32,
    window_radius: int = 1,
    k_den: int = 20,
    thresh: int = 0,
) -> DataFrame:
    """Per-image Harris corners (np_harris): up to max_corners rows per
    image ordered strongest-first by the deterministic (resp desc, y, x)
    key — detection candidates that drop straight into nms/matching. A
    cornerless image emits ONE row with NULL coords (so every input is
    accounted for); undecodable rows isolate as per-row errors. Exact
    int64 response end to end (the pytest oracle asserts ==, not approx).
    Input needs (image_id, bytes, w, h, fmt)."""
    if max_corners < 1:
        raise ValueError(f"max_corners must be >= 1, got {max_corners}")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                px, err = _decode_or_error(row)
                if px is None:
                    out.append((row.image_id, None, None, None, err))
                    continue
                cs = np_harris(px, window_radius, k_den, thresh)
                if not cs:
                    out.append((row.image_id, None, None, None, None))
                    continue
                for x, y, resp in cs[:max_corners]:
                    out.append((row.image_id, x, y, resp, None))
            yield pd.DataFrame(out, columns=[
                "image_id", "x", "y", "resp", "error"])

    return df.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        kernel, schema=HARRIS_SCHEMA
    )


def brief_pattern(
    n_bits: int = 256, patch_radius: int = 8, seed: int = 9
) -> np.ndarray:
    """The fixed BRIEF sampling pattern: (n_bits, 4) int offsets
    (ay, ax, by, bx), drawn once from a seeded generator so every image —
    and every run — compares the same pixel pairs. Defined here once;
    np_brief and any twin replay must share it."""
    rng = np.random.default_rng(seed)
    return rng.integers(
        -patch_radius, patch_radius + 1, size=(n_bits, 4)
    ).astype(np.int64)


def np_brief(
    pixels: np.ndarray, corners: list[tuple[int, int]], pattern: np.ndarray
) -> np.ndarray:
    """BRIEF binary descriptors at the given keypoints: bit i is 1 iff
    luminance(p + (ax, ay)) > luminance(p + (bx, by)) for the fixed
    sampling pattern, sample coordinates clamped to the image — pure
    integer comparisons on the exact r+g+b luminance, packed little-endian
    into ceil(n_bits/64) int64 words per keypoint. Returns an
    (n_corners, n_words) int64 array."""
    I = pixels.astype(np.int64).sum(axis=2)
    h, w = I.shape
    n_bits = pattern.shape[0]
    n_words = (n_bits + 63) // 64
    out = np.zeros((len(corners), n_words), dtype=np.uint64)
    if not corners:
        return out.astype(np.int64)
    xs = np.array([c[0] for c in corners], dtype=np.int64)
    ys = np.array([c[1] for c in corners], dtype=np.int64)
    for i in range(n_bits):
        ay, ax, by, bx = pattern[i]
        la = I[
            np.clip(ys + ay, 0, h - 1), np.clip(xs + ax, 0, w - 1)
        ]
        lb = I[
            np.clip(ys + by, 0, h - 1), np.clip(xs + bx, 0, w - 1)
        ]
        bits = (la > lb).astype(np.uint64)
        out[:, i // 64] |= bits << np.uint64(i % 64)
    return out.view(np.int64)


BRIEF_SCHEMA = (
    "image_id string, kp int, x int, y int, resp long, "
    "d0 long, d1 long, d2 long, d3 long, error string"
)


def brief_descriptors(
    df: DataFrame,
    max_corners: int = 16,
    patch_radius: int = 8,
    seed: int = 9,
    window_radius: int = 1,
    k_den: int = 20,
    thresh: int = 0,
) -> DataFrame:
    """Harris corners + 256-bit BRIEF descriptors per image — the classic
    detect-and-describe front end, exact-integer end to end: one row per
    kept keypoint (kp = rank in the deterministic (resp desc, y, x) corner
    order) carrying the descriptor as four int64 words (d0..d3,
    little-endian bit order). Cornerless images emit one NULL-kp row;
    undecodable rows isolate per-row. imagesim.descriptor_matches joins
    descriptors across images by lossless pigeonhole blocking."""
    pattern = brief_pattern(256, patch_radius, seed)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                px, err = _decode_or_error(row)
                if px is None:
                    out.append((row.image_id, None, None, None, None,
                                None, None, None, None, err))
                    continue
                cs = np_harris(px, window_radius, k_den, thresh)[:max_corners]
                if not cs:
                    out.append((row.image_id, None, None, None, None,
                                None, None, None, None, None))
                    continue
                desc = np_brief(px, [(x, y) for x, y, _ in cs], pattern)
                for k, ((x, y, resp), d) in enumerate(zip(cs, desc)):
                    out.append((row.image_id, k, x, y, resp,
                                int(d[0]), int(d[1]), int(d[2]), int(d[3]),
                                None))
            yield pd.DataFrame(out, columns=[
                "image_id", "kp", "x", "y", "resp",
                "d0", "d1", "d2", "d3", "error"])

    return df.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        kernel, schema=BRIEF_SCHEMA
    )


TILES_SCHEMA = "image_id string, tx long, ty long, counts array<long>, error string"


def image_to_tiles(
    df: DataFrame,
    res: int = 16,
    stride_tiles: int = 1 << 20,
    channel: str = "luminance",
) -> DataFrame:
    """The image -> raster bridge: decode each image and emit its pixels as
    the engine's dense tile shape (tx, ty, counts) with integer LUMINANCE
    (r+g+b, 0..765) — or a single channel — as the cell value, zero-padded
    to tile boundaries. Every raster-family operator (focal filters,
    morphology, Gi*, terrain gradients/curvature, D8 flow + basins =
    classic WATERSHED segmentation, EDT, contours, regions) then applies
    to images unchanged.

    Rows must carry an integer id column `image_id` castable to long; each
    image's tiles are offset by id * stride_tiles in ty, so a multi-image
    frame shares one tile space without collisions — stride_tiles must
    exceed ceil(h/res) + 2 * (the largest halo radius you will run) so no
    strip exchange crosses images (2^20 tiles ~= 16M px at res=16: far
    beyond any real frame). y is flipped so gy increases upward (the
    raster family's convention) while image row 0 stays the TOP of the
    frame at the highest gy. tiles_to_image inverts the bridge."""
    if res < 1:
        raise ValueError("res must be >= 1")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                px, err = _decode_or_error(row)
                if px is None:
                    out.append((row.image_id, None, None, None, err))
                    continue
                if channel == "luminance":
                    g = px.astype(np.int64).sum(axis=2)
                elif channel in ("r", "g", "b"):
                    g = px[:, :, "rgb".index(channel)].astype(np.int64)
                else:
                    out.append((row.image_id, None, None, None,
                                f"unknown channel: {channel}"))
                    continue
                h, w = g.shape
                base_ty = int(row.image_id) * stride_tiles
                ntx = (w + res - 1) // res
                nty = (h + res - 1) // res
                # flip rows: image row 0 (top) -> highest gy
                gflip = g[::-1]
                for tyi in range(nty):
                    for txi in range(ntx):
                        block = np.zeros((res, res), dtype=np.int64)
                        ys = gflip[tyi * res : (tyi + 1) * res,
                                   txi * res : (txi + 1) * res]
                        block[: ys.shape[0], : ys.shape[1]] = ys
                        out.append((
                            row.image_id, txi, base_ty + tyi,
                            block.reshape(-1).tolist(), None,
                        ))
            yield pd.DataFrame(out, columns=[
                "image_id", "tx", "ty", "counts", "error"])

    return df.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        kernel, schema=TILES_SCHEMA
    )


def tiles_to_image(
    tiles: DataFrame, res: int, w: int, h: int,
    stride_tiles: int = 1 << 20,
) -> DataFrame:
    """Inverse bridge: reassemble per-image (tx, ty, counts) tiles (the
    image_to_tiles layout: ty offset by image_id * stride_tiles, y
    flipped) into one row per image with a dense row-major int64 pixel
    array of the ORIGINAL w x h frame (top row first). Pure Column
    algebra: explode to in-frame pixels, drop padding, one
    sorted-struct fold per image — the heatmap_tiles assembly."""
    from pyspark.sql import functions as F

    img = (F.col("ty") / stride_tiles).cast("long")
    tyl = F.pmod(F.col("ty"), stride_tiles)
    gx, gyf = pixel_xy(res)
    ex = tiles.select(
        img.alias("image_id"), "tx", tyl.alias("ty"),
        F.posexplode("counts").alias("pix", "v"),
    ).select(
        "image_id", "v", gx.alias("gx"), gyf.alias("gyf")
    ).filter((F.col("gx") < w) & (F.col("gyf") < h))
    # un-flip: image row = h - 1 - gyf
    slot = (F.lit(h - 1) - F.col("gyf")) * w + F.col("gx")
    dense = F.transform(
        F.array_sort(F.collect_list(F.struct(slot.alias("s"), F.col("v")))),
        lambda s: s["v"],
    )
    return ex.groupBy("image_id").agg(dense.alias("pixels"))
