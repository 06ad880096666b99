"""Embedding quantization: the storage/IO lever for similarity search at 100 TB.

A dim-64 float64 embedding row is 512 B; its int8 code is 64 B. At 10^12 rows
that is 512 TB -> 64 TB of corpus the scan/shuffle machinery has to move, and
the scan kernel becomes memory-bandwidth bound either way — an 8x reduction is
an ~8x scan-throughput lever. The trick that makes int8 nearly free for COSINE
similarity: cosine is invariant to positive per-vector scaling, so symmetric
per-vector max-abs quantization (code = round(127 * x / max|x|)) introduces
only component ROUNDING error (<= max|x|/254), never scale error — the scale
factors cancel in the normalized dot. Measured recall vs exact float64 top-k
is in the 0.97+ range (tests/test_quantize.py; BENCH/BASELINE.md).

Operators (all Arrow mapInArrow kernels, no per-row Python):

- quantize_int8(df):    array<double> -> compact binary codes + scale column
- dequantize_int8(df):  approximate inverse (for debugging / reuse)
- cosine_topk_int8(..): brute-force top-k over codes (per-partition GEMM with
                        float32 accumulation — same plan shape as
                        embedops._gemm_topk_scan: only (qid, cid, sim) triples
                        leave a partition), with an optional exact-double
                        rerank against the original vectors.

No reference analog (the reference has no embedding surface at all) — this
extends the similarity-search family (SURVEY.md §2 additions) the same way
lsh/ivf_ann_topk do. Not SQL-expressible at reasonable cost (byte-packed
codes), so verification is numpy-parity + recall pytest rather than a DuckDB
oracle row; the registry stays pinned at 50.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .embedops import (
    GEMM_MAX_QUERY_ROWS,
    _arrow_matrix,
    _collect_query_rows,
    cosine_double,
)
from .session import local_relation


def _quantize_np(M: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(n, d) float64 -> ((n, d) int8 codes, (n,) float64 scales). The numpy
    reference the Arrow kernel and the tests share. Zero vectors get scale 1
    (codes all zero)."""
    scale = np.abs(M).max(axis=1) / 127.0
    scale = np.where(scale == 0.0, 1.0, scale)
    codes = np.rint(M / scale[:, None]).astype(np.int8)
    return codes, scale


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    code_col: str = "code",
    scale_col: str = "qscale",
) -> DataFrame:
    """Append per-vector symmetric int8 codes (binary, dim bytes) + the max-abs
    scale. One Arrow pass over the frame; all other columns ride through."""
    import pyarrow as pa

    in_schema = df.schema
    out_fields = list(in_schema.fields) + [
        T.StructField(code_col, T.BinaryType()),
        T.StructField(scale_col, T.DoubleType()),
    ]

    def kernel(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            M = _arrow_matrix(rb, vec_col)
            codes, scale = _quantize_np(M)
            n, d = codes.shape
            # binary array built straight from buffers: uniform-width offsets
            # + the contiguous code matrix — no per-row Python
            offsets = np.arange(0, (n + 1) * d, d, dtype=np.int32)
            code_arr = pa.Array.from_buffers(
                pa.binary(), n,
                [None, pa.py_buffer(offsets.tobytes()),
                 pa.py_buffer(np.ascontiguousarray(codes).tobytes())],
            )
            arrays = [rb.column(i) for i in range(rb.num_columns)]
            arrays.append(code_arr)
            arrays.append(pa.array(scale))
            yield pa.RecordBatch.from_arrays(
                arrays, names=[f.name for f in out_fields]
            )

    return df.mapInArrow(kernel, schema=T.StructType(out_fields))


def dequantize_int8(
    df: DataFrame,
    code_col: str = "code",
    scale_col: str = "qscale",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Approximate inverse of quantize_int8: binary codes -> array<double>.
    Max per-component error is scale/2 (half a quantization step)."""
    import pyarrow as pa

    in_fields = [f for f in df.schema.fields]
    out_fields = in_fields + [T.StructField(vec_col, T.ArrayType(T.DoubleType()))]

    def kernel(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            C = _binary_matrix(rb, code_col, dim).astype(np.float64)
            scale = np.asarray(
                rb.column(rb.schema.get_field_index(scale_col)), dtype=np.float64
            )
            M = C * scale[:, None]
            arrays = [rb.column(i) for i in range(rb.num_columns)]
            arrays.append(pa.array(list(M)))
            yield pa.RecordBatch.from_arrays(
                arrays, names=[f.name for f in out_fields]
            )

    return df.mapInArrow(kernel, schema=T.StructType(out_fields))


def _binary_matrix(rb, name: str, dim: int) -> np.ndarray:
    """Arrow binary column of uniform dim-byte rows -> (n, dim) int8 matrix,
    straight from the values buffer (no per-row unboxing — the binary twin of
    embedops._arrow_matrix)."""
    col = rb.column(rb.schema.get_field_index(name))
    n = len(col)
    off = np.frombuffer(col.buffers()[1], dtype=np.int32)[
        col.offset : col.offset + n + 1
    ]
    widths = np.diff(off)
    if not (widths == dim).all():
        raise ValueError(
            f"binary code column {name!r}: expected uniform {dim}-byte rows, "
            f"saw widths {np.unique(widths)}"
        )
    data = np.frombuffer(col.buffers()[2], dtype=np.int8)
    return data[off[0] : off[0] + n * dim].reshape(n, dim)


def cosine_topk_int8(
    queries: DataFrame,
    corpus_codes: DataFrame,
    k: int = 5,
    dim: int = 64,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "code",
    rerank_corpus: DataFrame | None = None,
    rerank_mult: int = 4,
    max_query_rows: int | None = None,
) -> DataFrame:
    """Brute-force cosine top-k over an int8-quantized corpus: per-partition
    GEMM on the codes (float32 accumulation — int8 magnitudes keep f32 exact
    up to dim * 127^2 << 2^24), only (qid, cid, sim) triples leave each
    partition. Queries are raw float vectors (quantized driver-side with the
    same max-abs rule). The query side is bounded exactly like cosine_topk's
    gemm kernel (GEMM_MAX_QUERY_ROWS; oversized sets raise).

    rerank_corpus (the original float frame) upgrades the result to
    near-exact: the code scan keeps rerank_mult*k candidates per query, one
    cid-keyed equi-join attaches the original vectors, and the final rank is
    exact double cosine — the standard quantize-then-rerank shape. Without it
    the int8 ranking itself is returned (recall vs exact measured 0.97+ at
    dim 64; BENCH).

    Returns (query_id, corpus_id, rank)."""
    import pyarrow as pa

    q_rows = _collect_query_rows(queries, query_id, vec_col, max_query_rows)
    if q_rows is None:
        cap = GEMM_MAX_QUERY_ROWS if max_query_rows is None else max_query_rows
        raise ValueError(
            f"cosine_topk_int8: query side exceeds {cap} rows; an exact "
            "brute-force scan needs a driver-collectable query matrix. Raise "
            "max_query_rows deliberately, or use lsh/ivf_ann_topk."
        )
    if not q_rows:
        return local_relation(
            queries.sparkSession,
            [], schema=f"{query_id} long, {corpus_id} long, rank long"
        )
    keep = k * rerank_mult if rerank_corpus is not None else k
    qids = np.asarray([r[0] for r in q_rows], dtype=np.int64)
    Qf = np.vstack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    Qc, _ = _quantize_np(Qf)
    Q32 = Qc.astype(np.float32)
    Qn = np.sqrt(np.einsum("ij,ij->i", Q32, Q32))
    Qn[Qn == 0.0] = 1.0
    # contiguous Q^T: no fast transposed-B sgemm on this BLAS (~9x penalty)
    Q32T = np.ascontiguousarray(Q32.T)
    out_schema = T.StructType(
        [
            T.StructField("_qid", T.LongType()),
            T.StructField("_cid", T.LongType()),
            T.StructField("_sim", T.DoubleType()),
        ]
    )

    def scan(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            C = _binary_matrix(rb, code_col, dim).astype(np.float32)
            cids = np.asarray(
                rb.column(rb.schema.get_field_index(corpus_id)), dtype=np.int64
            )
            Cn = np.sqrt(np.einsum("ij,ij->i", C, C))
            Cn[Cn == 0.0] = 1.0
            sims = (C @ Q32T) / (Cn[:, None] * Qn[None, :])
            kk = min(keep, sims.shape[0])
            # local top-k with the same (sim desc, cid asc) tiebreak the
            # global window applies — see _gemm_topk_scan's tie note
            top = np.empty((kk, sims.shape[1]), dtype=np.int64)
            for j in range(sims.shape[1]):
                top[:, j] = np.lexsort((cids, -sims[:, j]))[:kk]
            qcol = np.repeat(qids[None, :], kk, axis=0).ravel()
            ccol = cids[top].ravel()
            scol = np.take_along_axis(sims, top, axis=0).ravel().astype(np.float64)
            yield pa.RecordBatch.from_arrays(
                [pa.array(qcol), pa.array(ccol), pa.array(scol)],
                names=["_qid", "_cid", "_sim"],
            )

    local = corpus_codes.select(corpus_id, code_col).mapInArrow(
        scan, schema=out_schema
    )
    w = Window.partitionBy("_qid").orderBy(F.col("_sim").desc(), F.col("_cid"))
    cand = (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= keep)
    )
    if rerank_corpus is None:
        return cand.select(
            F.col("_qid").alias(query_id), F.col("_cid").alias(corpus_id), "rank"
        )
    return _exact_rerank(
        cand, qids, Qf, rerank_corpus, k, query_id, corpus_id, vec_col
    )


def _exact_rerank(
    cand: DataFrame,
    qids: np.ndarray,
    Qf: np.ndarray,
    rerank_corpus: DataFrame,
    k: int,
    query_id: str,
    corpus_id: str,
    vec_col: str,
) -> DataFrame:
    """Exact-double rerank of slim (_qid, _cid) candidates: attach original
    vectors by cid (one equi-join bounded by corpus size), query vectors from
    the already-collected driver matrix via a broadcast lookup frame (bounded
    by the query cap), exact double cosine, (sim desc, cid asc) tiebreak."""
    spark = rerank_corpus.sparkSession
    qvec = local_relation(
        spark, [(int(i), [float(x) for x in v]) for i, v in zip(qids, Qf)],
        schema="_qid long, _qv array<double>",
    )
    cvec = rerank_corpus.select(
        F.col(corpus_id).alias("_cid"), F.col(vec_col).alias("_cv")
    )
    scored = (
        cand.select("_qid", "_cid")
        .join(cvec, "_cid")
        .join(F.broadcast(qvec), "_qid")
        .withColumn("_esim", cosine_double(F.col("_qv"), F.col("_cv")))
    )
    w2 = Window.partitionBy("_qid").orderBy(F.col("_esim").desc(), F.col("_cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(query_id), F.col("_cid").alias(corpus_id), "rank"
        )
    )


def ivf_ann_topk_int8(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int | None = None,
    n_probe: int = 4,
    seed: int = 42,
    dim: int = 64,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    rerank: bool = True,
    rerank_mult: int = 4,
    max_query_rows: int | None = None,
) -> DataFrame:
    """IVF-SQ8: embedops.ivf_ann_topk's coarse quantizer (identical md5-ordered
    centroid sample + nearest-1 gemm assignment, so candidate sets match the
    float IVF exactly at the same seed) over inverted lists that store int8
    CODES instead of float64 vectors. The candidate equi-join — IVF's biggest
    intermediate, n_probe/n_centroids of the corpus per query — moves 64-byte
    codes instead of 512-byte arrays (8x less shuffle/spill at dim 64), and
    the tiny (query, centroid) probe table is broadcast so the corpus-sized
    list frame never shuffles at all. Probe selection happens driver-side on
    the collected query matrix (bounded by GEMM_MAX_QUERY_ROWS, same contract
    as every gemm kernel; stable argsort ties match the HOF window order).

    rerank=True (default) upgrades the code ranking to near-exact: keep
    rerank_mult*k candidates by int8 similarity, attach original vectors by
    one cid equi-join, rank by exact double cosine. rerank=False returns the
    pure code ranking (recall 0.97+ vs float at dim 64 — BENCH/BASELINE.md).

    At 100 TB: lists are built once per corpus snapshot (one scan: assignment
    + quantization are pipelined narrow Arrow passes, no shuffle) and shrink
    the stored index 8x; per-query work is bounded by n_probe * corpus /
    n_centroids candidates, each 64 B + two int8-GEMM FLOP rows. No reference
    analog (the reference has no embedding surface); extends the SURVEY.md §2
    similarity family. Binary codes are not reasonably SQL-expressible, so
    verification is pytest (candidate-parity + recall + rerank parity vs the
    hash-checked float ivf_ann_topk) rather than a registry row.

    Returns (query_id, corpus_id, rank)."""
    import math

    import pyarrow as pa

    from engine.textops import cross_hash

    from .embedops import _nearest_centroids_gemm_udf

    q_rows = _collect_query_rows(queries, query_id, vec_col, max_query_rows)
    if q_rows is None:
        cap = GEMM_MAX_QUERY_ROWS if max_query_rows is None else max_query_rows
        raise ValueError(
            f"ivf_ann_topk_int8: query side exceeds {cap} rows; probe "
            "selection and the rerank need a driver-collectable query matrix. "
            "Raise max_query_rows deliberately or shard the query set."
        )
    spark = corpus.sparkSession
    if not q_rows:
        return local_relation(
            spark, [], schema=f"{query_id} long, {corpus_id} long, rank long"
        )

    # coarse quantizer: the identical deterministic sample embedops uses
    # (cross-engine md5 order, seeded) — same seed => same centroid set
    if n_centroids is None:
        n_centroids = max(16, min(4096, int(math.sqrt(corpus.count()))))
    sample_key = cross_hash(
        F.concat(F.col(corpus_id).cast("string"), F.lit(f":{seed}")), "md5"
    )
    cents_mat = np.vstack(
        [
            np.asarray(r[0], dtype=np.float64)
            for r in corpus.select(vec_col)
            .orderBy(sample_key)
            .limit(n_centroids)
            .collect()
        ]
    )
    n_centroids = cents_mat.shape[0]

    # driver-side probe selection: (n_q, m) matmul on the bounded query matrix
    qids = np.asarray([r[0] for r in q_rows], dtype=np.int64)
    Qf = np.vstack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    Qfn = np.linalg.norm(Qf, axis=1)
    Qfn[Qfn == 0.0] = 1.0
    Cen = np.linalg.norm(cents_mat, axis=1)
    Cen[Cen == 0.0] = 1.0
    sims = (Qf @ cents_mat.T) / (Qfn[:, None] * Cen[None, :])
    order = np.argsort(-sims, axis=1, kind="stable")[:, : min(n_probe, n_centroids)]
    probe_df = F.broadcast(
        local_relation(
            spark,
            [(int(q), int(c)) for q, row in zip(qids, order) for c in row],
            schema="_qid long, centroid_id long",
        )
    )

    # inverted lists over codes: one corpus scan — nearest-1 assignment and
    # int8 quantization are pipelined narrow Arrow passes, embedding dropped
    # before anything wide
    nc = _nearest_centroids_gemm_udf(cents_mat, 1)
    assigned = corpus.select(
        F.col(corpus_id).alias("_cid"), F.col(vec_col)
    ).withColumn("centroid_id", F.element_at(nc(F.col(vec_col)), 1))
    lists = quantize_int8(assigned, vec_col=vec_col).select(
        "centroid_id", "_cid", "code"
    )

    # candidate join: broadcast probes -> the corpus-sized list side never
    # shuffles; rows out carry (qid, cid, 64-byte code). Pairs are unique by
    # construction (nearest-1 lists x distinct probes) — no dedup shuffle.
    cand = lists.join(probe_df, "centroid_id").select("_qid", "_cid", "code")

    # int8 pair rerank: quantized query matrix looked up by position inside
    # the Arrow kernel (the codes twin of embedops._rerank_pairs_gemm)
    Qc, _ = _quantize_np(Qf)
    Q32 = Qc.astype(np.float32)
    Qn = np.sqrt(np.einsum("ij,ij->i", Q32, Q32))
    Qn[Qn == 0.0] = 1.0
    _qsort_pos = np.argsort(qids, kind="stable")
    _qsorted = qids[_qsort_pos]
    out_schema = T.StructType(
        [
            T.StructField("_qid", T.LongType()),
            T.StructField("_cid", T.LongType()),
            T.StructField("_sim", T.DoubleType()),
        ]
    )

    def scan(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            C = _binary_matrix(rb, "code", dim).astype(np.float32)
            Cn = np.sqrt(np.einsum("ij,ij->i", C, C))
            Cn[Cn == 0.0] = 1.0
            qid_np = np.asarray(
                rb.column(rb.schema.get_field_index("_qid")), dtype=np.int64
            )
            cid_np = np.asarray(
                rb.column(rb.schema.get_field_index("_cid")), dtype=np.int64
            )
            qi = _qsort_pos[np.searchsorted(_qsorted, qid_np)]
            sims = (
                np.einsum("ij,ij->i", C, Q32[qi]) / (Cn * Qn[qi])
            ).astype(np.float64)
            yield pa.RecordBatch.from_arrays(
                [pa.array(qid_np), pa.array(cid_np), pa.array(sims)],
                names=["_qid", "_cid", "_sim"],
            )

    local = cand.mapInArrow(scan, schema=out_schema)
    keep = k * rerank_mult if rerank else k
    w = Window.partitionBy("_qid").orderBy(F.col("_sim").desc(), F.col("_cid"))
    ranked = (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= keep)
    )
    if not rerank:
        return ranked.select(
            F.col("_qid").alias(query_id), F.col("_cid").alias(corpus_id), "rank"
        )
    return _exact_rerank(
        ranked, qids, Qf, corpus, k, query_id, corpus_id, vec_col
    )
