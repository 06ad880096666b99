"""Kernel-table measurements for BENCH/BASELINE.md (run ONE part at a time —
never two Spark processes concurrently on this host; every part prints one
JSON line and asserts its planted structure, so each is a correctness check
at bench scale, not just a timing).

Usage: python tools/bench_kernels.py <part>   — see the dispatch table at
the bottom of this file for the full part list (embedding kernels, LSH/IVF
recall, geodesic kNN, int8 quantization, tile cutting, phash clustering,
connected components, trajectories, focal/hotspot rasters, map matching,
emerging hotspots, raster regions, co-location, convex hulls). Numbers and
their interpretation live in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# pandas-UDF workers import `engine` as well: give them the repo root
# whatever directory the tool was started from (before any JVM starts)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

import numpy as np  # noqa: E402


def _spark(name: str):
    from engine.session import get_spark

    return get_spark(name, cores=32, shuffle_partitions=32)


def _vectors(spark, n, dim=64, seed=7, partitions=64):
    """Deterministic embedding frame, generated distributed (driver-side row
    lists die at 1M x 64 doubles)."""
    from pyspark.sql import functions as F

    base = spark.range(0, n, 1, partitions).select(F.col("id").alias("vec_id"))

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["vec_id"].to_numpy()
            # one vectorized draw per batch, seeded by the batch's id range so
            # the frame is deterministic given the same partitioning (persisted
            # before any comparison anyway)
            rng = np.random.default_rng(seed + int(ids[0]))
            M = rng.standard_normal((len(ids), dim))
            yield pd.DataFrame({"vec_id": ids, "embedding": list(M)})

    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    return base.mapInPandas(gen, schema)


def part_rebatch() -> None:
    from engine import embedops

    spark = _spark("bench-rebatch")
    corpus = _vectors(spark, 1_000_000).persist()
    corpus.count()
    queries = corpus.filter("vec_id < 32").selectExpr(
        "vec_id AS query_id", "embedding"
    )

    def run_once() -> float:
        t0 = time.time()
        embedops.cosine_topk(queries, corpus, k=10, kernel="gemm").write.format(
            "noop"
        ).mode("overwrite").save()
        return time.time() - t0

    results = {}
    import engine.embedops as eo

    orig = eo.GEMM_REBATCH_ROWS
    ts = {"rebatch_65536": [], "passthrough_4096": []}
    for _ in range(3):  # interleaved A/B, min per config
        eo.GEMM_REBATCH_ROWS = orig
        ts["rebatch_65536"].append(round(run_once(), 3))
        eo.GEMM_REBATCH_ROWS = 1  # yield scan batches as-is (4096 rows)
        ts["passthrough_4096"].append(round(run_once(), 3))
    eo.GEMM_REBATCH_ROWS = orig
    results = {k: {"runs": v, "min": min(v)} for k, v in ts.items()}
    print(json.dumps({"part": "rebatch", **results}))
    spark.stop()


def part_recall() -> None:
    from pyspark.sql import functions as F

    from engine import embedops

    spark = _spark("bench-recall")
    corpus = _vectors(spark, 1_000_000).persist()
    corpus.count()
    queries = corpus.filter("vec_id < 200").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = embedops.cosine_topk(queries, corpus, k=5, kernel="gemm").persist()
    exact.count()
    out = {"part": "recall", "n_corpus": 1_000_000, "n_queries": 200,
           "n_planes": 14, "multiprobe_bits": 2}
    for label, cap in [("capped_auto_47", "auto"), ("uncapped_106", None)]:
        t0 = time.time()
        approx = embedops.lsh_ann_topk(
            queries, corpus, k=5, dim=64, n_planes=14, multiprobe_bits=2,
            kernel="gemm", max_probes=cap,
        ).persist()
        approx.count()
        wall = time.time() - t0
        out[label] = {
            "recall": round(embedops.ann_recall(exact, approx), 4),
            "wall_s": round(wall, 2),
        }
        approx.unpersist()
    print(json.dumps(out))
    spark.stop()


def part_rerank() -> None:
    """Rebatch A/B on the PAIR-rerank kernel (_rerank_pairs_gemm), the path the
    ~2.5us/candidate batch-overhead claim was about: lsh_ann_topk gemm at 200
    queries x 1M corpus (~600k candidate pairs through the rerank)."""
    from pyspark.sql import functions as F

    import engine.embedops as eo

    spark = _spark("bench-rerank")
    corpus = _vectors(spark, 1_000_000).persist()
    corpus.count()
    queries = corpus.filter("vec_id < 200").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def run_once() -> float:
        t0 = time.time()
        eo.lsh_ann_topk(
            queries, corpus, k=5, dim=64, n_planes=14, multiprobe_bits=2,
            kernel="gemm", max_probes="auto",
        ).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    orig = eo.GEMM_REBATCH_ROWS
    ts = {"rebatch_65536": [], "passthrough_4096": []}
    for _ in range(2):
        eo.GEMM_REBATCH_ROWS = orig
        ts["rebatch_65536"].append(round(run_once(), 2))
        eo.GEMM_REBATCH_ROWS = 1
        ts["passthrough_4096"].append(round(run_once(), 2))
    eo.GEMM_REBATCH_ROWS = orig
    print(json.dumps({"part": "rerank",
                      **{k: {"runs": v, "min": min(v)} for k, v in ts.items()}}))
    spark.stop()


def part_ivf() -> None:
    """VERDICT r3 item 5 'Done' row: auto-sized IVF (n_centroids=sqrt(1M)=1000)
    recall + candidate volume at 1M corpus, vs the old fixed-16 quantizer."""
    from pyspark.sql import functions as F

    from engine import embedops

    spark = _spark("bench-ivf")
    corpus = _vectors(spark, 1_000_000).persist()
    corpus.count()
    queries = corpus.filter("vec_id < 200").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = embedops.cosine_topk(queries, corpus, k=5, kernel="gemm").persist()
    exact.count()
    out = {"part": "ivf", "n_corpus": 1_000_000, "n_queries": 200, "n_probe": 4}
    for label, nc, lloyd in [
        ("fixed_16", 16, 0),
        ("auto_1000", None, 0),
        ("auto_1000_lloyd1", None, 1),
    ]:
        t0 = time.time()
        approx = embedops.ivf_ann_topk(
            queries, corpus, k=5, n_centroids=nc, n_probe=4,
            kernel="gemm", lloyd_iters=lloyd,
        ).persist()
        approx.count()
        wall = time.time() - t0
        ncent = nc if nc else 1000
        out[label] = {
            "recall": round(embedops.ann_recall(exact, approx), 4),
            "wall_s": round(wall, 2),
            "candidates_per_query_approx": int(4 * 1_000_000 / ncent),
        }
        approx.unpersist()
    print(json.dumps(out))
    spark.stop()


def _clustered_vectors(spark, n, dim=64, n_clusters=64, spread=0.3, seed=7,
                       partitions=64):
    """Mixture-of-gaussians embedding frame: cluster centers on the unit
    sphere, points = center + spread * noise. The regime real embedding
    models produce (semantic clusters), where LSH buckets and IVF lists
    align with data structure — the isotropic frame is their worst case."""
    from pyspark.sql import functions as F

    import pyspark.sql.types as T

    rng = np.random.default_rng(seed)
    C = rng.standard_normal((n_clusters, dim))
    C /= np.linalg.norm(C, axis=1, keepdims=True)

    base = spark.range(0, n, 1, partitions).select(F.col("id").alias("vec_id"))

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["vec_id"].to_numpy()
            r = np.random.default_rng(seed + 1 + int(ids[0]))
            centers = C[ids % n_clusters]
            M = centers + spread * r.standard_normal((len(ids), C.shape[1]))
            yield pd.DataFrame({"vec_id": ids, "embedding": list(M)})

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    return base.mapInPandas(gen, schema)


def part_clustered() -> None:
    """LSH + IVF recall on CLUSTERED embeddings (64 gaussian clusters, 1M
    rows) — the counterpart to part_recall/part_ivf's isotropic worst case,
    and the regime where Lloyd refinement should actually pay."""
    from pyspark.sql import functions as F

    from engine import embedops

    spark = _spark("bench-clustered")
    corpus = _clustered_vectors(spark, 1_000_000).persist()
    corpus.count()
    queries = corpus.filter("vec_id < 200").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = embedops.cosine_topk(queries, corpus, k=5, kernel="gemm").persist()
    exact.count()
    out = {"part": "clustered", "n_corpus": 1_000_000, "n_queries": 200,
           "n_clusters": 64}
    runs = [
        ("lsh_capped", lambda: embedops.lsh_ann_topk(
            queries, corpus, k=5, dim=64, n_planes=14, multiprobe_bits=2,
            kernel="gemm", max_probes="auto")),
        ("ivf_auto", lambda: embedops.ivf_ann_topk(
            queries, corpus, k=5, n_probe=4, kernel="gemm")),
        ("ivf_auto_lloyd1", lambda: embedops.ivf_ann_topk(
            queries, corpus, k=5, n_probe=4, kernel="gemm", lloyd_iters=1)),
    ]
    for label, fn in runs:
        t0 = time.time()
        approx = fn().persist()
        approx.count()
        wall = time.time() - t0
        out[label] = {
            "recall": round(embedops.ann_recall(exact, approx), 4),
            "wall_s": round(wall, 2),
        }
        approx.unpersist()
    print(json.dumps(out))
    spark.stop()


def part_nprobe() -> None:
    """IVF n_probe recall/cost curve on the clustered corpus (the dial a user
    turns at fixed quantizer): auto-1000 centroids + 1 Lloyd pass, n_probe in
    {1, 4, 16, 64}."""
    from pyspark.sql import functions as F

    from engine import embedops

    spark = _spark("bench-nprobe")
    corpus = _clustered_vectors(spark, 1_000_000).persist()
    corpus.count()
    queries = corpus.filter("vec_id < 200").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = embedops.cosine_topk(queries, corpus, k=5, kernel="gemm").persist()
    exact.count()
    out = {"part": "nprobe_sweep", "n_corpus": 1_000_000, "n_queries": 200,
           "quantizer": "auto_1000_lloyd1"}
    for n_probe in [1, 4, 16, 64]:
        t0 = time.time()
        approx = embedops.ivf_ann_topk(
            queries, corpus, k=5, n_probe=n_probe, kernel="gemm", lloyd_iters=1
        ).persist()
        approx.count()
        wall = time.time() - t0
        out[f"n_probe_{n_probe}"] = {
            "recall": round(embedops.ann_recall(exact, approx), 4),
            "wall_s": round(wall, 2),
            "candidates_per_query": n_probe * 1000,
        }
        approx.unpersist()
    print(json.dumps(out))
    spark.stop()


def part_sq8_hirecall() -> None:
    """The r5 high-recall operating point (VERDICT r4 item 1): IVF-SQ8 on the
    1M clustered corpus — trained quantizer, spilled lists, int8 code scan,
    exact rerank. Reports the recall / cost Pareto: pairs_scanned fraction
    (compressed codes, 64 B each), byte-equivalent fraction of a raw float64
    scan, and exact-candidate fraction (full-precision evaluations — the
    <= 1% budget). Index build timed separately from serving (the amortized
    production shape)."""
    from pyspark.sql import functions as F

    from engine import embedops

    spark = _spark("bench-ivf-sq8")
    N = 1_000_000
    corpus = _clustered_vectors(spark, N).persist()
    corpus.count()
    queries = corpus.filter("vec_id < 200").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = embedops.cosine_topk(queries, corpus, k=5, kernel="gemm").persist()
    exact.count()
    out = {"part": "sq8_hirecall", "n_corpus": N, "n_queries": 200}
    t0 = time.time()
    cents = embedops.train_ivf_centroids(corpus, 4096, iters=15)
    out["train_wall_s"] = round(time.time() - t0, 2)
    t0 = time.time()
    index = embedops.build_sq8_index(corpus, cents, spill=4).persist()
    n_entries = index.count()
    out["index_build_wall_s"] = round(time.time() - t0, 2)
    out["index_entries"] = n_entries
    for n_probe in (64, 128, 256):
        stats: dict = {}
        t0 = time.time()
        approx = embedops.ivf_sq8_topk(
            queries, corpus, k=5, n_probe=n_probe, spill=4, m_rerank=256,
            cents=cents, index=index, stats_out=stats,
        ).persist()
        approx.count()
        wall = time.time() - t0
        scanned_frac = stats["pairs_scanned"] / (stats["nq"] * N)
        exact_frac = stats["candidates_exact"] / (stats["nq"] * N)
        out[f"n_probe_{n_probe}"] = {
            "recall": round(embedops.ann_recall(exact, approx), 4),
            "wall_s": round(wall, 2),
            "code_scan_frac": round(scanned_frac, 4),
            "byte_equiv_frac_vs_f64": round(scanned_frac * 64 / 512, 4),
            "exact_candidate_frac": round(exact_frac, 6),
        }
        approx.unpersist()
    print(json.dumps(out))
    spark.stop()


def part_knn_geo() -> None:
    from pyspark.sql import functions as F

    from engine import cells, joins, synth

    spark = _spark("bench-knn-geo")

    def pts(n, id_col):
        return synth.images_df(spark, n, with_bytes=False, partitions=64).select(
            F.col("image_id").alias(id_col),
            cells.anchor_lon(F.col("phash")).alias("lon"),
            cells.anchor_lat(F.col("phash")).alias("lat"),
        )

    points = pts(1_000_000, "point_id").persist()
    points.count()
    queries = pts(10_000, "query_id").persist()
    queries.count()
    t0 = time.time()
    n_out = joins.knn_geo_join(queries, points, k=3, res=9).count()
    wall = time.time() - t0
    print(json.dumps({
        "part": "knn_geo", "n_points": 1_000_000, "n_queries": 10_000, "k": 3,
        "wall_s": round(wall, 2), "rows": n_out,
        "queries_per_sec": round(10_000 / wall, 1),
    }))
    spark.stop()


def part_int8() -> None:
    """Int8 quantization lever at 1M x 64: parquet bytes (float64 array vs
    binary codes), code-scan vs float-GEMM wall at 32 queries, and code-rank
    recall vs exact (plus rerank wall, which is exact by construction when the
    true top-k survives the 4x candidate cut)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from engine import embedops, quantize

    spark = _spark("bench-int8")
    corpus = _vectors(spark, 1_000_000).persist()
    corpus.count()
    codes = quantize.quantize_int8(corpus).select("vec_id", "code").persist()
    t0 = time.time()
    codes.count()
    quant_wall = time.time() - t0
    queries = corpus.filter("vec_id < 32").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def dir_bytes(path):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(path) for f in fs
        )

    tmp = tempfile.mkdtemp(prefix="int8bench-")
    corpus.select("vec_id", "embedding").write.mode("overwrite").parquet(
        f"{tmp}/f64"
    )
    codes.write.mode("overwrite").parquet(f"{tmp}/int8")
    sizes = {"f64_bytes": dir_bytes(f"{tmp}/f64"),
             "int8_bytes": dir_bytes(f"{tmp}/int8")}
    shutil.rmtree(tmp, ignore_errors=True)

    def timed(df):
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    walls = {"f64_gemm": [], "int8_scan": [], "int8_rerank": []}
    for _ in range(3):  # interleaved, min per config
        walls["f64_gemm"].append(round(timed(
            embedops.cosine_topk(queries, corpus, k=10, kernel="gemm")), 2))
        walls["int8_scan"].append(round(timed(
            quantize.cosine_topk_int8(queries, codes, k=10)), 2))
        walls["int8_rerank"].append(round(timed(
            quantize.cosine_topk_int8(
                queries, codes, k=10, rerank_corpus=corpus)), 2))
    exact = embedops.cosine_topk(queries, corpus, k=10, kernel="gemm").persist()
    exact.count()
    rec_scan = embedops.ann_recall(
        exact, quantize.cosine_topk_int8(queries, codes, k=10))
    rec_rerank = embedops.ann_recall(
        exact,
        quantize.cosine_topk_int8(queries, codes, k=10, rerank_corpus=corpus))
    print(json.dumps({
        "part": "int8", "n_corpus": 1_000_000, "n_queries": 32, "k": 10,
        "quantize_wall_s": round(quant_wall, 2), **sizes,
        "bytes_ratio": round(sizes["f64_bytes"] / sizes["int8_bytes"], 2),
        **{k: {"runs": v, "min": min(v)} for k, v in walls.items()},
        "recall_code_scan": round(rec_scan, 4),
        "recall_rerank": round(rec_rerank, 4),
    }))
    spark.stop()


def part_ivf_sq8() -> None:
    """Float IVF vs IVF-SQ8 at 1M x 64, 200 queries, auto centroids (1000),
    n_probe=4: wall (interleaved min-of-2), recall@5 vs exact, and the
    candidate-join payload both plans move (4k candidates/query x 200)."""
    from pyspark.sql import functions as F

    from engine import embedops, quantize

    spark = _spark("bench-ivf-sq8")
    corpus = _vectors(spark, 1_000_000).persist()
    corpus.count()
    queries = corpus.filter("vec_id < 200").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = embedops.cosine_topk(queries, corpus, k=5, kernel="gemm").persist()
    exact.count()

    def timed(df):
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    walls = {"ivf_float_gemm": [], "ivf_sq8_rerank": [], "ivf_sq8_codes": []}
    for _ in range(2):
        walls["ivf_float_gemm"].append(round(timed(embedops.ivf_ann_topk(
            queries, corpus, k=5, n_probe=4, kernel="gemm")), 2))
        walls["ivf_sq8_rerank"].append(round(timed(quantize.ivf_ann_topk_int8(
            queries, corpus, k=5, n_probe=4, rerank=True)), 2))
        walls["ivf_sq8_codes"].append(round(timed(quantize.ivf_ann_topk_int8(
            queries, corpus, k=5, n_probe=4, rerank=False)), 2))
    recalls = {
        "recall_ivf_float": round(embedops.ann_recall(
            exact, embedops.ivf_ann_topk(
                queries, corpus, k=5, n_probe=4, kernel="gemm")), 4),
        "recall_ivf_sq8_rerank": round(embedops.ann_recall(
            exact, quantize.ivf_ann_topk_int8(
                queries, corpus, k=5, n_probe=4, rerank=True)), 4),
        "recall_ivf_sq8_codes": round(embedops.ann_recall(
            exact, quantize.ivf_ann_topk_int8(
                queries, corpus, k=5, n_probe=4, rerank=False)), 4),
    }
    n_cand = 200 * 4 * 1_000_000 // 1000  # queries x probe x corpus/centroids
    print(json.dumps({
        "part": "ivf_sq8", "n_corpus": 1_000_000, "n_queries": 200,
        "n_centroids": 1000, "n_probe": 4, "k": 5,
        **{k: {"runs": v, "min": min(v)} for k, v in walls.items()},
        **recalls,
        "cand_rows": n_cand,
        "cand_payload_float_mb": round(n_cand * 512 / 1e6, 1),
        "cand_payload_int8_mb": round(n_cand * 64 / 1e6, 1),
    }))
    spark.stop()


def part_graph() -> None:
    """Connected components at scale: 2M nodes in 31 250 chain-of-64 components
    plus one pseudo-random intra-component edge per node (~4M raw edges). The
    chain structure forces the logarithmic star contraction (naive min-label
    propagation would need 64 rounds; large-star/small-star needs ~5). Every
    label is verified against the known component minimum — an at-scale
    correctness check, not just a timing. Runs at local[32] and local[8] for
    the operator's own scaling data point."""
    import json as _json

    from pyspark.sql import functions as F

    from engine import graph
    from engine.session import get_spark

    N = int(os.environ.get("GRAPH_BENCH_NODES", "16000000"))
    SIZE = 64
    out = {"n_nodes": N, "component_size": SIZE}
    for cores in (32, 8):
        spark = get_spark(f"bench-graph-{cores}", cores=cores,
                          shuffle_partitions=max(cores, 32),
                          driver_mem="24g")
        base = spark.range(0, N, 1, 64)
        comp0 = F.col("id") - F.pmod(F.col("id"), F.lit(SIZE))
        chain = base.filter(F.pmod(F.col("id") + 1, F.lit(SIZE)) != 0).select(
            F.col("id").alias("u"), (F.col("id") + 1).alias("v")
        )
        extra = base.select(
            F.col("id").alias("u"),
            (comp0 + F.pmod(F.xxhash64("id"), F.lit(SIZE))).alias("v"),
        )
        edges = chain.union(extra)
        t0 = time.time()
        labels = graph.connected_components(edges)
        bad = labels.filter(
            F.col("comp") != F.col("id") - F.pmod(F.col("id"), F.lit(SIZE))
        ).count()
        n_labeled = labels.count()
        wall = round(time.time() - t0, 2)
        out[f"local{cores}"] = {
            "wall_s": wall, "rounds": graph.LAST_ROUNDS,
            "labels": n_labeled, "bad_labels": bad,
        }
        spark.stop()
    print(_json.dumps(out))


def part_tilecut() -> None:
    """Tile-cut family at scale, local[32]: (a) tile_bundle over 16M skewed
    points (10% of keys collapse onto one hot phash -> one megacity tile),
    plain vs salted plan, asserting identical per-tile totals; (b) tile_mosaic
    over 200k real-byte images; (c) line_clip_to_tiles over 100k polylines
    (~1.2M segments)."""
    import json as _json

    from pyspark.sql import functions as F

    from engine import cells, clip, multimodal, synth
    from engine.tiles import tile_bundle

    out = {}
    spark = _spark("bench-tilecut")

    # (a) bundle: 16M points, res-7 tiles, cap 64
    N = int(os.environ.get("TILECUT_BENCH_POINTS", "16000000"))
    pts = synth.images_df(spark, N, hot_frac=0.1).select(
        cells.grid_encode_phash(F.col("phash"), 7).alias("tile_id"),
        F.col("image_id").alias("id"),
    ).persist()
    pts.count()
    for label, salt in (("plain", None), ("salted", 32)):
        t0 = time.time()
        res = tile_bundle(pts, cap=64, salt_buckets=salt)
        agg = res.agg(
            F.count("*").alias("tiles"),
            F.sum("n_total").alias("total"),
            F.max("n_total").alias("hot"),
        ).collect()[0]
        out[f"bundle_{label}"] = {
            "wall_s": round(time.time() - t0, 2),
            "tiles": agg["tiles"], "total": agg["total"],
            "hottest_tile_rows": agg["hot"],
        }
    assert out["bundle_plain"]["total"] == out["bundle_salted"]["total"] == N
    assert out["bundle_plain"]["tiles"] == out["bundle_salted"]["tiles"]
    pts.unpersist()

    # (b) mosaic: 200k images with real binary payloads, grid 4 x thumb 16
    imgs = synth.images_df(spark, 200_000, with_bytes=True).withColumn(
        "tile_id", cells.grid_encode_phash(F.col("phash"), 6)
    ).persist()
    n_img = imgs.count()
    t0 = time.time()
    mos = multimodal.tile_mosaic(imgs, grid=4, thumb=16)
    m = mos.agg(F.count("*").alias("tiles"), F.sum("n_errors").alias("errs")).collect()[0]
    wall = time.time() - t0
    out["mosaic"] = {
        "wall_s": round(wall, 2), "images": n_img, "tiles": m["tiles"],
        "errors": m["errs"], "images_per_sec": round(n_img / wall),
    }
    imgs.unpersist()

    # (c) clip: 100k walks x ~12 segments against a unit-degree tile lattice
    n_lines = 100_000
    base = spark.range(0, n_lines, 1, 64)
    mk = F.transform(
        F.sequence(F.lit(0), F.lit(12)),
        lambda i: F.struct(
            (
                (F.pmod(F.xxhash64(F.col("id"), i), F.lit(360000)) / 1000.0) - 180.0
            ).alias("x"),
            (
                (F.pmod(F.xxhash64(F.col("id"), i, F.lit(1)), F.lit(170000)) / 1000.0)
                - 85.0
            ).alias("y"),
        ),
    )
    walks = base.select(F.col("id").alias("line_id"), mk.alias("pts")).persist()
    walks.count()
    t0 = time.time()
    cl = clip.line_clip_to_tiles(walks, tile_size=8.0)
    n_pieces = cl.count()
    wall = time.time() - t0
    out["clip"] = {
        "wall_s": round(wall, 2), "lines": n_lines, "pieces": n_pieces,
        "segments_per_sec": round(n_lines * 12 / wall),
    }
    walks.unpersist()
    spark.stop()
    print(_json.dumps(out))


def part_phash() -> None:
    """phash near-dup clustering at scale, local[32]: 16M images, 10% of rows
    collapsed onto hot phashes (the meme regime). The point under test is the
    distinct-code discipline: the pair join and CC run over ~14M DISTINCT
    codes no matter how many rows share them, and every image gets a cluster
    via one map-side-free equi-join. Asserts: every row labeled once; images
    sharing a phash share a cluster (cluster count == distinct-code count
    minus merged near-dups)."""
    import json as _json

    from pyspark.sql import functions as F

    from engine import cells, imagesim

    out = {}
    spark = _spark("bench-phash")
    n = int(os.environ.get("PHASH_BENCH_ROWS", "16000000"))
    # planted duplicates: 4 rows per base code — copy 0/3 exact, copy 1 one
    # bit flipped, copy 2 two bits flipped (all within max_hamming=2, so each
    # base collapses to ONE cluster); ~n/4 distinct-ish codes, n rows
    base_n = n // 4
    key = F.col("id")
    b = key % base_n          # base index: copies live at b + j*base_n
    variant = (key / base_n).cast("long")
    base_code = cells.synth_phash(b)
    bit1 = F.expr("shiftleft(1L, cast(id % {bn} as int) % 61)".format(bn=base_n))
    bit2 = F.expr(
        "shiftleft(1L, cast((id % {bn}) * 7 % 61 as int) + 1)".format(bn=base_n)
    )
    code = (
        F.when(variant == 1, base_code.bitwiseXOR(bit1))
        .when(variant == 2, base_code.bitwiseXOR(bit1).bitwiseXOR(bit2))
        .otherwise(base_code)
    )
    imgs = (
        spark.range(0, n, 1, 64)
        .select(F.col("id").alias("image_id"), code.alias("phash"))
        .persist()
    )
    imgs.count()
    t0 = time.time()
    cl = imagesim.phash_dedup_clusters(imgs, max_hamming=2).persist()
    n_rows = cl.count()
    wall = time.time() - t0
    agg = cl.agg(
        F.countDistinct("cluster_id").alias("clusters"),
        F.countDistinct("phash").alias("codes"),
    ).collect()[0]
    biggest = (
        cl.groupBy("cluster_id").count().agg(F.max("count")).collect()[0][0]
    )
    assert n_rows == n
    assert agg["clusters"] <= agg["codes"]
    assert biggest >= 4  # the planted 4-copy groups actually merged
    out["phash_cluster"] = {
        "wall_s": round(wall, 2), "rows": n, "distinct_codes": agg["codes"],
        "clusters": agg["clusters"], "biggest_cluster": biggest,
        "rows_per_sec": round(n / wall),
    }
    cl.unpersist(); imgs.unpersist()
    spark.stop()
    print(_json.dumps(out))


def part_traj() -> None:
    """Trajectory ops at scale, local[32]: 16M fixes over 100k entities (160
    points each, ~1 trip per ~8 points via gap mixture). One entity-key
    shuffle drives lag + trip windows + the per-trip aggregate."""
    import json as _json

    from pyspark.sql import functions as F

    from engine import trajectory

    out = {}
    spark = _spark("bench-traj")
    n = int(os.environ.get("TRAJ_BENCH_ROWS", "16000000"))
    n_ent = n // 160
    key = F.col("id")
    # per-entity monotone ts: base + cumulative-ish gaps from the key hash
    # (each point's offset grows with its sequence index; every ~8th gap is
    # > the 30-min split threshold)
    # 5-min cadence with a 90-min bump every 16th point: exactly 10 trips
    # per entity at the 30-min threshold (seq 0 starts; splits at 16,32..144)
    seq = key % 160
    ts = (seq * 5 + (seq / 16).cast("long") * 90).cast("long") * 60_000_000
    fixes = spark.range(0, n, 1, 64).select(
        (key / 160).cast("long").alias("entity_id"),
        ts.alias("ts_us"),
        ((F.pmod(F.xxhash64(key, F.lit(1)), 360000)) / 1000.0 - 180.0).alias("lon"),
        ((F.pmod(F.xxhash64(key, F.lit(2)), 170000)) / 1000.0 - 85.0).alias("lat"),
    ).persist()
    fixes.count()
    t0 = time.time()
    trips = trajectory.trip_segments(fixes, gap_minutes=30.0)
    agg = trips.agg(
        F.count("*").alias("trips"),
        F.sum("n_points").alias("pts"),
        F.sum("length_mm").alias("mm"),
    ).collect()[0]
    wall = time.time() - t0
    assert agg["pts"] == n
    assert agg["trips"] == 10 * n_ent  # the planted trip structure, exactly
    out["trips"] = {
        "wall_s": round(wall, 2), "fixes": n, "entities": n_ent,
        "trips": agg["trips"], "total_km": round(agg["mm"] / 1e9),
        "fixes_per_sec": round(n / wall),
    }
    t0 = time.time()
    eps = trajectory.dwell_episodes(fixes, speed_mps_max=200.0,
                                    min_duration_minutes=30.0)
    n_eps = eps.count()
    wall = time.time() - t0
    out["dwells"] = {"wall_s": round(wall, 2), "episodes": n_eps,
                     "fixes_per_sec": round(n / wall)}
    t0 = time.time()
    kin = trajectory.kinematics(fixes)
    kagg = kin.agg(
        F.count("*").alias("rows"),
        F.sum(F.col("speed_mmps").isNull().cast("long")).alias("null_speed"),
        F.sum((F.col("speed_mmps") < 0).cast("long")).alias("neg_speed"),
        F.sum("speed_mmps").alias("speed_sum"),
        F.countDistinct("sector").alias("sectors"),
    ).collect()[0]
    wall = time.time() - t0
    # strictly increasing per-entity ts -> speed defined everywhere except
    # each entity's first fix; floor-div speeds are never negative
    assert kagg["rows"] == n and kagg["null_speed"] == n_ent
    assert kagg["neg_speed"] == 0 and kagg["sectors"] == 8
    out["kinematics"] = {"wall_s": round(wall, 2), "fixes": n,
                         "fixes_per_sec": round(n / wall)}
    fixes.unpersist()
    spark.stop()
    print(_json.dumps(out))


def part_focal() -> None:
    """Focal + pyramid at raster scale, local[32]: 16M points rasterized
    onto a 64x64-tile grid at res=64 (4096 tiles x 4096 px ~= 16.8M cells,
    ~1 pt/px), then the halo focal_sum (r=1 and r=2) and a 3-level
    pyramid_sum. Min-of-2 per radius; both runs must give one checksum."""
    import json as _json

    from pyspark.sql import functions as F

    from engine import focal, pyramid, raster

    out = {}
    spark = _spark("bench-focal")
    n = int(os.environ.get("FOCAL_BENCH_ROWS", "16000000"))
    pts = spark.range(0, n, 1, 64).select(
        (F.pmod(F.xxhash64("id", F.lit(1)), 4096000) / 1000.0).alias("x"),
        (F.pmod(F.xxhash64("id", F.lit(2)), 4096000) / 1000.0).alias("y"),
    )
    tiles = raster.heatmap_tiles(pts, tile_size=64.0, res=64).persist()
    n_tiles = tiles.count()
    out["tiles"] = {"n_tiles": n_tiles, "points": n}

    def run(radius):
        t0 = time.time()
        got = focal.focal_sum(tiles, 64, radius=radius)
        s = got.agg(F.sum(F.aggregate(
            "focal", F.lit(0).cast("long"), lambda a, v: a + v
        )).alias("s")).collect()[0]["s"]
        return time.time() - t0, s

    for radius in (1, 2):
        walls, sums = [], set()
        for _ in range(2):
            w, s = run(radius)
            walls.append(round(w, 2))
            sums.add(s)
        assert len(sums) == 1, sums  # repeat runs are exact
        out[f"focal_r{radius}"] = {
            "halo_walls": walls,
            "halo_min": min(walls),
            "checksum": next(iter(sums)),
        }
    t0 = time.time()
    lv = (
        pyramid.pyramid_sum(tiles, 64, levels=3)
        .groupBy("level")
        .agg(
            F.count("*").alias("tiles"),
            F.sum(F.aggregate(
                "counts", F.lit(0).cast("long"), lambda a, v: a + v
            )).alias("mass"),
        )
        .collect()
    )
    wall = time.time() - t0
    masses = {r["level"]: r["mass"] for r in lv}
    assert set(masses.values()) == {n}, masses  # conservation at every level
    out["pyramid_3lv"] = {
        "wall_s": round(wall, 2),
        "tiles_per_level": {r["level"]: r["tiles"] for r in lv},
    }
    tiles.unpersist()
    spark.stop()
    print(_json.dumps(out))


def part_hotspot() -> None:
    """Focal ANALYTICS at raster scale (the halo plan; part_focal times
    focal_sum itself): 16M points -> 16.8M-cell raster, then Gi*
    z-scores, sparse hot-cell extraction, global Moran's I, and a Sobel-x
    stencil. Single clean-window run each; structural asserts on every
    output."""
    import json as _json

    from pyspark.sql import functions as F

    from engine import focal, raster

    out = {}
    spark = _spark("bench-hotspot")
    n = int(os.environ.get("FOCAL_BENCH_ROWS", "16000000"))
    pts = spark.range(0, n, 1, 64).select(
        (F.pmod(F.xxhash64("id", F.lit(1)), 4096000) / 1000.0).alias("x"),
        (F.pmod(F.xxhash64("id", F.lit(2)), 4096000) / 1000.0).alias("y"),
    )
    tiles = raster.heatmap_tiles(pts, tile_size=64.0, res=64).persist()
    n_tiles = tiles.count()
    out["tiles"] = {"n_tiles": n_tiles, "points": n}

    t0 = time.time()
    zs = focal.gi_star(tiles, 64, radius=1)
    stats = zs.select(F.explode("z").alias("z")).agg(
        F.count("*").alias("cells"),
        F.sum((F.col("z") >= 2.576).cast("long")).alias("hot"),
    ).collect()[0]
    out["gi_star"] = {
        "wall_s": round(time.time() - t0, 2),
        "cells": stats["cells"], "hot_99pct": stats["hot"],
        "cells_per_sec": round(stats["cells"] / (time.time() - t0)),
    }
    assert stats["cells"] == n_tiles * 64 * 64

    t0 = time.time()
    n_hot = focal.hot_cells(tiles, 64, radius=1, z_min=2.576).count()
    out["hot_cells"] = {"wall_s": round(time.time() - t0, 2), "rows": n_hot}
    assert n_hot == stats["hot"]

    t0 = time.time()
    (mi,) = focal.morans_i(tiles, 64, radius=1).collect()
    out["morans_i"] = {
        "wall_s": round(time.time() - t0, 2),
        "n_cells": mi["n_cells"], "moran_i": round(mi["moran_i"], 6),
    }
    assert mi["n_cells"] == n_tiles * 64 * 64

    sobel_x = {(-1, -1): -1, (1, -1): 1, (-1, 0): -2, (1, 0): 2,
               (-1, 1): -1, (1, 1): 1}
    t0 = time.time()
    g = focal.focal_stencil(tiles, 64, sobel_x)
    tot = g.agg(F.sum(F.aggregate(
        "focal", F.lit(0).cast("long"), lambda a, v: a + v
    )).alias("s")).collect()[0]["s"]
    out["sobel_x"] = {"wall_s": round(time.time() - t0, 2),
                      "gradient_mass": tot}
    tiles.unpersist()
    spark.stop()
    print(_json.dumps(out))


def part_emerging() -> None:
    """Emerging hotspot analysis at scale, local[32]: 16M events on a
    512x512-cell / 32-bin space-time cube (8.4M dense cube rows), with a
    planted 3x3 block whose intensity ramps linearly over the bins — it
    must classify 'intensifying' with MK S near the maximum."""
    import json as _json

    from pyspark.sql import functions as F

    from engine import spacetime

    out = {}
    spark = _spark("bench-emerging")
    n = int(os.environ.get("EMERGE_BENCH_ROWS", "16000000"))
    n_bins, side = 32, 512
    bin_us = 1_000_000_000
    key = F.col("id")
    base = spark.range(0, n, 1, 64).select(
        (F.pmod(F.xxhash64(key, F.lit(1)), n_bins) * bin_us + 500).alias("ts_us"),
        (F.pmod(F.xxhash64(key, F.lit(2)), side * 1000) / 1000.0).alias("x"),
        (F.pmod(F.xxhash64(key, F.lit(3)), side * 1000) / 1000.0).alias("y"),
    )
    # planted riser: bin b adds 400*b events spread over the 3x3 block at
    # (100..102, 100..102) -> ~100 sigma above the ~1.9/cell/bin background
    # planted ids: bin b owns ids [200*b*(b-1), 200*b*(b+1)) -> 400*b events;
    # invert the triangular cumulative with b = floor((1+sqrt(1+4k))/2),
    # k = id/200 (exact at these magnitudes)
    planted = spark.range(0, 200 * n_bins * (n_bins - 1), 1, 8)
    pid = F.col("id")
    tri = F.floor((F.lit(1.0) + F.sqrt(F.lit(1.0) + 4.0 * (pid / 200))) / 2.0)
    planted = planted.select(
        (tri * bin_us + 500).cast("long").alias("ts_us"),
        (F.lit(100.0) + F.pmod(pid, 3) + 0.5).alias("x"),
        (F.lit(100.0) + F.pmod((pid / 3).cast("long"), 3) + 0.5).alias("y"),
    )
    events = base.unionByName(planted).persist()
    n_total = events.count()
    t0 = time.time()
    res = spacetime.emerging_hotspots(events, 1.0, bin_us).persist()
    agg = res.agg(
        F.count("*").alias("cells"),
        F.sum("n_events").alias("ev"),
        F.max("n_bins").alias("bins"),
        F.sum((F.col("category") == "intensifying").cast("long")).alias("ints"),
    ).collect()[0]
    wall = time.time() - t0
    (center,) = res.filter(
        (F.col("gx") == 101) & (F.col("gy") == 101)
    ).collect()
    assert agg["ev"] == n_total and agg["bins"] == n_bins
    assert center["category"] == "intensifying", center
    out["emerging"] = {
        "wall_s": round(wall, 2), "events": n_total, "cube_cells": agg["cells"],
        "bins": agg["bins"], "events_per_sec": round(n_total / wall),
        "intensifying_cells": agg["ints"],
        "center_mk_s": center["mk_s"],
        "center_mk_z": round(center["mk_z"], 2),
    }
    res.unpersist()
    events.unpersist()
    spark.stop()
    print(_json.dumps(out))


def part_hull() -> None:
    """Distributed convex hull at scale, local[32]: 16M points in 1000
    groups, each uniform over its own unit box — every group's hull area
    must approach 1.0 from below (16k uniform points leave ~O(log n / n)
    boundary slack) and the pre-hull shuffle moves only hull-sized sets."""
    import json as _json

    from pyspark.sql import functions as F

    from engine import geomfns

    out = {}
    spark = _spark("bench-hull")
    n = int(os.environ.get("HULL_BENCH_ROWS", "16000000"))
    g = F.pmod(F.col("id"), 1000)
    pts = spark.range(0, n, 1, 64).select(
        g.alias("group_id"),
        (g * 2 + F.pmod(F.xxhash64("id", F.lit(1)), 1000000) / 1000000.0)
        .alias("x"),
        (F.pmod(F.xxhash64("id", F.lit(2)), 1000000) / 1000000.0).alias("y"),
    ).persist()
    pts.count()
    t0 = time.time()
    hulls = geomfns.convex_hull(pts).persist()
    agg = hulls.agg(
        F.count("*").alias("groups"),
        F.min("hull_area").alias("amin"),
        F.max("hull_area").alias("amax"),
        F.max("n_hull").alias("max_hull"),
    ).collect()[0]
    wall = time.time() - t0
    assert agg["groups"] == 1000
    assert 0.95 <= agg["amin"] and agg["amax"] <= 1.0, agg
    out["hull"] = {
        "wall_s": round(wall, 2), "points": n, "groups": 1000,
        "points_per_sec": round(n / wall),
        "area_min": round(agg["amin"], 4), "area_max": round(agg["amax"], 4),
        "max_hull_vertices": agg["max_hull"],
    }
    hulls.unpersist()
    pts.unpersist()
    spark.stop()
    print(_json.dumps(out))


def part_coloc() -> None:
    """Co-location at scale, local[32]: 16M background fixes over a 1e6 x
    1e6 plane / 32 time bins (sparse enough that background meetings are
    incidental) + 1000 planted entity pairs with 10 same-time co-fixes each.
    Every planted pair must be recovered with n_meetings >= 10."""
    import json as _json

    from pyspark.sql import functions as F

    from engine import trajectory

    out = {}
    spark = _spark("bench-coloc")
    n = int(os.environ.get("COLOC_BENCH_ROWS", "16000000"))
    gap_us = 1_000_000_000
    key = F.col("id")
    base = spark.range(0, n, 1, 64).select(
        (F.pmod(key, 100000) + 10000).alias("entity_id"),  # ids >= 10000
        (F.pmod(F.xxhash64(key, F.lit(1)), 32) * gap_us + 500).alias("ts_us"),
        (F.pmod(F.xxhash64(key, F.lit(2)), 1000000000) / 1000.0).alias("x"),
        (F.pmod(F.xxhash64(key, F.lit(3)), 1000000000) / 1000.0).alias("y"),
    )
    # planted: entities (2i, 2i+1), i < 1000, meet 10 times at distinct spots
    pl = spark.range(0, 20000, 1, 8)
    pid = F.col("id")
    pair = (pid / 20).cast("long")          # 0..999
    k = F.pmod(pid, 20)                      # 20 fixes: 10 per entity
    planted = pl.select(
        (pair * 2 + F.pmod(k, 2)).alias("entity_id"),
        (F.pmod(k / 2, 10).cast("long") * gap_us + 700).alias("ts_us"),
        (pair * 900.0 + (k / 2).cast("long") * 37.0).alias("x"),
        (F.pmod(k, 2) * 1.5).cast("double").alias("y"),
    )
    fixes = base.unionByName(planted).persist()
    n_total = fixes.count()
    t0 = time.time()
    pairs = trajectory.colocation_pairs(fixes, 5.0, gap_us).persist()
    found = pairs.filter(
        (F.col("entity_a") < 2000) & (F.col("entity_b") < 2000)
    )
    planted_ok = found.filter(
        (F.col("entity_b") == F.col("entity_a") + 1)
        & (F.pmod(F.col("entity_a"), 2) == 0)
        & (F.col("n_meetings") >= 10)
    ).count()
    n_pairs = pairs.count()
    wall = time.time() - t0
    assert planted_ok == 1000, planted_ok
    out["coloc"] = {
        "wall_s": round(wall, 2), "fixes": n_total,
        "pairs_found": n_pairs, "planted_recovered": planted_ok,
        "fixes_per_sec": round(n_total / wall),
    }
    pairs.unpersist()
    fixes.unpersist()
    spark.stop()
    print(_json.dumps(out))


def part_routing() -> None:
    """Network routing at scale, local[32], two regimes, both with exact
    verification:

    1. SSSP over a ring+chords small-world graph (1M nodes, 8M edges,
       weights 1..10, 4 sources): wavefront covers the whole graph in
       ~O(log n) rounds — the throughput regime. Verified by exact
       (count, sum dist, sum hops) equality with a driver-side
       lexicographic Dijkstra for one source.
    2. Isochrone on a unit-weight 2048x2048 grid (4.2M nodes, 8.4M edges),
       source at center, max_dist=64: the bounded-query regime (64 tiny
       ring frontiers — measures per-round overhead). Closed-form diamond
       check: count = 2D^2+2D+1, sum dist = 4*sum k^2.
    """
    import heapq
    import json as _json

    from pyspark.sql import functions as F

    from engine import routing

    out = {}
    spark = _spark("bench-routing")

    # --- regime 1: small-world SSSP ---
    n = int(os.environ.get("ROUTE_BENCH_NODES", "1000000"))
    m_chords = 7 * n
    ring = spark.range(0, n, 1, 64).select(
        F.col("id").alias("src"),
        F.pmod(F.col("id") + 1, n).alias("dst"),
        (F.pmod(F.xxhash64("id", F.lit(1)), 10) + 1).alias("w"),
    )
    chords = spark.range(0, m_chords, 1, 64).select(
        F.pmod(F.xxhash64("id", F.lit(2)), n).alias("src"),
        F.pmod(F.xxhash64("id", F.lit(3)), n).alias("dst"),
        (F.pmod(F.xxhash64("id", F.lit(4)), 10) + 1).alias("w"),
    )
    edges = ring.unionByName(chords).persist()
    n_edges = edges.count()
    sources = spark.createDataFrame(
        [(i, i * 1000) for i in range(4)], ["source_id", "node"]
    )
    t0 = time.time()
    d = routing.shortest_paths(edges, sources).persist()
    got = (
        d.filter(F.col("source_id") == 0)
        .agg(
            F.count("*").alias("cnt"),
            F.sum("dist").alias("sd"),
            F.sum("hops").alias("sh"),
        )
        .collect()[0]
    )
    n_labels = d.count()
    wall = time.time() - t0
    rounds = routing.LAST_ROUNDS

    # driver oracle for source 0 (exact lexicographic Dijkstra)
    t1 = time.time()
    ep = edges.toPandas()
    adj = {}
    for u, v, w in zip(
        ep["src"].to_numpy(), ep["dst"].to_numpy(), ep["w"].to_numpy()
    ):
        adj.setdefault(int(u), []).append((int(v), int(w)))
        adj.setdefault(int(v), []).append((int(u), int(w)))
    best = {0: (0, 0)}
    pq = [(0, 0, 0)]
    while pq:
        dd, hh, x = heapq.heappop(pq)
        if best.get(x) != (dd, hh):
            continue
        for y, ww in adj.get(x, []):
            nd, nh = dd + ww, hh + 1
            if y not in best or (nd, nh) < best[y]:
                best[y] = (nd, nh)
                heapq.heappush(pq, (nd, nh, y))
    oracle_wall = time.time() - t1
    assert got["cnt"] == len(best), (got["cnt"], len(best))
    assert got["sd"] == sum(v[0] for v in best.values())
    assert got["sh"] == sum(v[1] for v in best.values())
    out["sssp"] = {
        "nodes": n, "edges": n_edges, "sources": 4, "rounds": rounds,
        "labels": n_labels, "wall_s": round(wall, 2),
        "labels_per_sec": round(n_labels / wall),
        "driver_dijkstra_oracle_s": round(oracle_wall, 2),
        "oracle_match": True,
    }
    d.unpersist()

    # --- regime 1b (r5): single-pair BIDIRECTIONAL point-to-point on the
    # same 1M-node graph — the latency shape. Exactness from the driver
    # Dijkstra already computed above; the claim is round count << the
    # unidirectional SSSP's (meet-in-the-middle + mu-pruning).
    p2p_rows = []
    for tgt in (n // 2, n - 7, 123_457):
        t2 = time.time()
        got_p = routing.point_to_point(edges, 0, int(tgt)).collect()
        wall_p = time.time() - t2
        want = best.get(int(tgt))
        assert want is not None and len(got_p) == 1, (tgt, want, got_p)
        assert (got_p[0]["dist"], got_p[0]["hops"]) == want, (tgt, want, got_p)
        p2p_rows.append(
            {"target": int(tgt), "dist": want[0], "hops": want[1],
             "rounds": routing.LAST_ROUNDS, "wall_s": round(wall_p, 2)}
        )
    out["p2p"] = {
        "pairs": p2p_rows,
        "uni_rounds": rounds,
        "max_bi_rounds": max(r["rounds"] for r in p2p_rows),
        "oracle_match": True,
    }
    assert out["p2p"]["max_bi_rounds"] < rounds, out["p2p"]
    edges.unpersist()

    # --- regime 2: grid isochrone ---
    side = int(os.environ.get("ROUTE_BENCH_SIDE", "2048"))
    dmax = 64
    ids = spark.range(0, side * side, 1, 64)
    x = (F.col("id") / side).cast("long")
    y = F.pmod(F.col("id"), side)
    right = ids.filter(x < side - 1).select(
        F.col("id").alias("src"), (F.col("id") + side).alias("dst"), F.lit(1).alias("w")
    )
    up = ids.filter(y < side - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst"), F.lit(1).alias("w")
    )
    grid = right.unionByName(up).persist()
    ge = grid.count()
    c = side // 2
    src = spark.createDataFrame([(0, c * side + c)], ["source_id", "node"])
    t0 = time.time()
    iso = routing.shortest_paths(grid, src, max_dist=dmax, max_rounds=dmax + 2).agg(
        F.count("*").alias("cnt"), F.sum("dist").alias("sd")
    ).collect()[0]
    wall_iso = time.time() - t0
    assert iso["cnt"] == 2 * dmax * dmax + 2 * dmax + 1, iso["cnt"]
    assert iso["sd"] == 4 * sum(k * k for k in range(1, dmax + 1))
    out["isochrone"] = {
        "grid": f"{side}x{side}", "edges": ge, "max_dist": dmax,
        "rounds": routing.LAST_ROUNDS, "reached": iso["cnt"],
        "wall_s": round(wall_iso, 2),
        "sec_per_round": round(wall_iso / routing.LAST_ROUNDS, 3),
    }

    # the round cost amortizes across sources: 128 far-apart centers (each
    # diamond independent: spacing 256 > 2*64) through the SAME rounds
    k = 12  # 12x12 = 144 candidate centers; keep 128
    spacing = side // k
    centers = [
        (i, (spacing // 2 + (i % k) * spacing) * side
            + (spacing // 2 + (i // k) * spacing))
        for i in range(128)
    ]
    srcs = spark.createDataFrame(centers, ["source_id", "node"])
    t0 = time.time()
    iso2 = routing.shortest_paths(
        grid, srcs, max_dist=dmax, max_rounds=dmax + 2
    ).agg(F.count("*").alias("cnt"), F.sum("dist").alias("sd")).collect()[0]
    wall2 = time.time() - t0
    assert iso2["cnt"] == 128 * (2 * dmax * dmax + 2 * dmax + 1), iso2["cnt"]
    assert iso2["sd"] == 128 * 4 * sum(k2 * k2 for k2 in range(1, dmax + 1))
    out["isochrone_128src"] = {
        "sources": 128, "rounds": routing.LAST_ROUNDS,
        "reached": iso2["cnt"], "wall_s": round(wall2, 2),
        "speedup_vs_serial": round(128 * wall_iso / wall2, 1),
    }
    grid.unpersist()
    spark.stop()
    print(_json.dumps(out))


def part_nms() -> None:
    """Detection-box NMS at scale, local[32], both operators with planted
    structure:

    1. per-image NMS: 16M boxes over 160k images (100 boxes each: 20
       planted 5-box stacks per image, every stack collapses to its best
       box) -> exactly 20 survivors/image.
    2. global map-space NMS: 8M boxes as 1.6M well-separated 5-box clusters
       -> exactly 1.6M survivors, each its cluster's top score.
    """
    import json as _json

    from pyspark.sql import functions as F

    from engine import nms

    out = {}
    spark = _spark("bench-nms")

    # --- regime 1: per-image NMS ---
    n = int(os.environ.get("NMS_BENCH_ROWS", "16000000"))
    ids = spark.range(0, n, 1, 64)
    img = (F.col("id") / 100).cast("long")          # 160k images x 100 boxes
    stack = F.pmod((F.col("id") / 5).cast("long"), 20)  # 20 stacks/image
    j = F.pmod(F.col("id"), 5)                      # 5 boxes per stack
    x0 = stack * 100.0 + j * 0.5                    # stacks 100 apart; worst
    y0 = j * 0.5                                    # intra-stack IoU 18^2/476=0.68
    dets = ids.select(
        img.alias("image_id"),
        F.col("id").alias("box_id"),
        x0.alias("x0"), y0.alias("y0"),
        (x0 + 20.0).alias("x1"), (y0 + 20.0).alias("y1"),
        (0.5 + 0.01 * j.cast("double")).alias("score"),
        F.lit(0).alias("cls"),
    ).persist()
    n_boxes = dets.count()
    t0 = time.time()
    surv = nms.nms_boxes(dets, iou_threshold=0.5)
    agg = surv.agg(
        F.count("*").alias("kept"),
        F.sum(F.pmod(F.col("box_id"), 5)).alias("jsum"),
    ).collect()[0]
    wall = time.time() - t0
    n_img = n // 100
    assert agg["kept"] == 20 * n_img, agg["kept"]       # 20 survivors/image
    assert agg["jsum"] == 4 * 20 * n_img, agg["jsum"]   # each is its stack's j=4
    out["per_image"] = {
        "boxes": n_boxes, "images": n_img, "survivors": agg["kept"],
        "wall_s": round(wall, 2), "boxes_per_sec": round(n_boxes / wall),
    }
    dets.unpersist()

    # --- regime 2: global map-space NMS ---
    m = int(os.environ.get("NMS_GLOBAL_ROWS", "8000000"))
    ids = spark.range(0, m, 1, 64)
    cl = (F.col("id") / 5).cast("long")             # 1.6M clusters
    j = F.pmod(F.col("id"), 5)
    # clusters on a 1265x1265 grid of 1000-unit spacing (boxes are 20 wide
    # -> clusters never interact)
    gx = F.pmod(cl, 1265) * 1000.0
    gy = (cl / 1265).cast("long") * 1000.0
    x0 = gx + j * 0.5
    y0 = gy + j * 0.5
    dets = ids.select(
        F.col("id").alias("box_id"),
        x0.alias("x0"), y0.alias("y0"),
        (x0 + 20.0).alias("x1"), (y0 + 20.0).alias("y1"),
        (0.5 + 0.01 * j.cast("double")).alias("score"),
    ).persist()
    m_boxes = dets.count()
    t0 = time.time()
    surv = nms.nms_global(dets, iou_threshold=0.5, cell_size=64.0)
    agg = surv.agg(
        F.count("*").alias("kept"),
        F.sum(F.pmod(F.col("box_id"), 5)).alias("jsum"),
    ).collect()[0]
    wall = time.time() - t0
    n_cl = m // 5
    assert agg["kept"] == n_cl, agg["kept"]
    assert agg["jsum"] == 4 * n_cl, agg["jsum"]
    out["global"] = {
        "boxes": m_boxes, "clusters": n_cl, "survivors": agg["kept"],
        "wall_s": round(wall, 2), "boxes_per_sec": round(m_boxes / wall),
    }
    dets.unpersist()
    spark.stop()
    print(_json.dumps(out))


def part_trajsim() -> None:
    """Trajectory similarity at scale, local[32]: 100k trips x 160 points =
    16M fixes. Trips live in distinct 1000-unit neighborhoods (50k of
    them); each even trip has a jittered twin at id+1 (jitter 0.05 <<
    threshold 2.0), so blocking must surface exactly the 50k twin pairs and
    the kernel must accept every one (planted Hausdorff <= 0.05*sqrt(2))."""
    import json as _json

    from pyspark.sql import functions as F

    from engine import trajsim

    out = {}
    spark = _spark("bench-trajsim")
    n_trips = int(os.environ.get("TRAJSIM_BENCH_TRIPS", "100000"))
    pts_per = 160
    ids = spark.range(0, n_trips * pts_per, 1, 64)
    trip = (F.col("id") / pts_per).cast("long")
    seq = F.pmod(F.col("id"), pts_per)
    pair = (trip / 2).cast("long")              # neighborhood index
    is_twin = F.pmod(trip, 2)                    # 0 = base, 1 = twin
    # random-walk-ish path via hashed step offsets, shared by the pair;
    # twin adds a deterministic jitter < 0.05
    bx = F.pmod(pair, 1000) * 1000.0
    by = (pair / 1000).cast("long") * 1000.0
    step = F.pmod(F.xxhash64(pair, seq), 100) / 100.0
    jit = is_twin * (F.pmod(F.xxhash64(trip, seq), 100) - 50) / 2000.0
    fixes = ids.select(
        trip.alias("trip_id"),
        seq.alias("seq"),
        (bx + seq * 2.0 + step + jit).alias("x"),
        (by + step * 40.0 + jit).alias("y"),
    ).persist()
    n = fixes.count()
    t0 = time.time()
    pairs = trajsim.similar_trips(fixes, threshold=2.0, cell_size=400.0).persist()
    n_pairs = pairs.count()
    twins = pairs.filter(
        (F.col("trip_b") == F.col("trip_a") + 1)
        & (F.pmod(F.col("trip_a"), 2) == 0)
    ).count()
    wall = time.time() - t0
    assert twins == n_trips // 2, (twins, n_trips // 2)
    assert n_pairs == n_trips // 2, n_pairs  # neighborhoods are independent
    out["trajsim"] = {
        "fixes": n, "trips": n_trips, "pairs": n_pairs,
        "planted_twins_recovered": twins, "wall_s": round(wall, 2),
        "fixes_per_sec": round(n / wall),
    }
    pairs.unpersist()
    fixes.unpersist()
    spark.stop()
    print(_json.dumps(out))


def part_geo_misc() -> None:
    """Geofence transitions + IDW at 16M rows, local[32], planted checks:

    - geofence: 100k entities x 160 fixes ping-ponging between two zone
      rects (x alternates 5 <-> 55 every 8 fixes across a zone boundary at
      x=30) -> every entity emits exactly 160/8 enter+exit events for zone
      2 and one enter for zone 1... structure asserted by exact counts.
    - idw: 16M samples on a 4096-cell-wide plane, value = f(cell) constant
      per cell -> every cell's interpolated value equals that constant
      exactly (weighted mean of a constant is the constant, independent of
      weights) — a closed-form full-field check.
    """
    import json as _json

    from pyspark.sql import functions as F

    from engine import interp, trajectory

    out = {}
    spark = _spark("bench-geomisc")
    n = int(os.environ.get("GEOMISC_BENCH_ROWS", "16000000"))

    # --- geofence ---
    ids = spark.range(0, n, 1, 64)
    ent = F.pmod(F.col("id"), 100000)
    k = (F.col("id") / 100000).cast("long")       # 160 fixes per entity
    phase = F.pmod((k / 8).cast("long"), 2)       # flips every 8 fixes
    fixes = ids.select(
        ent.alias("entity_id"),
        k.alias("ts_us"),
        (5.0 + phase * 50.0).alias("x"),          # 5 (zone 1) <-> 55 (zone 2)
        F.lit(10.0).alias("y"),
    )
    rects = [(1, 0.0, 0.0, 30.0, 20.0), (2, 40.0, 0.0, 70.0, 20.0)]
    labeled = fixes.select(
        "entity_id", "ts_us",
        trajectory.rect_zones_expr(rects, "x", "y").alias("zones"),
    )
    t0 = time.time()
    ev = trajectory.geofence_transitions(labeled)
    agg = ev.groupBy("zone", "event").count().collect()
    wall = time.time() - t0
    got = {(r["zone"], r["event"]): r["count"] for r in agg}
    # per entity: 160 fixes, phase 0 for k in [0,8), 1 in [8,16), ... ->
    # 10 enters of each zone, 10 exits of zone 1, 9 of zone 2 (tail open)
    n_ent = 100000
    assert got[(1, "enter")] == 10 * n_ent, got
    assert got[(1, "exit")] == 10 * n_ent, got
    assert got[(2, "enter")] == 10 * n_ent, got
    assert got[(2, "exit")] == 9 * n_ent, got
    out["geofence"] = {
        "fixes": n, "entities": n_ent, "events": sum(got.values()),
        "wall_s": round(wall, 2), "fixes_per_sec": round(n / wall),
    }

    # --- idw ---
    # constant field: the IDW estimate of a constant is the constant for
    # EVERY covered cell regardless of weights (floor-scale rounding bounds
    # the deviation by N/den < 1e-9) — a closed-form full-field check.
    # Every sample lies within 7.08 < 9 of its own cell center, so covered
    # cells >= occupied cells and contributions >= n.
    side = 4096
    cellw = F.pmod(F.xxhash64("id"), side)
    cellh = F.pmod(F.xxhash64("id", F.lit(1)), side)
    samples = spark.range(0, n, 1, 64).select(
        (cellw * 10.0 + F.pmod(F.xxhash64("id", F.lit(2)), 10)).alias("x"),
        (cellh * 10.0 + F.pmod(F.xxhash64("id", F.lit(3)), 10)).alias("y"),
        F.lit(42.0).alias("value"),
    )
    t0 = time.time()
    grid = interp.idw_grid(samples, cell_size=10.0, radius=9.0)
    chk = grid.agg(
        F.count("*").alias("cells"),
        F.sum("n_samples").alias("contrib"),
        F.sum((F.abs(F.col("value") - 42.0) > 1e-6).cast("long")).alias("bad"),
    ).collect()[0]
    wall = time.time() - t0
    assert chk["bad"] == 0, chk["bad"]
    assert chk["contrib"] >= n
    out["idw"] = {
        "samples": n, "cells": chk["cells"], "contributions": chk["contrib"],
        "bad_cells": chk["bad"],
        "wall_s": round(wall, 2), "samples_per_sec": round(n / wall),
    }

    # --- gwr ---
    # exact linear field v = 2a + 3: every local bisquare WLS fit recovers
    # beta1 = 2, beta0 = 3 up to floor-scale granularity (<= ~1e-6 relative)
    # on EVERY cell with a nonsingular window — a closed-form full-field
    # check of the local-regression machinery at the same 16M-sample scale.
    # exact linear field v = 2a + 3: in EXACT arithmetic every WLS fit
    # returns (2, 3) regardless of weights, so at scale the check is about
    # floor-scale noise amplification. Per cell the floor error per moment
    # is < n_samples (each row drops < 1 e9-unit), which propagates to
    # |d_beta1| <= 16*M*n/D with M = max |moment|, D = Sw*Swaa - Swa^2 —
    # so the closed form is ASSERTED exactly where that bound is < 1e-5
    # (D > 2e6*M*n, plus Sw > 1e8 so beta0's 3n/Sw term vanishes), the
    # bound-excluded remainder (low-weight / near-collinear windows where
    # any local regression is meaningless) is counted and must stay < 10%.
    gsamples = spark.range(0, n, 1, 64).select(
        (cellw * 10.0 + F.pmod(F.xxhash64("id", F.lit(2)), 10)).alias("x"),
        (cellh * 10.0 + F.pmod(F.xxhash64("id", F.lit(3)), 10)).alias("y"),
        (F.abs(F.xxhash64("id", F.lit(4))) / float(2**63)).alias("a"),
    ).withColumn("value", F.col("a") * 2.0 + 3.0)
    t0 = time.time()
    ggrid = interp.gwr_grid(gsamples, cell_size=10.0, radius=19.0,
                            min_samples=5)
    dsw = F.col("sw_e9").cast("double")
    dsa = F.col("swa_e9").cast("double")
    dsv = F.col("swv_e9").cast("double")
    dsaa = F.col("swaa_e9").cast("double")
    dsav = F.col("swav_e9").cast("double")
    dn = F.col("n_samples").cast("double")
    det = dsw * dsaa - dsa * dsa
    mmax = F.greatest(F.abs(dsw), F.abs(dsa), F.abs(dsv),
                      F.abs(dsaa), F.abs(dsav))
    gated = (F.col("beta1").isNotNull() & (det > 2e6 * mmax * dn)
             & (dsw > 1e8))
    gchk = ggrid.agg(
        F.count("*").alias("cells"),
        F.sum("n_samples").alias("contrib"),
        F.sum(
            (gated
             & ((F.abs(F.col("beta1") - 2.0) > 1e-5)
                | (F.abs(F.col("beta0") - 3.0) > 1e-4))).cast("long")
        ).alias("bad"),
        F.sum((~gated).cast("long")).alias("excluded"),
    ).collect()[0]
    gwall = time.time() - t0
    assert gchk["bad"] == 0, gchk["bad"]
    assert gchk["contrib"] >= n
    assert gchk["excluded"] < gchk["cells"] // 10, gchk
    out["gwr"] = {
        "samples": n, "cells": gchk["cells"],
        "contributions": gchk["contrib"], "bad_cells": gchk["bad"],
        "bound_excluded_cells": gchk["excluded"],
        "wall_s": round(gwall, 2), "samples_per_sec": round(n / gwall),
    }
    spark.stop()
    print(_json.dumps(out))


def part_xing() -> None:
    """Polyline intersection join at scale, local[32]: 100k blocks 1000
    apart, each with 8 horizontal and 8 vertical 2-segment polylines
    crossing in a 64x64 square -> exactly 64 crossing pairs per block
    (every H meets every V once; H-H and V-V are parallel/disjoint).
    16M segments through the join, 6.4M crossing pairs."""
    import json as _json

    from pyspark.sql import functions as F

    from engine import lines as L

    out = {}
    spark = _spark("bench-xing")
    n_blocks = int(os.environ.get("XING_BENCH_BLOCKS", "100000"))
    per = 8
    ids = spark.range(0, n_blocks * per * 2, 1, 64)
    line = F.col("id")
    blk = (line / (per * 2)).cast("long")
    k = F.pmod(line, per * 2)           # 0..7 horizontal, 8..15 vertical
    horiz = k < per
    off = F.pmod(k, per).cast("double") * 8.0 + 2.0   # 2,10,...,58 within 64
    bx = F.pmod(blk, 1000) * 1000.0
    by = (blk / 1000).cast("long") * 1000.0
    # 3-point polylines (2 segments each): H spans x in [0,64] at y=off,
    # V spans y in [0,64] at x=off
    mk = lambda x, y: F.struct(x.alias("x"), y.alias("y"))  # noqa: E731
    pts = F.when(
        horiz,
        F.array(mk(bx + 0.0, by + off), mk(bx + 32.0, by + off), mk(bx + 64.0, by + off)),
    ).otherwise(
        F.array(mk(bx + off, by + 0.0), mk(bx + off, by + 32.0), mk(bx + off, by + 64.0))
    )
    lns = ids.select(line.alias("line_id"), pts.alias("pts")).persist()
    n_lines = lns.count()
    t0 = time.time()
    pairs = L.line_intersection_join(lns, lns, cell_size=64.0).filter(
        F.col("a_id") < F.col("b_id")  # self-join emits both orientations
    )
    agg = pairs.agg(
        F.count("*").alias("pairs"), F.sum("n_seg_pairs").alias("segpairs")
    ).collect()[0]
    wall = time.time() - t0
    want = n_blocks * per * per
    assert agg["pairs"] == want, (agg["pairs"], want)
    out["xing"] = {
        "lines": n_lines, "segments": 2 * n_lines,
        "crossing_pairs": agg["pairs"], "seg_pairs": agg["segpairs"],
        "wall_s": round(wall, 2),
        "segments_per_sec": round(2 * n_lines / wall),
    }
    lns.unpersist()
    spark.stop()
    print(_json.dumps(out))


def part_regions() -> None:
    """Raster->vector regions at scale, local[32]: the 16.8M-cell raster
    (16M points, ~1/px), class = count >= 2 (~25% of cells — subcritical,
    so regions stay region-sized instead of one percolating blob), regions
    via distributed CC. Conservation asserts: node count and mass equal
    the thresholded raster's."""
    import json as _json

    from pyspark.sql import functions as F

    from engine import raster

    out = {}
    spark = _spark("bench-regions")
    n = int(os.environ.get("FOCAL_BENCH_ROWS", "16000000"))
    pts = spark.range(0, n, 1, 64).select(
        (F.pmod(F.xxhash64("id", F.lit(1)), 4096000) / 1000.0).alias("x"),
        (F.pmod(F.xxhash64("id", F.lit(2)), 4096000) / 1000.0).alias("y"),
    )
    tiles = raster.heatmap_tiles(pts, tile_size=64.0, res=64).persist()
    want = tiles.select(
        F.explode("counts").alias("n")
    ).filter(F.col("n") >= 2).agg(
        F.count("*").alias("cells"), F.sum("n").alias("mass")
    ).collect()[0]
    t0 = time.time()
    regions = raster.raster_regions(
        tiles, 64, classify=lambda c: F.when(c >= 2, 1)
    ).persist()
    agg = regions.agg(
        F.count("*").alias("regions"),
        F.sum("n_cells").alias("cells"),
        F.sum("total").alias("mass"),
        F.max("n_cells").alias("biggest"),
    ).collect()[0]
    wall = time.time() - t0
    assert agg["cells"] == want["cells"] and agg["mass"] == want["mass"]
    out["regions"] = {
        "wall_s": round(wall, 2), "raster_cells": 4096 * 4096,
        "class_cells": agg["cells"], "regions": agg["regions"],
        "biggest_region": agg["biggest"],
        "cells_per_sec": round(agg["cells"] / wall),
    }
    regions.unpersist()
    tiles.unpersist()
    spark.stop()
    print(_json.dumps(out))


def part_matching() -> None:
    """Map matching at scale, local[32]: 16M fixes over 100k entities with
    the planted 10-trips/entity gap structure (same as part_traj), snapped
    to a 250-road network (4 segments each, 1000 segments total) with every
    fix within radius of its road (y jitter +-0.3 < radius 0.5). Times
    snap_to_segments alone and match_routes end to end; asserts the planted
    structure: all 16M fixes match, exactly 10 trips/entity."""
    import json as _json

    from pyspark.sql import functions as F

    from engine import matching

    out = {}
    spark = _spark("bench-matching")
    n = int(os.environ.get("MATCH_BENCH_ROWS", "16000000"))
    n_ent = n // 160
    n_roads = 250
    key = F.col("id")
    seq = key % 160
    ts = (seq * 5 + (seq / 16).cast("long") * 90).cast("long") * 60_000_000
    road = F.pmod(F.xxhash64(key, F.lit(1)), n_roads)  # y = 4*road
    fixes = spark.range(0, n, 1, 64).select(
        key.alias("fix_id"),
        (key / 160).cast("long").alias("entity_id"),
        ts.alias("ts_us"),
        (F.pmod(F.xxhash64(key, F.lit(2)), 1000000) / 1000.0).alias("x"),
        (road * 4 + (F.pmod(F.xxhash64(key, F.lit(3)), 600) - 300) / 1000.0)
        .cast("double").alias("y"),
    ).persist()
    fixes.count()
    roads = spark.createDataFrame(
        [
            (r, [{"x": 250.0 * i, "y": 4.0 * r} for i in range(5)])
            for r in range(n_roads)
        ],
        "line_id long, pts array<struct<x:double,y:double>>",
    )
    walls = {"array": [], "window": []}
    for _ in range(2):  # A/B interleaved, min-of-2 per plan
        for plan in ("array", "window"):
            t0 = time.time()
            n_snap = matching.snap_to_segments(
                fixes.select("fix_id", "x", "y"), roads, radius=0.5, plan=plan
            ).count()
            walls[plan].append(round(time.time() - t0, 2))
            assert n_snap == n, (plan, n_snap, n)  # all fixes within radius
    out["snap"] = {
        "fixes": n, "segments": 4 * n_roads,
        "array_walls": walls["array"], "window_walls": walls["window"],
        "array_min": min(walls["array"]), "window_min": min(walls["window"]),
        "fixes_per_sec_array": round(n / min(walls["array"])),
    }
    t0 = time.time()
    routes = matching.match_routes(
        fixes, roads, radius=0.5, id_col="entity_id", ts_col="ts_us",
        gap_minutes=30.0,
    )
    agg = routes.agg(
        F.count("*").alias("trips"),
        F.sum("n_points").alias("pts"),
        F.sum("n_matched").alias("matched"),
        F.sum("steps").alias("steps"),
    ).collect()[0]
    wall = time.time() - t0
    assert agg["pts"] == n and agg["matched"] == n
    assert agg["trips"] == 10 * n_ent
    out["routes"] = {
        "wall_s": round(wall, 2), "trips": agg["trips"],
        "route_steps": agg["steps"], "fixes_per_sec": round(n / wall),
    }
    fixes.unpersist()
    spark.stop()
    print(_json.dumps(out))


def part_contour() -> None:
    """Marching-squares contouring at scale, local[32]: 16M cells as 62 500
    disjoint 16x16 solid z=2 rectangles on a 20-cell grid, contoured at
    level 1 — closed form: every rectangle's iso-line ring is exactly
    4w = 64 segments (4(w-1) edge blocks + 4 corner blocks, one segment
    each; no saddles in a solid square), every crossing is the rational
    1/2 (num = |1-0| = |1-2| = 1, den = |2-0| = 2 sign-normalized), and
    contour_lines links each ring into exactly one component. Asserts all
    three exactly, then times segment extraction and line linking apart."""
    import json as _json

    from pyspark.sql import functions as F

    from engine.contour import contour_lines, contour_segments

    out = {}
    spark = _spark("bench-contour")
    n = int(os.environ.get("CONTOUR_BENCH_ROWS", "16000000"))
    w = 16  # rect side in cells
    k_rects = n // (w * w)
    n = k_rects * w * w  # whole rects only — a partial rect breaks the closed form
    side = int(np.ceil(np.sqrt(k_rects)))  # rect-grid side, spacing 20
    rect = (F.col("id") / (w * w)).cast("long")
    off = F.col("id") % (w * w)
    cells = spark.range(0, n, 1, 64).select(
        (F.pmod(rect, side) * 20 + off % w).alias("gx"),
        ((rect / side).cast("long") * 20 + (off / w).cast("long")).alias("gy"),
        F.lit(2).cast("long").alias("z"),
    )
    t0 = time.time()
    segs = contour_segments(cells, level=1).persist()
    agg = segs.agg(
        F.count("*").alias("segs"),
        F.min("a_num").alias("mn_an"), F.max("a_num").alias("mx_an"),
        F.min("b_num").alias("mn_bn"), F.max("b_num").alias("mx_bn"),
        F.min("a_den").alias("mn_ad"), F.max("a_den").alias("mx_ad"),
        F.min("b_den").alias("mn_bd"), F.max("b_den").alias("mx_bd"),
    ).collect()[0]
    wall_seg = time.time() - t0
    assert agg["segs"] == 4 * w * k_rects, agg["segs"]
    assert agg["mn_an"] == agg["mx_an"] == agg["mn_bn"] == agg["mx_bn"] == 1
    assert agg["mn_ad"] == agg["mx_ad"] == agg["mn_bd"] == agg["mx_bd"] == 2
    out["segments"] = {
        "cells": n, "rects": k_rects, "segments": agg["segs"],
        "wall_s": round(wall_seg, 2),
        "cells_per_sec": round(n / wall_seg),
    }
    # closed form: one line per rectangle, every line exactly 4w segments
    t0 = time.time()
    row = (
        contour_lines(segs)
        .groupBy("line_id")
        .agg(F.count("*").alias("n"))
        .agg(
            F.count("*").alias("lines"),
            F.sum("n").alias("nseg"),
            F.min("n").alias("mn"),
            F.max("n").alias("mx"),
        )
        .collect()[0]
    )
    wall_ln = time.time() - t0
    assert row["lines"] == k_rects, row["lines"]
    assert row["nseg"] == agg["segs"], row["nseg"]
    assert row["mn"] == row["mx"] == 4 * w, (row["mn"], row["mx"])
    out["lines"] = {
        "lines": row["lines"],
        "wall_s": round(wall_ln, 2),
        "segments_per_sec": round(agg["segs"] / wall_ln),
    }
    segs.unpersist()
    spark.stop()
    print(_json.dumps(out))


def part_dbscan() -> None:
    """Distributed DBSCAN at scale, local[32]: 16M points as 2M planted
    8-point clusters (3x3-lattice offsets, diameter 2.83 < eps=3, so every
    point sees all 8 — all core at min_pts=5, one component per cluster)
    on a 10-unit grid (inter-cluster gap 8 > eps), plus 100k isolated
    noise points. Closed form asserted exactly: 2M clusters of 8 cores
    each, every label the cluster's minimum id (ids are sequential per
    cluster, so sum(label) has a closed form), 100k noise at -1."""
    import json as _json

    from pyspark.sql import functions as F

    from engine.cluster import dbscan

    from engine.session import get_spark

    out = {}
    # the eps-pair frame is ~8x the input (128M rows at 16M points of planted
    # density 8): size shuffle partitions by the reference heuristic
    # (rows/1.5M -> ~96) instead of the helper's 32 — at 32 the degree agg
    # hits AGGREGATE_OUT_OF_MEMORY on the 8g/local[32] heap (measured)
    spark = get_spark("bench-dbscan", cores=32, shuffle_partitions=128)
    n = int(os.environ.get("DBSCAN_BENCH_ROWS", "16000000"))
    c = 8  # points per cluster
    k = n // c
    n = k * c
    side = int(np.ceil(np.sqrt(k)))
    n_noise = 100_000
    rect = (F.col("id") / c).cast("long")
    off = F.col("id") % c
    clustered = spark.range(0, n, 1, 64).select(
        F.col("id"),
        (F.pmod(rect, side) * 10 + off % 3).cast("double").alias("x"),
        ((rect / side).cast("long") * 10 + (off / 3).cast("long"))
        .cast("double").alias("y"),
    )
    noise = spark.range(n, n + n_noise, 1, 8).select(
        F.col("id"),
        ((F.col("id") - n) * 10).cast("double").alias("x"),
        F.lit(-100.0).alias("y"),
    )
    pts = clustered.unionByName(noise)
    t0 = time.time()
    labels = dbscan(pts, eps=3.0, min_pts=5, id_col="id").persist()
    agg = labels.filter(F.col("label") >= 0).agg(
        F.count("*").alias("members"),
        F.countDistinct("label").alias("clusters"),
        F.sum(F.col("is_core").cast("long")).alias("cores"),
        F.sum("label").alias("label_sum"),
    ).collect()[0]
    n_noise_got = labels.filter(F.col("label") < 0).count()
    wall = time.time() - t0
    assert agg["members"] == n and agg["cores"] == n
    assert agg["clusters"] == k, agg["clusters"]
    # label = min id of cluster r = c*r; every one of the c members carries it
    assert agg["label_sum"] == c * c * k * (k - 1) // 2, agg["label_sum"]
    assert n_noise_got == n_noise, n_noise_got
    out["dbscan"] = {
        "points": n + n_noise, "clusters": agg["clusters"],
        "noise": n_noise_got, "wall_s": round(wall, 2),
        "points_per_sec": round((n + n_noise) / wall),
    }
    labels.unpersist()
    spark.stop()
    print(_json.dumps(out))


def part_terrain() -> None:
    """Terrain derivatives at raster scale, local[32]: a 4096x4096 dense
    elevation plane z = 3x + 5y (64x64 tiles at res=64, 16.8M cells,
    Column-generated), Horn gradients closed-form exact on the interior
    (dzdx8 = 24, dzdy8 = 40 everywhere except the raster's 1px global
    boundary -> exactly 4094^2 interior cells), hillshade constant there.
    A/B: the fused one-pass halo kernel vs two separate focal_stencil halo
    passes (what fusion saves), interleaved min-of-2."""
    import json as _json
    import math

    from pyspark.sql import functions as F

    from engine import terrain

    out = {}
    spark = _spark("bench-terrain")
    res = 64
    side = int(os.environ.get("TERRAIN_BENCH_TILES", "64"))
    w = side * res
    counts = F.transform(
        F.sequence(F.lit(0), F.lit(res * res - 1)),
        lambda i: (
            3 * (F.col("tx") * res + F.pmod(i, res))
            + 5 * (F.col("ty") * res + F.floor(i / res))
        ).cast("long"),
    )
    tiles = spark.range(0, side * side, 1, 32).select(
        F.pmod(F.col("id"), side).alias("tx"),
        (F.col("id") / side).cast("long").alias("ty"),
    ).select("tx", "ty", counts.alias("counts")).persist()
    tiles.count()

    def cells(grads):
        return grads.select(
            "tx", "ty",
            F.posexplode(F.arrays_zip("dzdx8", "dzdy8")).alias("pix", "g"),
        ).select(
            (F.col("tx") * res + F.pmod(F.col("pix"), res)).alias("gx"),
            (F.col("ty") * res + F.floor(F.col("pix") / res)).alias("gy"),
            F.col("g.dzdx8").alias("dzdx8"),
            F.col("g.dzdy8").alias("dzdy8"),
        )

    walls = {"fused": [], "two-pass": []}
    for _ in range(2):
        for mode in ("fused", "two-pass"):
            t0 = time.time()
            if mode == "fused":
                g = terrain.terrain_gradients(tiles, res)
            else:
                from engine.focal import focal_stencil

                g = focal_stencil(tiles, res, terrain.HORN_DZDX).select(
                    "tx", "ty", F.col("focal").alias("dzdx8")
                ).join(
                    focal_stencil(tiles, res, terrain.HORN_DZDY).select(
                        "tx", "ty", F.col("focal").alias("dzdy8")
                    ),
                    ["tx", "ty"],
                )
            agg = cells(g).agg(
                F.count("*").alias("cells"),
                F.sum(
                    (
                        (F.col("dzdx8") == 24) & (F.col("dzdy8") == 40)
                        & F.col("gx").between(1, w - 2)
                        & F.col("gy").between(1, w - 2)
                    ).cast("long")
                ).alias("interior_ok"),
            ).collect()[0]
            walls[mode].append(round(time.time() - t0, 2))
            assert agg["cells"] == w * w
            assert agg["interior_ok"] == (w - 2) * (w - 2), agg["interior_ok"]
    out["gradients"] = {
        "cells": w * w,
        "fused_walls": walls["fused"], "two_pass_walls": walls["two-pass"],
        "fused_min": min(walls["fused"]),
        "two_pass_min": min(walls["two-pass"]),
        "cells_per_sec_fused": round(w * w / min(walls["fused"])),
    }
    # float view: constant closed-form hillshade on the interior plane
    t0 = time.time()
    shade = terrain.slope_aspect_hillshade(
        terrain.terrain_gradients(tiles, res), azimuth_deg=135.0
    )  # SE sun: the SW-descending plane shades ~73.5, not clamped-0 —
    # a zero interior would also pass under a sign bug, 73.5 won't
    sc = shade.select(
        "tx", "ty", F.posexplode("hillshade").alias("pix", "h")
    ).select(
        (F.col("tx") * res + F.pmod(F.col("pix"), res)).alias("gx"),
        (F.col("ty") * res + F.floor(F.col("pix") / res)).alias("gy"),
        "h",
    ).filter(
        F.col("gx").between(1, w - 2) & F.col("gy").between(1, w - 2)
    ).agg(F.min("h").alias("mn"), F.max("h").alias("mx")).collect()[0]
    wall = time.time() - t0
    p, q = 24 / 8.0, 40 / 8.0
    az, alt = math.radians(135.0), math.radians(45.0)
    want = 255.0 * max(
        0.0,
        (math.sin(alt) - math.cos(alt) * (p * math.sin(az) + q * math.cos(az)))
        / math.sqrt(1.0 + p * p + q * q),
    )
    assert abs(sc["mn"] - want) < 1e-9 and abs(sc["mx"] - want) < 1e-9
    out["hillshade"] = {
        "wall_s": round(wall, 2), "interior_value": round(want, 6),
        "cells_per_sec": round(w * w / wall),
    }
    # D8 flow + basins: on z = 3x + 5y every interior cell flows SW (key 64
    # beats W 18 / S 50); the y=0 row flows W and the x=0 column S, so every
    # SW diagonal chain drains through the boundary into ONE basin rooted at
    # (0,0) — a planted single-giant-component stress for the CC kernel at
    # w*w nodes with a closed-form label
    t0 = time.time()
    flow = terrain.d8_flow(tiles, res)
    fagg = cells(flow.withColumnRenamed("d8_dir", "dzdx8")
                 .withColumnRenamed("d8_key", "dzdy8")).agg(
        F.count("*").alias("cells"),
        F.sum(
            (
                (F.col("dzdx8") == 6) & (F.col("dzdy8") == 64)
                & (F.col("gx") > 0) & (F.col("gy") > 0)
            ).cast("long")
        ).alias("sw_ok"),
    ).collect()[0]
    wall_d8 = time.time() - t0
    assert fagg["cells"] == w * w
    assert fagg["sw_ok"] == (w - 1) * (w - 1), fagg["sw_ok"]
    out["d8"] = {
        "wall_s": round(wall_d8, 2),
        "cells_per_sec": round(w * w / wall_d8),
    }
    # the giant basin's min-id label is its sink (0,0), the global min
    t0 = time.time()
    bagg = terrain.basins(flow, res).agg(
        F.count("*").alias("cells"),
        F.countDistinct("basin").alias("basins"),
        F.min("basin").alias("label"),
    ).collect()[0]
    wall_b = time.time() - t0
    assert bagg["cells"] == w * w
    assert bagg["basins"] == 1, bagg["basins"]
    assert bagg["label"] == (1 << 20) * (1 << 32) + (1 << 20)  # pack(0,0)
    out["basins_giant"] = {
        "wall_s": round(wall_b, 2), "nodes": w * w,
        "cells_per_sec": round(w * w / wall_b),
    }
    tiles.unpersist()
    spark.stop()
    print(_json.dumps(out))


def part_warp() -> None:
    """Affine raster warp at scale, local[32]: the 4096^2 dense plane
    z = 3x + 5y (16.8M cells), warped by the half-pixel-shift zoom
    (sx, sy) = ((2X+1)/2, (2Y+1)/2). Bilinear reproduces linear fields
    exactly, so every target pixel whose 4 source neighbors exist has the
    closed form val_num = den^2 * (3 sx + 5 sy) = 2*(3*(2X+1) + 5*(2Y+1))
    ... = 12X + 20Y + 16; the raster's top/right edge rows probe missing
    neighbors and fall off the form — exactly 4095^2 interior pixels match.
    Nearest timed on the same input (probe volume 1/4 of bilinear's)."""
    import json as _json

    from pyspark.sql import functions as F

    from engine import warp

    out = {}
    spark = _spark("bench-warp")
    res = 64
    side = int(os.environ.get("TERRAIN_BENCH_TILES", "64"))
    w = side * res
    counts = F.transform(
        F.sequence(F.lit(0), F.lit(res * res - 1)),
        lambda i: (
            3 * (F.col("tx") * res + F.pmod(i, res))
            + 5 * (F.col("ty") * res + F.floor(i / res))
        ).cast("long"),
    )
    tiles = spark.range(0, side * side, 1, 32).select(
        F.pmod(F.col("id"), side).alias("tx"),
        (F.col("id") / side).cast("long").alias("ty"),
    ).select("tx", "ty", counts.alias("counts")).persist()
    tiles.count()

    def run(method, form):
        t0 = time.time()
        r = warp.affine_resample(
            tiles, res, (2, 0, 1, 0, 2, 1), den=2, method=method
        )
        cells = r.select(
            "tx", "ty", F.posexplode("val_num").alias("pix", "v")
        ).select(
            (F.col("tx") * res + F.pmod(F.col("pix"), res)).alias("gx"),
            (F.col("ty") * res + F.floor(F.col("pix") / res)).alias("gy"),
            "v",
        )
        agg = cells.agg(
            F.count("*").alias("cells"),
            F.sum(
                (
                    (F.col("v") == form)
                    & (F.col("gx") < w - 1) & (F.col("gy") < w - 1)
                ).cast("long")
            ).alias("interior_ok"),
        ).collect()[0]
        return time.time() - t0, agg

    forms = {
        # bilinear: den^2 * (3 sx + 5 sy) = 12X + 20Y + 16
        "bilinear": 12 * F.col("gx") + 20 * F.col("gy") + F.lit(16),
        # nearest: half-up rounds (X+.5, Y+.5) to (X+1, Y+1) -> 3X + 5Y + 8
        "nearest": 3 * F.col("gx") + 5 * F.col("gy") + F.lit(8),
    }
    for method in ("bilinear", "nearest"):
        wall, agg = run(method, forms[method])
        assert agg["cells"] == w * w
        assert agg["interior_ok"] == (w - 1) * (w - 1), (method, agg)
        out[method] = {
            "cells": w * w, "wall_s": round(wall, 2),
            "cells_per_sec": round(w * w / wall),
        }
    tiles.unpersist()
    spark.stop()
    print(_json.dumps(out))


def part_sample() -> None:
    """Raster point sampling at scale, local[32]: 16M rational points (den=4)
    against the 4096^2 dense ramp z = 3x + 5y (16.8M cells). Points are kept
    in the all-4-neighbors interior, so bilinear has the closed form
    val_num = den*(3*xn + 5*yn) at EVERY point — all 16M sampled values are
    asserted exactly. Nearest timed on the same input (1 probe per point);
    its closed form rounds each coordinate half-up."""
    import json as _json

    from pyspark.sql import functions as F

    from engine import warp

    out = {}
    spark = _spark("bench-sample")
    res = 64
    side = int(os.environ.get("TERRAIN_BENCH_TILES", "64"))
    w = side * res
    den = 4
    n = int(os.environ.get("SAMPLE_BENCH_ROWS", "16000000"))
    counts = F.transform(
        F.sequence(F.lit(0), F.lit(res * res - 1)),
        lambda i: (
            3 * (F.col("tx") * res + F.pmod(i, res))
            + 5 * (F.col("ty") * res + F.floor(i / res))
        ).cast("long"),
    )
    tiles = spark.range(0, side * side, 1, 32).select(
        F.pmod(F.col("id"), side).alias("tx"),
        (F.col("id") / side).cast("long").alias("ty"),
    ).select("tx", "ty", counts.alias("counts")).persist()
    tiles.count()
    # deterministic pseudo-random interior numerators: xn, yn in
    # [0, (w-1)*den - 1] so all 4 bilinear neighbors exist for every point
    m = (w - 1) * den
    pts = spark.range(0, n, 1, 64).select(
        F.col("id").alias("pid"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(1)), m).alias("xn"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(2)), m).alias("yn"),
    ).persist()
    pts.count()

    def closed_form(method):
        if method == "bilinear":
            return den * (3 * F.col("xn") + 5 * F.col("yn"))
        # nearest: half-up rounded lattice cell, value 3*gx' + 5*gy'
        gx = F.floor((2 * F.col("xn") + den) / (2 * den)).cast("long")
        gy = F.floor((2 * F.col("yn") + den) / (2 * den)).cast("long")
        return 3 * gx + 5 * gy

    for method in ("bilinear", "nearest"):
        t0 = time.time()
        got = warp.sample_at_points(pts, tiles, res, den=den, method=method)
        agg = got.join(pts, "pid").agg(
            F.count("*").alias("rows"),
            F.sum(
                (F.col("val_num") == closed_form(method)).cast("long")
            ).alias("ok"),
        ).collect()[0]
        wall = time.time() - t0
        assert agg["rows"] == n and agg["ok"] == n, (method, agg)
        out[method] = {
            "points": n, "raster_cells": w * w, "wall_s": round(wall, 2),
            "points_per_sec": round(n / wall),
        }
    pts.unpersist()
    tiles.unpersist()
    spark.stop()
    print(_json.dumps(out))


def part_morph() -> None:
    """Morphology at raster scale, local[32]: the 4096^2 plane z = 3x + 5y
    again — closed forms: r=1 erosion takes each interior pixel to its SW
    corner (z - 8), dilation to its NE corner (z + 8); the raster's 1px
    global boundary differs (identity padding), so exactly 4094^2 interior
    cells match each form. focal_mode on a 4-class checkerboard-of-blocks
    field is its own fixed point away from block borders."""
    import json as _json

    from pyspark.sql import functions as F

    from engine import focal

    out = {}
    spark = _spark("bench-morph")
    res = 64
    side = int(os.environ.get("TERRAIN_BENCH_TILES", "64"))
    w = side * res
    counts = F.transform(
        F.sequence(F.lit(0), F.lit(res * res - 1)),
        lambda i: (
            3 * (F.col("tx") * res + F.pmod(i, res))
            + 5 * (F.col("ty") * res + F.floor(i / res))
        ).cast("long"),
    )
    tiles = spark.range(0, side * side, 1, 32).select(
        F.pmod(F.col("id"), side).alias("tx"),
        (F.col("id") / side).cast("long").alias("ty"),
    ).select("tx", "ty", counts.alias("counts")).persist()
    tiles.count()

    def cells(df):
        return df.select(
            "tx", "ty", F.posexplode("focal").alias("pix", "v")
        ).select(
            (F.col("tx") * res + F.pmod(F.col("pix"), res)).alias("gx"),
            (F.col("ty") * res + F.floor(F.col("pix") / res)).alias("gy"),
            "v",
        )

    for name, fn, form in (
        ("erode", lambda: focal.erode(tiles, res, 1),
         3 * F.col("gx") + 5 * F.col("gy") - F.lit(8)),
        ("dilate", lambda: focal.dilate(tiles, res, 1),
         3 * F.col("gx") + 5 * F.col("gy") + F.lit(8)),
    ):
        t0 = time.time()
        agg = cells(fn()).agg(
            F.count("*").alias("cells"),
            F.sum(
                (
                    (F.col("v") == form)
                    & F.col("gx").between(1, w - 2)
                    & F.col("gy").between(1, w - 2)
                ).cast("long")
            ).alias("interior_ok"),
        ).collect()[0]
        wall = time.time() - t0
        assert agg["cells"] == w * w
        assert agg["interior_ok"] == (w - 2) * (w - 2), (name, agg)
        out[name] = {
            "cells": w * w, "wall_s": round(wall, 2),
            "cells_per_sec": round(w * w / wall),
        }
    # mode fixed point: 32px-block 4-class field, r=1 — every pixel >= 1px
    # from a block border keeps its class (5+ same-class votes of 9)
    ctiles = spark.range(0, side * side, 1, 32).select(
        F.pmod(F.col("id"), side).alias("tx"),
        (F.col("id") / side).cast("long").alias("ty"),
    ).select(
        "tx", "ty",
        F.transform(
            F.sequence(F.lit(0), F.lit(res * res - 1)),
            lambda i: F.pmod(
                F.floor((F.col("tx") * res + F.pmod(i, res)) / 32)
                + F.floor((F.col("ty") * res + F.floor(i / res)) / 32), 4
            ).cast("long"),
        ).alias("counts"),
    ).persist()
    ctiles.count()
    t0 = time.time()
    got = focal.focal_mode(ctiles, res, 1)
    base = ctiles.select(
        "tx", "ty", F.posexplode("counts").alias("pix", "b")
    )
    modep = got.select(
        "tx", "ty", F.posexplode("focal").alias("pix", "v")
    )
    diff = modep.join(base, ["tx", "ty", "pix"]).select(
        (F.col("tx") * res + F.pmod(F.col("pix"), res)).alias("gx"),
        (F.col("ty") * res + F.floor(F.col("pix") / res)).alias("gy"),
        (F.col("v") != F.col("b")).cast("long").alias("changed"),
    )
    agg = diff.agg(
        F.count("*").alias("cells"),
        F.sum(
            F.when(
                (F.pmod(F.col("gx"), 32) != 0) & (F.pmod(F.col("gx"), 32) != 31)
                & (F.pmod(F.col("gy"), 32) != 0) & (F.pmod(F.col("gy"), 32) != 31),
                F.col("changed"),
            )
        ).alias("interior_changed"),
    ).collect()[0]
    wall = time.time() - t0
    assert agg["cells"] == w * w
    assert agg["interior_changed"] == 0, agg["interior_changed"]
    out["mode"] = {
        "cells": w * w, "wall_s": round(wall, 2),
        "cells_per_sec": round(w * w / wall),
    }
    tiles.unpersist()
    ctiles.unpersist()
    spark.stop()
    print(_json.dumps(out))


def part_flowacc() -> None:
    """Flow accumulation at raster scale, local[32]: the 4096x4096
    z = 3x + 5y plane as 16x16 tiles at res=256 (16.8M cells) —
    deliberately a worst case for the two-level solver: ONE giant drainage
    (every cell funnels into the (0, 0) sink via the x=0 / y=0 boundary
    rows), maximal in-tile path lengths (256+-wave Kahn peels), and a
    ~126-tile-crossing contracted path driving stage 2's round count.
    Closed-form exact: interior-quadrant acc = min(4095-gx, 4095-gy) + 1 on
    all 4095^2 cells with gx, gy >= 1 (each such cell's upstream set is its
    NE diagonal chain), and the sink accumulates the entire raster."""
    import json as _json

    from pyspark.sql import functions as F

    from engine import terrain

    out = {}
    spark = _spark("bench-flowacc")
    res = int(os.environ.get("FLOWACC_BENCH_RES", "256"))
    side = 4096 // res
    w = side * res
    counts = F.transform(
        F.sequence(F.lit(0), F.lit(res * res - 1)),
        lambda i: (
            3 * (F.col("tx") * res + F.pmod(i, res))
            + 5 * (F.col("ty") * res + F.floor(i / res))
        ).cast("long"),
    )
    tiles = spark.range(0, side * side, 1, 32).select(
        F.pmod(F.col("id"), side).alias("tx"),
        (F.col("id") / side).cast("long").alias("ty"),
    ).select("tx", "ty", counts.alias("counts")).persist()
    tiles.count()

    want_interior = F.least(
        F.lit(w - 1) - F.col("gx"), F.lit(w - 1) - F.col("gy")
    ) + 1
    for mode in ("driver", "distributed"):
        t0 = time.time()
        flow = terrain.d8_flow(tiles, res)
        acc = terrain.flow_accumulation(flow, res, stage2=mode)
        rows = terrain.stream_cells(acc, res, threshold=1)  # every cell
        agg = rows.agg(
            F.count("*").alias("cells"),
            F.sum(
                (
                    (F.col("gx") >= 1) & (F.col("gy") >= 1)
                    & (F.col("acc") == want_interior)
                ).cast("long")
            ).alias("interior_ok"),
            F.sum(
                F.when((F.col("gx") == 0) & (F.col("gy") == 0), F.col("acc"))
            ).alias("sink_acc"),
            F.sum((F.col("acc") >= F.lit(res)).cast("long")).alias(
                "stream_cells"
            ),
        ).collect()[0]
        wall = time.time() - t0
        assert agg["cells"] == w * w
        assert agg["interior_ok"] == (w - 1) * (w - 1), agg["interior_ok"]
        assert agg["sink_acc"] == w * w, agg["sink_acc"]
        out[f"flowacc_{mode}"] = {
            "cells": w * w, "res": res, "wall_s": round(wall, 2),
            "cells_per_sec": round(w * w / wall),
            "stream_cells_at_res": int(agg["stream_cells"]),
        }
        spark.catalog.clearCache()
    tiles.unpersist()
    spark.stop()
    print(_json.dumps(out))


def part_ssim() -> None:
    """phash-blocked + SSIM-verified image near-dup at scale, local[32]:
    3*N images with real decoded bytes (64x64x3 raw) — N (base, twin) pairs
    where the twin shares the base's pixels except 6 repainted ones and sits
    1 phash bit away, plus N decoys with UNRELATED pixels planted 2 bits
    away (so blocking must propose them and the pixel verify must reject
    them; twin-decoy pairs land at hamming 2 as well). Closed form: exactly
    N confirmed pairs, every one hamming 1 with ssim >= 0.9."""
    import json as _json

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from engine import image_codec, imagesim

    out = {}
    spark = _spark("bench-ssim")
    n_base = int(os.environ.get("SSIM_BENCH_N", "100000"))
    size = 64

    def gen(batches):
        for pdf in batches:
            rows = []
            for key in pdf["id"]:
                group, role = divmod(int(key), 3)
                rng = np.random.default_rng([77, group])
                code = int(rng.integers(0, 2**63, dtype=np.int64))
                if role == 0:
                    px = rng.integers(0, 256, (size, size, 3), dtype=np.uint8)
                elif role == 1:
                    px = rng.integers(0, 256, (size, size, 3), dtype=np.uint8)
                    rn = np.random.default_rng([78, group])
                    yy = rn.integers(0, size, 6)
                    xx = rn.integers(0, size, 6)
                    px[yy, xx] = rn.integers(0, 256, (6, 3), dtype=np.uint8)
                    code ^= 1
                else:
                    rd = np.random.default_rng([79, group])
                    px = rd.integers(0, 256, (size, size, 3), dtype=np.uint8)
                    code ^= 2
                rows.append(
                    (f"img{key:012d}", image_codec.encode_raw(px), size,
                     size, "raw", code)
                )
            yield pd.DataFrame(
                rows,
                columns=["image_id", "bytes", "w", "h", "fmt", "phash"],
            )

    images = spark.range(0, 3 * n_base, 1, 64).mapInPandas(
        gen,
        schema="image_id string, bytes binary, w int, h int, fmt string, "
        "phash long",
    ).persist()
    n_images = images.count()  # materialize generation outside the timing

    t0 = time.time()
    confirmed = imagesim.phash_ssim_near_dups(
        images, max_hamming=2, min_ssim=0.9
    )
    agg = confirmed.agg(
        F.count("*").alias("pairs"),
        F.sum((F.col("hamming") == 1).cast("long")).alias("h1"),
        F.min("ssim").alias("min_ssim"),
    ).collect()[0]
    wall = time.time() - t0
    assert agg["pairs"] == n_base, agg["pairs"]
    assert agg["h1"] == n_base
    assert agg["min_ssim"] >= 0.9
    out["ssim_verify"] = {
        "images": n_images, "confirmed_pairs": int(agg["pairs"]),
        "wall_s": round(wall, 2),
        "images_per_sec": round(n_images / wall),
        "min_confirmed_ssim": round(float(agg["min_ssim"]), 4),
    }
    images.unpersist()
    spark.stop()
    print(_json.dumps(out))

def part_blobs() -> None:
    """Per-image blob labeling at scale, local[32]: N real-byte 64x64 raw
    images, image i carrying k = (i % 4) + 1 disjoint bright rectangles in
    fixed quadrant positions (quadrant q holds a (3+q) x (5+q) rect) on a
    dark ground. Closed form over ALL images: zero errors, sum(n_blobs) =
    sum of k_i, total blob area = sum of the planted rect areas, and the
    area-desc first blob of every image is its largest planted rect."""
    import json as _json

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from engine import image_codec
    from engine.multimodal import image_blobs

    spark = _spark("bench-blobs")
    n = int(os.environ.get("BLOBS_BENCH_N", "200000"))
    size = 64

    def gen(batches):
        for pdf in batches:
            rows = []
            for key in pdf["id"]:
                k = int(key) % 4 + 1
                px = np.zeros((size, size, 3), dtype=np.uint8)
                for q in range(k):
                    y0 = (q // 2) * 32 + 4
                    x0 = (q % 2) * 32 + 4
                    px[y0:y0 + 3 + q, x0:x0 + 5 + q] = 220
                rows.append(
                    (f"img{int(key):012d}", image_codec.encode_raw(px),
                     size, size, "raw")
                )
            yield pd.DataFrame(
                rows, columns=["image_id", "bytes", "w", "h", "fmt"]
            )

    images = spark.range(0, n, 1, 64).mapInPandas(
        gen, schema="image_id string, bytes binary, w int, h int, fmt string"
    ).persist()
    images.count()
    per_k = n // 4
    want_blobs = sum((k) * per_k for k in (1, 2, 3, 4))
    want_area = per_k * sum(
        sum((3 + q) * (5 + q) for q in range(k)) for k in (1, 2, 3, 4)
    )
    want_top = per_k * sum((2 + k) * (4 + k) for k in (1, 2, 3, 4))

    walls = []
    for _ in range(2):
        t0 = time.time()
        agg = image_blobs(images, threshold=128).agg(
            F.count("*").alias("rows"),
            F.sum(F.col("error").isNotNull().cast("long")).alias("errs"),
            F.sum("n_blobs").alias("nb"),
            F.sum(F.aggregate(
                "blobs", F.lit(0).cast("long"), lambda a, b: a + b["area"]
            )).alias("area"),
            F.sum(F.element_at("blobs", 1)["area"]).alias("top"),
        ).collect()[0]
        walls.append(round(time.time() - t0, 2))
        assert agg["rows"] == n and agg["errs"] == 0
        assert agg["nb"] == want_blobs, (agg["nb"], want_blobs)
        assert agg["area"] == want_area, (agg["area"], want_area)
        assert agg["top"] == want_top, (agg["top"], want_top)
    images.unpersist()
    print(_json.dumps({
        "images": n, "blobs": want_blobs, "walls": walls,
        "images_per_s": round(n / min(walls)),
    }))


def part_viewshed() -> None:
    """Bounded-radius viewshed at raster scale, local[32]: a 4096x4096 FLAT
    elevation plane (16x16 tiles at res=256, 16.8M cells) with 64 observers
    on an 8x8 grid (spacing 512 > 2R, margin 256 >= R) — every sight line is
    grazing, so the strict-angle convention makes each observer see exactly
    its full euclidean lattice disk, the disks are pairwise disjoint, and
    the whole 16.8M-cell output is closed-form checkable: sum(vis) =
    nonzero(vis) = 64 * |{(dx,dy): dx^2+dy^2 <= R^2}|, max(vis) = 1.
    Exercises the halo exchange + per-(tile, near-observer) ray kernel at
    production tile size; min-of-2 walls."""
    import json as _json

    import numpy as np
    from pyspark.sql import functions as F

    from engine import terrain

    spark = _spark("bench-viewshed")
    res = 256
    side = int(os.environ.get("VIEWSHED_BENCH_TILES", "16"))
    w = side * res
    radius = 128
    z0 = 77
    tiles = spark.range(0, side * side, 1, 32).select(
        F.pmod(F.col("id"), side).alias("tx"),
        (F.col("id") / side).cast("long").alias("ty"),
    ).select(
        "tx", "ty",
        F.array_repeat(F.lit(z0).cast("long"), res * res).alias("counts"),
    ).persist()
    tiles.count()
    obs = [
        (256 + 512 * i, 256 + 512 * j)
        for i in range(side // 2) for j in range(side // 2)
    ]
    d = np.arange(-radius, radius + 1, dtype=np.int64)
    n_disk = int(((d[:, None] ** 2 + d[None, :] ** 2) <= radius * radius).sum())

    walls = []
    for _ in range(2):
        t0 = time.time()
        agg = (
            terrain.viewshed(tiles, res, obs, radius=radius)
            .select(F.explode("vis").alias("v"))
            .agg(
                F.count("*").alias("cells"),
                F.sum("v").alias("tot"),
                F.max("v").alias("mx"),
                F.sum((F.col("v") > 0).cast("long")).alias("nz"),
            )
            .collect()[0]
        )
        walls.append(round(time.time() - t0, 2))
        assert agg["cells"] == w * w
        assert agg["tot"] == len(obs) * n_disk, (agg["tot"], n_disk)
        assert agg["mx"] == 1
        assert agg["nz"] == len(obs) * n_disk
    print(_json.dumps({
        "cells": w * w, "observers": len(obs), "radius": radius,
        "disk_cells": n_disk, "walls": walls,
        "cells_per_s": round(w * w / min(walls)),
    }))


def part_edt() -> None:
    """Bounded-radius exact squared-EDT at raster scale, local[32]: the
    4096x4096 raster (16x16 tiles at res=256, 16.8M cells) with sources
    planted on a 128-cell grid offset 64 — every cell is within
    sqrt(2)*64 < R=128 of a source, so the whole output has the modular
    closed form dist2 = min(dx, 128-dx)^2 + min(dy, 128-dy)^2 with
    dx = (gx - 64) mod 128 — asserted for ALL 16.8M pixels via Column
    algebra (no sampling). Min-of-2 walls."""
    import json as _json

    from pyspark.sql import functions as F

    from engine import terrain

    spark = _spark("bench-edt")
    res = 256
    side = int(os.environ.get("EDT_BENCH_TILES", "16"))
    w = side * res
    radius, spacing, off = 128, 128, 64
    counts = F.transform(
        F.sequence(F.lit(0), F.lit(res * res - 1)),
        lambda i: F.when(
            (F.pmod(F.col("tx") * res + F.pmod(i, res) - off, spacing) == 0)
            & (F.pmod(F.col("ty") * res + F.floor(i / res) - off, spacing)
               == 0),
            F.lit(7),
        ).otherwise(F.lit(0)).cast("long"),
    )
    tiles = spark.range(0, side * side, 1, 32).select(
        F.pmod(F.col("id"), side).alias("tx"),
        (F.col("id") / side).cast("long").alias("ty"),
    ).select("tx", "ty", counts.alias("counts")).persist()
    tiles.count()

    walls = {"dist": [], "alloc": []}
    for _ in range(2):
        for mode in ("dist", "alloc"):
            t0 = time.time()
            alloc = mode == "alloc"
            dt = terrain.distance_transform(
                tiles, res, radius=radius, allocate=alloc
            )
            if alloc:
                ex = dt.select(
                    "tx", "ty",
                    F.posexplode(
                        F.arrays_zip("dist2", "alloc")
                    ).alias("pix", "s"),
                ).select(
                    (F.col("tx") * res + F.pmod(F.col("pix"), res))
                    .alias("gx"),
                    (F.col("ty") * res + F.floor(F.col("pix") / res))
                    .alias("gy"),
                    F.col("s.dist2").alias("v"), F.col("s.alloc").alias("ap"),
                )
            else:
                ex = dt.select(
                    "tx", "ty", F.posexplode("dist2").alias("pix", "v")
                ).select(
                    (F.col("tx") * res + F.pmod(F.col("pix"), res))
                    .alias("gx"),
                    (F.col("ty") * res + F.floor(F.col("pix") / res))
                    .alias("gy"),
                    "v",
                )
            dxm = F.pmod(F.col("gx") - off, spacing)
            dym = F.pmod(F.col("gy") - off, spacing)
            dx = F.least(dxm, spacing - dxm)
            dy = F.least(dym, spacing - dym)
            aggs = [
                F.count("*").alias("cells"),
                F.sum(
                    (F.col("v") == dx * dx + dy * dy).cast("long")
                ).alias("ok"),
            ]
            if alloc:
                # lexicographic (sx, sy) winner: exact-mid ties go LEFT/UP
                # when that source exists (at gx=0 the left mid-tie
                # candidate would be -64 — off the raster)
                sx = F.when(
                    (dxm * 2 < spacing)
                    | ((dxm * 2 == spacing) & (F.col("gx") >= dxm)),
                    F.col("gx") - dxm,
                ).otherwise(F.col("gx") + spacing - dxm)
                sy = F.when(
                    (dym * 2 < spacing)
                    | ((dym * 2 == spacing) & (F.col("gy") >= dym)),
                    F.col("gy") - dym,
                ).otherwise(F.col("gy") + spacing - dym)
                want = (sx + (1 << 20)) * (1 << 32) + sy + (1 << 20)
                aggs.append(
                    F.sum((F.col("ap") == want).cast("long")).alias("aok")
                )
            agg = ex.agg(*aggs).collect()[0]
            walls[mode].append(round(time.time() - t0, 2))
            assert agg["cells"] == w * w
            assert agg["ok"] == w * w, agg["ok"]
            if alloc:
                assert agg["aok"] == w * w, agg["aok"]
    print(_json.dumps({
        "cells": w * w, "radius": radius, "spacing": spacing, "walls": walls,
        "cells_per_s": round(w * w / min(walls["dist"])),
        "alloc_cells_per_s": round(w * w / min(walls["alloc"])),
    }))


def part_costsurface() -> None:
    """Nearest-source cost surface at raster scale, local[32]: the full
    4096x4096 uniform cost-1 raster (16x16 tiles at res 256, 16.8M cells),
    ONE center source, NO cost cap — the regime where the per-(source,cell)
    edge-frontier cost_distance is structurally wrong (hop diameter ~2048 =
    ~2048 Bellman rounds over 134M directed edges) and the tile-native halo
    Dijkstra (terrain.cost_surface) is the scale path: ~9 block-Jacobi
    rounds (the wavefront crosses 8 tile seams), one 66k-cell in-tile exact
    solve per frontier tile per round, stationarity sweeps elsewhere, cells
    never shuffled. Closed-form exact for ALL 16.8M cells: dist =
    14*min(ax, ay) + 10*(max - min) octile from the center, checked via one
    Column filter. Min-of-2 walls."""
    import json as _json

    from pyspark.sql import functions as F

    from engine import terrain

    spark = _spark("bench-costsurface")
    res = 256
    side = int(os.environ.get("COST_BENCH_TILES", "16"))
    w = side * res
    cx = cy = w // 2
    tiles = (
        spark.range(0, side * side, 1, 32)
        .select(
            F.pmod(F.col("id"), side).alias("tx"),
            (F.col("id") / side).cast("long").alias("ty"),
        )
        .select(
            "tx", "ty",
            F.transform(
                F.sequence(F.lit(0), F.lit(res * res - 1)),
                lambda i: F.lit(1).cast("long"),
            ).alias("counts"),
        )
        .persist()
    )
    tiles.count()
    walls = []
    oks = []
    for _ in range(2):
        t0 = time.time()
        d = terrain.cost_surface(tiles, res, [(cx, cy)])
        cells = d.select(
            "tx", "ty", F.posexplode("cost_dist").alias("pix", "d")
        ).select(
            (F.col("tx") * res + F.pmod(F.col("pix"), res)).alias("gx"),
            (F.col("ty") * res + F.floor(F.col("pix") / res))
            .cast("long").alias("gy"),
            "d",
        )
        ax = F.abs(F.col("gx") - cx)
        ay = F.abs(F.col("gy") - cy)
        lo = F.least(ax, ay)
        hi = F.greatest(ax, ay)
        agg = cells.agg(
            F.count("*").alias("cells"),
            F.sum(
                F.when(
                    F.col("d") != F.lit(14) * lo + F.lit(10) * (hi - lo), 1
                ).otherwise(0)
            ).alias("bad"),
        ).collect()[0]
        walls.append(round(time.time() - t0, 2))
        oks.append(int(agg["bad"]) == 0 and agg["cells"] == w * w)
    assert all(oks), oks
    wall = min(walls)
    print(_json.dumps({
        "bench": "costsurface_16p8M_center_source",
        "cells": w * w,
        "walls_s": walls,
        "wall_s": wall,
        "cells_per_s": round(w * w / wall),
        "exact": "dist == 14*min+10*(max-min) octile for all 16.8M cells",
    }))



def part_catchcost() -> None:
    """Catchments + cost-distance at raster scale, closed-form exact.

    Catchments: the 4096x4096 z = 3x + 5y plane (16x16 tiles, res 256,
    16.8M cells) drains SW-diagonally to the x=0 / y=0 boundary, then along
    it to the single (0,0) sink; outlets at (0,100), (100,0) and (0,0) cut
    the forest so every cell's owner is closed-form: (0,100) iff
    gy-gx >= 100, (100,0) iff gx-gy >= 100, else (0,0). Path lengths up to
    ~8k cells drive ~13 pointer-doubling rounds over 16.8M pointers.

    Cost-distance: uniform cost-1 1024x1024 raster (1M cells, ~8.4M
    directed octile edges), 4 quadrant-center sources sharing one SSSP
    pass, max_cost=640 (64-cell octile radius, 65 wavefront rounds);
    every (source, cell) label must equal 14*min+10*(max-min) exactly.
    """
    import json as _json

    from pyspark.sql import functions as F

    from engine import terrain

    out = {}
    spark = _spark("bench-catchcost")

    # ---- catchments on the 16.8M-cell giant-drainage plane ----
    res = int(os.environ.get("CATCH_BENCH_RES", "256"))
    side = 4096 // res
    w = side * res
    counts = F.transform(
        F.sequence(F.lit(0), F.lit(res * res - 1)),
        lambda i: (
            3 * (F.col("tx") * res + F.pmod(i, res))
            + 5 * (F.col("ty") * res + F.floor(i / res))
        ).cast("long"),
    )
    tiles = spark.range(0, side * side, 1, 32).select(
        F.pmod(F.col("id"), side).alias("tx"),
        (F.col("id") / side).cast("long").alias("ty"),
    ).select("tx", "ty", counts.alias("counts")).persist()
    tiles.count()
    t0 = time.time()
    flow = terrain.d8_flow(tiles, res)
    got = terrain.catchments(flow, res, [(0, 100), (100, 0), (0, 0)])
    want_oy = F.when(F.col("gy") - F.col("gx") >= 100, F.lit(100)).otherwise(0)
    want_ox = F.when(F.col("gx") - F.col("gy") >= 100, F.lit(100)).otherwise(0)
    agg = got.agg(
        F.count("*").alias("cells"),
        F.sum(
            (
                (F.col("outlet_gx") == want_ox) & (F.col("outlet_gy") == want_oy)
            ).cast("long")
        ).alias("ok"),
        F.sum(((F.col("outlet_gy") == 100)).cast("long")).alias("n_up"),
    ).collect()[0]
    wall = time.time() - t0
    assert agg["cells"] == w * w, agg["cells"]
    assert agg["ok"] == w * w, agg["ok"]
    # |{gy-gx >= 100}| over the w x w grid: sum_{d=100}^{w-1} (w - d)
    want_up = sum(w - d for d in range(100, w))
    assert agg["n_up"] == want_up, agg["n_up"]
    out["catchments"] = {
        "cells": w * w, "res": res, "outlets": 3,
        "wall_s": round(wall, 2), "cells_per_sec": round(w * w / wall),
    }
    tiles.unpersist()
    spark.catalog.clearCache()

    # ---- cost-distance: 1M-cell friction plane, 4 sources, one pass ----
    cside = int(os.environ.get("COST_BENCH_SIDE", "4"))
    cw = cside * res
    ones = F.array_repeat(F.lit(1).cast("long"), res * res)
    ctiles = spark.range(0, cside * cside, 1, 16).select(
        F.pmod(F.col("id"), cside).alias("tx"),
        (F.col("id") / cside).cast("long").alias("ty"),
    ).select("tx", "ty", ones.alias("cost")).persist()
    ctiles.count()
    q = cw // 4
    sources = [(q, q), (3 * q, q), (q, 3 * q), (3 * q, 3 * q)]
    max_cost = 640
    t0 = time.time()
    d = terrain.cost_distance(
        ctiles, res, sources, max_cost=max_cost, max_rounds=80
    )
    ax = F.abs(F.col("gx") - F.col("source_gx"))
    ay = F.abs(F.col("gy") - F.col("source_gy"))
    octile = 14 * F.least(ax, ay) + 10 * (F.greatest(ax, ay) - F.least(ax, ay))
    agg = d.agg(
        F.count("*").alias("labels"),
        F.sum((F.col("dist") == octile).cast("long")).alias("ok"),
        F.countDistinct("source_gx", "source_gy").alias("n_src"),
    ).collect()[0]
    wall = time.time() - t0
    assert agg["labels"] == agg["ok"], (agg["labels"], agg["ok"])
    assert agg["n_src"] == 4
    # per source: the octile disk 14*min+10*(max-min) <= 640 (interior, so
    # no clipping: radius 64 < q)
    disk = sum(
        1
        for dx in range(-64, 65)
        for dy in range(-64, 65)
        if 14 * min(abs(dx), abs(dy))
        + 10 * (max(abs(dx), abs(dy)) - min(abs(dx), abs(dy))) <= 640
    )
    assert agg["labels"] == 4 * disk, (agg["labels"], 4 * disk)
    out["cost_distance"] = {
        "cells": cw * cw, "sources": 4, "max_cost": max_cost,
        "labels": int(agg["labels"]), "wall_s": round(wall, 2),
    }
    ctiles.unpersist()
    spark.stop()
    print(_json.dumps(out))


def part_burn() -> None:
    """Polygon rasterization (scanline burn) at scale, local[32]: 250k
    disjoint diamonds with integer radii 2..5 centered exactly on pixel
    centers of a pitch-1 grid. A radius-r diamond burns exactly 2*r^2 pixels
    under the half-open cell-center rule (the apex rows contribute an empty
    span), so BOTH the winner-pixel count and the summed burn value are
    closed-form — every one of the ~6.8M output pixels is accounted for.
    A second timed draw stacks each diamond with a same-center radius-2
    rival at lower priority to price the winner aggregation under overlap."""
    import json as _json

    from pyspark.sql import functions as F

    from engine import raster

    out = {}
    spark = _spark("bench-burn")
    n = int(os.environ.get("BURN_BENCH_POLYS", "250000"))
    k = int(n ** 0.5)  # k x k lattice of diamond centers
    n = k * k
    rmax, step = 5, 12  # centers 12 pixels apart: radii <= 5 stay disjoint
    res = 16

    def diamonds(df, rad, pid_off=0, pri=1):
        cx = (F.pmod(F.col("id"), k) * step + F.lit(0.5)).cast("double")
        cy = ((F.col("id") / k).cast("long") * step + F.lit(0.5)).cast(
            "double"
        )
        r = rad.cast("double")

        def pt(x, y):
            return F.struct(x.alias("x"), y.alias("y"))

        return df.select(
            (F.col("id") + pid_off).alias("poly_id"),
            F.array(
                F.array(
                    pt(cx + r, cy), pt(cx, cy + r),
                    pt(cx - r, cy), pt(cx, cy - r),
                )
            ).alias("rings"),
            r.cast("long").alias("v"),
            F.lit(pri).cast("long").alias("pri"),
        )

    base = spark.range(0, n, 1, 64)
    rad = F.pmod(F.col("id"), rmax - 1) + 2  # 2..5
    polys = diamonds(base, rad).persist()
    n_polys = polys.count()
    t0 = time.time()
    got = raster.rasterize_polygons(
        polys, float(res), res, rings_col="rings",
        value_col="v", priority_col="pri",
    ).agg(
        F.count("*").alias("px"), F.sum("value").alias("vsum")
    ).collect()[0]
    wall = time.time() - t0
    # closed forms: sum over the radius cycle of 2r^2 (and r * 2r^2 for vsum)
    radii = [(i % (rmax - 1)) + 2 for i in range(rmax - 1)]
    per_cycle_px = sum(2 * r * r for r in radii)
    per_cycle_v = sum(r * 2 * r * r for r in radii)
    full, rem = divmod(n, rmax - 1)
    want_px = full * per_cycle_px + sum(2 * r * r for r in radii[:rem])
    want_v = full * per_cycle_v + sum(r * 2 * r * r for r in radii[:rem])
    assert got["px"] == want_px, (got["px"], want_px)
    assert got["vsum"] == want_v, (got["vsum"], want_v)
    out["burn"] = {
        "polys": n_polys, "pixels": int(got["px"]),
        "wall_s": round(wall, 2),
        "polys_per_s": round(n_polys / wall),
        "pixels_per_s": round(got["px"] / wall),
    }
    # overlap draw: every diamond fights a same-center radius-2 rival at
    # LOWER priority -> rivals never win a pixel; totals unchanged
    rivals = diamonds(base, F.lit(2), pid_off=n, pri=0)
    both = polys.unionByName(rivals).persist()
    both.count()
    t0 = time.time()
    got2 = raster.rasterize_polygons(
        both, float(res), res, rings_col="rings",
        value_col="v", priority_col="pri",
    ).agg(F.count("*").alias("px"), F.sum("value").alias("vsum")).collect()[0]
    wall2 = time.time() - t0
    assert got2["px"] == want_px and got2["vsum"] == want_v
    out["burn_overlap"] = {
        "polys": 2 * n_polys, "wall_s": round(wall2, 2),
        "pixels_per_s": round(got2["px"] / wall2),
    }
    both.unpersist()
    polys.unpersist()
    spark.stop()
    print(_json.dumps(out))


def part_augment() -> None:
    """Augmentation ops at scale, local[32]: N real-byte 64x64 raw images
    with the part_blobs planted-rectangle structure (image i holds
    k = i%4 + 1 disjoint bright rects of known dims). Three timed passes,
    each with a closed-form structural check over ALL images:
    - equalize: the two-valued frames map background -> 0 and rects -> 255,
      so blob extraction at threshold 250 recovers the planted count/area
      exactly (equalization preserved and maximally stretched the structure);
    - affine rot90: blob count/area/top-area are rotation-invariant (rect
      dims swap, areas do not);
    - patches 32x32: exactly 4 full patches per image, total raw payload
      = 4n * 32*32*3 bytes."""
    import json as _json

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from engine import image_codec
    from engine.multimodal import (
        image_affine, image_blobs, image_equalize, image_patches,
    )

    spark = _spark("bench-augment")
    n = int(os.environ.get("AUGMENT_BENCH_N", "200000"))
    size = 64

    def gen(batches):
        for pdf in batches:
            rows = []
            for key in pdf["id"]:
                k = int(key) % 4 + 1
                px = np.zeros((size, size, 3), dtype=np.uint8)
                for q in range(k):
                    y0 = (q // 2) * 32 + 4
                    x0 = (q % 2) * 32 + 4
                    px[y0:y0 + 3 + q, x0:x0 + 5 + q] = 220
                rows.append(
                    (f"img{int(key):012d}", image_codec.encode_raw(px),
                     size, size, "raw")
                )
            yield pd.DataFrame(
                rows, columns=["image_id", "bytes", "w", "h", "fmt"]
            )

    images = spark.range(0, n, 1, 64).mapInPandas(
        gen, schema="image_id string, bytes binary, w int, h int, fmt string"
    ).persist()
    images.count()
    per_k = n // 4
    want_blobs = sum(k * per_k for k in (1, 2, 3, 4))
    want_area = per_k * sum(
        sum((3 + q) * (5 + q) for q in range(k)) for k in (1, 2, 3, 4)
    )
    out = {}

    def blob_agg(df, thr):
        return df.select(
            F.sum(F.col("error").isNotNull().cast("long")).alias("errs"),
            F.sum("n_blobs").alias("nb"),
            F.sum(
                F.aggregate(
                    F.transform(F.col("blobs"), lambda b: b["area"]),
                    F.lit(0).cast("long"), lambda a, v: a + v,
                )
            ).alias("area"),
        ).collect()[0]

    t0 = time.time()
    eq = blob_agg(
        image_blobs(image_equalize(images), threshold=250), 250
    )
    wall = time.time() - t0
    assert eq["errs"] == 0 and eq["nb"] == want_blobs, eq
    assert eq["area"] == want_area, (eq["area"], want_area)
    out["equalize"] = {"images": n, "wall_s": round(wall, 2),
                       "images_per_s": round(n / wall)}

    t0 = time.time()
    rot = blob_agg(
        image_blobs(
            image_affine(images, (0, 1, -1, 0, 0, size - 1), 1, size, size),
            threshold=128,
        ),
        128,
    )
    wall = time.time() - t0
    assert rot["errs"] == 0 and rot["nb"] == want_blobs, rot
    assert rot["area"] == want_area, (rot["area"], want_area)
    out["affine_rot90"] = {"images": n, "wall_s": round(wall, 2),
                           "images_per_s": round(n / wall)}

    t0 = time.time()
    pt = image_patches(images, patch=32).agg(
        F.count("*").alias("rows"),
        F.sum(F.col("error").isNotNull().cast("long")).alias("errs"),
        F.sum(F.length("bytes")).alias("payload"),
    ).collect()[0]
    wall = time.time() - t0
    assert pt["errs"] == 0 and pt["rows"] == 4 * n, pt
    assert pt["payload"] == 4 * n * 32 * 32 * 3, pt["payload"]
    out["patches"] = {
        "images": n, "patch_rows": int(pt["rows"]),
        "wall_s": round(wall, 2),
        "patches_per_s": round(pt["rows"] / wall),
    }
    images.unpersist()
    spark.stop()
    print(_json.dumps(out))


def part_overlay() -> None:
    """Intersection-area overlay at scale, local[32]: 100k subject squares
    (side 2, lattice-jittered at 1/16 granularity) x 64 convex zone squares
    (side 8, disjoint 8x8 grid spaced 10 — span 80 keeps every coordinate
    inside the grid index's lat domain), every positive-overlap pair's area
    CLOSED-FORM checkable because all rects are axis-aligned: area =
    overlap_w * overlap_h, and all boundaries are multiples of 1/16 so the
    float algebra is exact. Asserts the pair count and the total
    intersection area; also times the boolean overlay on the same input for
    the blocking-cost comparison."""
    import json as _json

    from pyspark.sql import functions as F

    from engine.overlay import polygon_area_overlay_join, polygon_overlay_join

    spark = _spark("bench-overlay")
    n_a = int(os.environ.get("OVERLAY_BENCH_A", "100000"))
    n_bx = 8  # zones: 8 x 8 grid of 8x8 squares spaced 10 apart (span 80 < 90)
    # subjects: centers on a jittered lattice inside the zone field
    span = n_bx * 10.0

    def rect_rows(df, x0, y0, side, id_off):
        x1, y1 = x0 + side, y0 + side
        ring = F.array(
            F.struct(x0.alias("lon"), y0.alias("lat")),
            F.struct(x1.alias("lon"), y0.alias("lat")),
            F.struct(x1.alias("lon"), y1.alias("lat")),
            F.struct(x0.alias("lon"), y1.alias("lat")),
        )
        return df.select(
            (F.col("id") + id_off).alias("poly_id"),
            F.struct(
                F.struct(x0.alias("lon"), y0.alias("lat")).alias("min"),
                F.struct(x1.alias("lon"), y1.alias("lat")).alias("max"),
            ).alias("bbox"),
            F.array(ring).alias("rings"),
        )

    # subject squares: deterministic fractional offsets from xxhash
    base_a = spark.range(0, n_a, 1, 64)
    ax0 = (F.pmod(F.xxhash64("id", F.lit(1)), int(span * 16)) / 16.0)
    ay0 = (F.pmod(F.xxhash64("id", F.lit(2)), int(span * 16)) / 16.0)
    A = rect_rows(base_a, ax0, ay0, 2.0, 0).persist()
    base_b = spark.range(0, n_bx * n_bx, 1, 8)
    bx0 = F.pmod(F.col("id"), n_bx).cast("double") * 10.0 + 1.0
    by0 = (F.col("id") / n_bx).cast("long").cast("double") * 10.0 + 1.0
    B = rect_rows(base_b, bx0, by0, 8.0, 10**6).persist()
    A.count(); B.count()

    t0 = time.time()
    got = polygon_area_overlay_join(A, B).agg(
        F.count("*").alias("pairs"),
        F.sum("area").alias("total"),
    ).collect()[0]
    wall_area = time.time() - t0
    # closed form, independent of the kernel: pure interval-overlap algebra
    # per candidate (subject, zone) pair. RAW (unclamped) widths distinguish
    # boundary touches (w == 0, counted by the boolean overlay) from
    # positive overlap (w > 0, the area join's pairs).
    def zseq(a0):
        lo = F.greatest(F.lit(0), F.floor((a0 - 9.0) / 10.0).cast("int"))
        hi = F.least(F.lit(n_bx - 1), F.floor((a0 + 1.0) / 10.0).cast("int"))
        return F.when(lo <= hi, F.sequence(lo, hi)).otherwise(
            F.array().cast("array<int>")
        )

    def raw(a0, z):
        return F.least(a0 + 2.0, z * 10.0 + 9.0) - F.greatest(a0, z * 10.0 + 1.0)

    pts = base_a.select(ax0.alias("ax0"), ay0.alias("ay0"))
    cand = (
        pts.select("ax0", "ay0", F.explode(zseq(F.col("ax0"))).alias("zx"))
        .select("ay0", raw(F.col("ax0"), F.col("zx")).alias("wx"))
        .filter(F.col("wx") >= 0)
        .select("wx", "ay0", F.explode(zseq(F.col("ay0"))).alias("zy"))
        .select("wx", raw(F.col("ay0"), F.col("zy")).alias("wy"))
        .filter(F.col("wy") >= 0)
    )
    want = cand.agg(
        F.count("*").alias("bool_pairs"),
        F.sum(((F.col("wx") > 0) & (F.col("wy") > 0)).cast("long")).alias("pairs"),
        F.sum(
            F.when((F.col("wx") > 0) & (F.col("wy") > 0),
                   F.col("wx") * F.col("wy")).otherwise(F.lit(0.0))
        ).alias("total"),
    ).collect()[0]
    assert got["pairs"] == want["pairs"], (got["pairs"], want["pairs"])
    assert abs(got["total"] - want["total"]) < 1e-6 * max(1.0, want["total"])
    out = {"overlay_area": {
        "subjects": n_a, "zones": n_bx * n_bx, "pairs": int(got["pairs"]),
        "wall_s": round(wall_area, 2),
        "pairs_per_s": round(got["pairs"] / wall_area),
    }}
    t0 = time.time()
    nb = polygon_overlay_join(A, B).count()
    wall_bool = time.time() - t0
    assert nb == want["bool_pairs"], (nb, want["bool_pairs"])
    out["overlay_bool"] = {"pairs": int(nb), "wall_s": round(wall_bool, 2)}
    A.unpersist(); B.unpersist()
    spark.stop()
    print(_json.dumps(out))


def part_dissolve_net() -> None:
    """Segment-network dissolve at 4M segments (r5): 500k disjoint square
    loops of 8 segments each on a sparse lattice — closed form: components
    == loops, every one is_loop (n_odd 0), n_nodes 8, length_e6 exactly
    8 * 500_000 per loop (each side 0.5 units). A/B: generic CC vs
    engine.graph.tile_local_components (the contour-linking fast path reused
    through dissolve_segments(method=...)), identical-label digest proof."""
    import json as _json

    from pyspark.sql import functions as F

    from engine.lines import dissolve_segments

    spark = _spark("bench-dissolve-net")
    n_loops = int(os.environ.get("DISSOLVE_BENCH_LOOPS", "500000"))
    side = int(np.ceil(np.sqrt(n_loops)))
    base = spark.range(0, n_loops * 8, 1, 64).select(
        F.col("id").alias("seg_id"),
        (F.col("id") / 8).cast("long").alias("_loop"),
        F.pmod(F.col("id"), 8).alias("_k"),
    )
    # loop corner grid spacing 3.0; the 8 half-unit segments trace the unit
    # square: corners (0,0)(.5,0)(1,0)(1,.5)(1,1)(.5,1)(0,1)(0,.5)
    cx = (F.pmod(F.col("_loop"), side) * 3.0)
    cy = ((F.col("_loop") / side).cast("long") * 3.0)
    px = F.array(*[F.lit(v) for v in [0.0, 0.5, 1.0, 1.0, 1.0, 0.5, 0.0, 0.0]])
    py = F.array(*[F.lit(v) for v in [0.0, 0.0, 0.0, 0.5, 1.0, 1.0, 1.0, 0.5]])
    k1 = (F.pmod(F.col("_k") + 1, 8) + 1).cast("int")
    k0 = (F.col("_k") + 1).cast("int")
    segs = base.select(
        "seg_id",
        F.lit(0).alias("cls"),
        (cx + F.element_at(px, k0)).alias("x1"),
        (cy + F.element_at(py, k0)).alias("y1"),
        (cx + F.element_at(px, k1)).alias("x2"),
        (cy + F.element_at(py, k1)).alias("y2"),
    ).persist()
    n_segs = segs.count()
    out = {"part": "dissolve_net", "segments": n_segs, "loops": n_loops}
    digests = {}
    for method in ("cc", "tiles"):
        t0 = time.time()
        memb, summ = dissolve_segments(
            segs, cls_col="cls", scale=100.0, method=method
        )
        row = summ.agg(
            F.count("*").alias("comps"),
            F.sum(F.when(F.col("is_loop"), 1).otherwise(0)).alias("loops"),
            F.min("n_nodes").alias("mn_nodes"),
            F.max("n_nodes").alias("mx_nodes"),
            F.min("length_e6").alias("mn_len"),
            F.max("length_e6").alias("mx_len"),
        ).collect()[0]
        mrow = memb.agg(
            F.coalesce(F.bit_xor(F.xxhash64("seg_id", "comp")), F.lit(0))
            .alias("dig"),
            F.count("*").alias("n"),
        ).collect()[0]
        wall = time.time() - t0
        assert row["comps"] == row["loops"] == n_loops, row
        assert row["mn_nodes"] == row["mx_nodes"] == 8, row
        assert row["mn_len"] == row["mx_len"] == 8 * 500_000, row
        assert mrow["n"] == n_segs
        digests[method] = mrow["dig"]
        out[f"dissolve_{method}"] = {
            "wall_s": round(wall, 2),
            "segments_per_sec": round(n_segs / wall),
        }
    assert digests["cc"] == digests["tiles"], digests
    out["labels_identical"] = True
    out["tiles_speedup"] = round(
        out["dissolve_cc"]["wall_s"] / out["dissolve_tiles"]["wall_s"], 2
    )
    segs.unpersist()
    spark.stop()
    print(_json.dumps(out))


def part_dissolve() -> None:
    """Dissolve union area at scale, local[32]: 1M int rects in 1000 groups,
    each group K=1000 side-64 squares at x-stride 1 (a maximally-overlapping
    shingle — every rect overlaps its 63 neighbors), union area per group
    CLOSED-FORM: 64 * (64 + K - 1). The overlap depth (64x) is exactly the
    regime where sum-of-areas is 60x wrong and only the measure is right.
    Asserts every group's area, n_rects, and extent."""
    import json as _json

    from pyspark.sql import functions as F

    from engine.dissolve import rect_union_area

    spark = _spark("bench-dissolve")
    n_groups = int(os.environ.get("DISSOLVE_BENCH_GROUPS", "1000"))
    k = int(os.environ.get("DISSOLVE_BENCH_K", "1000"))
    side = 64
    base = spark.range(0, n_groups * k, 1, 64)
    g = (F.col("id") / k).cast("long")
    i = F.pmod(F.col("id"), k)
    # jitter each group's origin deterministically so cells don't align
    ox = F.pmod(g * 2654435761, 100000)
    oy = F.pmod(g * 40503, 100000)
    rects = base.select(
        g.alias("group_id"),
        (ox + i).alias("x0"), oy.alias("y0"),
        (ox + i + side).alias("x1"), (oy + side).alias("y1"),
    ).persist()
    rects.count()
    t0 = time.time()
    bad = rect_union_area(rects, cell=256).where(
        (F.col("union_area") != side * (side + k - 1))
        | (F.col("n_rects") != k)
        | (F.col("maxx") - F.col("minx") != side + k - 1)
        | (F.col("maxy") - F.col("miny") != side)
    ).count()
    wall = time.time() - t0
    assert bad == 0, f"{bad} groups off closed form"
    rects.unpersist()
    spark.stop()
    print(_json.dumps({"dissolve": {
        "rects": n_groups * k, "groups": n_groups, "overlap_depth": side,
        "wall_s": round(wall, 2),
        "rects_per_s": round(n_groups * k / wall),
    }}))


def part_pointstats() -> None:
    """Variogram + Ripley's K at scale, local[32]: an m x m unit lattice
    (default 2048^2 = 4.2M points) with v = x + y, max_lag 3. Every bin of
    both statistics is CLOSED-FORM from displacement counting: unordered
    pairs at displacement (dx, dy) (canonical dx>0 or dx=0,dy>0) number
    (m-dx)(m-|dy|) with dv^2 = (dx+dy)^2, so per-bin n_pairs / sum_sq_dv /
    cumulative slot counts are exact integers the run must reproduce —
    ~59M pair rows through the blocked join at defaults, all asserted."""
    import json as _json
    import math as _math

    from pyspark.sql import functions as F

    from engine.pointstats import ripleys_k, variogram

    spark = _spark("bench-pointstats")
    m = int(os.environ.get("POINTSTATS_BENCH_M", "2048"))
    max_lag, n_bins = 3.0, 3
    w = max_lag / n_bins
    base = spark.range(0, m * m, 1, 64)
    xs = F.pmod(F.col("id"), m).cast("double")
    ys = (F.col("id") / m).cast("long").cast("double")
    pts = base.select(
        F.col("id").alias("id"), xs.alias("x"), ys.alias("y"),
        (xs + ys).cast("long").alias("v"),
    ).persist()
    n = pts.count()

    # closed-form displacement enumeration
    vari = {}
    slots = {}
    ll = int(max_lag)
    for dx in range(0, ll + 1):
        for dy in range(-ll, ll + 1):
            if dx == 0 and dy <= 0:
                continue
            d2 = dx * dx + dy * dy
            if d2 > max_lag * max_lag:
                continue
            cnt = (m - dx) * (m - abs(dy))
            d = _math.sqrt(float(d2))
            b = min(int(_math.floor(d / w)), n_bins - 1)
            c, s = vari.get(b, (0, 0))
            vari[b] = (c + cnt, s + cnt * (dx + dy) ** 2)
            sl = max(int(_math.ceil(d / w)), 1)
            slots[sl] = slots.get(sl, 0) + cnt

    t0 = time.time()
    got_v = {
        r["bin"]: (r["n_pairs"], r["sum_sq_dv"])
        for r in variogram(pts, max_lag, n_bins).collect()
    }
    wall_v = time.time() - t0
    assert got_v == vari, f"variogram bins off: {got_v} != {vari}"

    t0 = time.time()
    got_k = {
        round(r["r"] / w): r["n_pairs_le"]
        for r in ripleys_k(pts, max_lag, n_bins, area=float(m * m)).collect()
    }
    wall_k = time.time() - t0
    cum, want_k = 0, {}
    for sl in range(1, n_bins + 1):
        cum += slots.get(sl, 0)
        want_k[sl] = cum
    assert got_k == want_k, f"K slots off: {got_k} != {want_k}"
    total_pairs = cum
    pts.unpersist()
    spark.stop()
    print(_json.dumps({"pointstats": {
        "points": n, "pair_rows": total_pairs,
        "variogram_wall_s": round(wall_v, 2),
        "ripley_wall_s": round(wall_k, 2),
        "pairs_per_s_variogram": round(total_pairs / wall_v),
    }}))



def part_horizon() -> None:
    """Horizon angles + SVF at raster scale, local[32]: a 4096x4096 ramp
    plane z = 3x + 5y (64x64 tiles at res=64, 16.8M cells), radius 6. On a
    ramp every step along a direction has the SAME tangent (dz_s/s =
    3dx+5dy), so the nearest-sample tie-break fires at EVERY pixel and the
    closed form is exact: hor_d = (max(0, 3dx+5dy), 1) wherever the s=1
    neighbor is in-raster, (0, 1) on the outermost ring in outward
    directions. The whole 16.8M x 8-direction output is asserted
    distributed (zero mismatches); min-of-2 walls."""
    import json as _json

    from pyspark.sql import functions as F

    from engine import terrain
    from engine.terrain import _HORIZON_DIRS

    spark = _spark("bench-horizon")
    res = 64
    side = int(os.environ.get("HORIZON_BENCH_TILES", "64"))
    w = side * res
    radius = 6
    counts = F.transform(
        F.sequence(F.lit(0), F.lit(res * res - 1)),
        lambda i: (
            3 * (F.col("tx") * res + F.pmod(i, res))
            + 5 * (F.col("ty") * res + F.floor(i / res))
        ).cast("long"),
    )
    tiles = spark.range(0, side * side, 1, 32).select(
        F.pmod(F.col("id"), side).alias("tx"),
        (F.col("id") / side).cast("long").alias("ty"),
    ).select("tx", "ty", counts.alias("counts")).persist()
    tiles.count()

    walls = []
    for _ in range(2):
        t0 = time.time()
        hz = terrain.horizon_angles(tiles, res, radius)
        ex = hz.select(
            "tx", "ty",
            F.posexplode(
                F.arrays_zip(*[
                    c for i in range(8)
                    for c in (f"h{i}_num", f"h{i}_den")
                ])
            ).alias("pix", "v"),
        ).select(
            (F.col("tx") * res + F.pmod(F.col("pix"), res)).alias("gx"),
            (F.col("ty") * res + F.floor(F.col("pix") / res)).alias("gy"),
            "v",
        )
        bad_expr = F.lit(0)
        for i, (dx, dy) in enumerate(_HORIZON_DIRS):
            grad = 3 * dx + 5 * dy
            # s=1 sample in-bounds?
            inb = (
                (F.col("gx") + dx >= 0) & (F.col("gx") + dx < w)
                & (F.col("gy") + dy >= 0) & (F.col("gy") + dy < w)
            )
            want_n = F.when(inb, F.lit(max(0, grad))).otherwise(F.lit(0))
            bad_expr = bad_expr + (
                (F.col(f"v.h{i}_num") != want_n)
                | (F.col(f"v.h{i}_den") != F.lit(1))
            ).cast("long")
        agg = ex.agg(
            F.count("*").alias("cells"), F.sum(bad_expr).alias("bad")
        ).collect()[0]
        walls.append(round(time.time() - t0, 2))
        assert agg["cells"] == w * w, agg
        assert agg["bad"] == 0, agg
    print(_json.dumps({
        "cells": w * w, "radius": radius, "dirs": 8, "walls": walls,
        "cells_per_s": round(w * w / min(walls)),
    }))


def part_vision() -> None:
    """Template matching + Harris corners at image scale, local[32]: 100k
    synthetic 32x32 raw-RGB images, each with the SAME 6x5 template planted
    at an id-derived offset (ox = id % 26, oy = (id * 7) % 27) over an
    id-seeded noise background. Closed-form asserts, all distributed:
    every image's best match is the planted offset with ssd = 0 (the
    random background makes a second exact match vanishingly unlikely at
    755 candidate placements — asserted, not assumed), and Harris on a
    white-square probe set finds >= 4 corners per image. min-of-2 walls
    per kernel."""
    import json as _json

    import numpy as np
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from engine import image_codec, multimodal

    spark = _spark("bench-vision")
    n = int(os.environ.get("VISION_BENCH_N", "100000"))
    rngT = np.random.default_rng(4242)
    TPL = rngT.integers(0, 256, size=(5, 6, 3), dtype=np.uint8)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for iid in pdf["id"]:
                i = int(iid)
                rng = np.random.default_rng(1000 + i)
                px = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
                ox, oy = i % 26, (i * 7) % 27
                px[oy : oy + 5, ox : ox + 6] = TPL
                rows.append((str(i), image_codec.encode_raw(px), 32, 32, "raw"))
            yield pd.DataFrame(
                rows, columns=["image_id", "bytes", "w", "h", "fmt"]
            )

    schema = T.StructType([
        T.StructField("image_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
    ])
    imgs = spark.range(0, n, 1, 64).mapInPandas(gen, schema).persist()
    imgs.count()

    out = {"images": n}
    walls = []
    for _ in range(2):
        t0 = time.time()
        m = multimodal.template_match(imgs, TPL)
        iid = F.col("image_id").cast("long")
        agg = m.agg(
            F.count("*").alias("rows"),
            F.sum((F.col("ssd") == 0).cast("long")).alias("zeros"),
            F.sum(
                (
                    (F.col("best_x") == F.pmod(iid, 26))
                    & (F.col("best_y") == F.pmod(iid * 7, 27))
                ).cast("long")
            ).alias("at_plant"),
            F.sum((F.col("error").isNull()).cast("long")).alias("ok"),
        ).collect()[0]
        walls.append(round(time.time() - t0, 2))
        assert agg["rows"] == n and agg["ok"] == n, agg
        assert agg["zeros"] == n and agg["at_plant"] == n, agg
    out["template_walls"] = walls
    out["template_images_per_s"] = round(n / min(walls))

    hwalls = []
    for _ in range(2):
        t0 = time.time()
        h = multimodal.harris_corners(imgs, max_corners=16)
        agg = h.agg(
            F.count("*").alias("rows"),
            F.sum((F.col("error").isNotNull()).cast("long")).alias("errs"),
        ).collect()[0]
        hwalls.append(round(time.time() - t0, 2))
        assert agg["errs"] == 0, agg
    out["harris_walls"] = hwalls
    out["harris_images_per_s"] = round(n / min(hwalls))
    print(_json.dumps(out))



def part_access() -> None:
    """2SFCA accessibility at scale, local[32]: 1M demand points on the
    unit lattice (1000x1000, population 3 each), 100 supply sites on the
    100-spaced center lattice (capacity 7), radius 30. Supply centers are
    >= 100 apart so catchments never overlap: every supply sees exactly
    n_disk = |{(dx,dy): dx^2+dy^2 <= 900}| demand points, and every demand
    within 30 of its (unique) center scores floor(1e9 * 7 / (3 * n_disk)),
    all others exactly 0 — the whole 1M-row output is closed-form checked
    distributed. min-of-2 walls."""
    import json as _json

    import numpy as np
    from pyspark.sql import functions as F

    from engine import pointstats

    spark = _spark("bench-access")
    side = int(os.environ.get("ACCESS_BENCH_SIDE", "1000"))
    spacing, radius, cap, pop = 100, 30.0, 7, 3
    n_sup_side = side // spacing
    dem = spark.range(0, side * side, 1, 64).select(
        F.col("id").alias("id"),
        F.pmod(F.col("id"), side).cast("double").alias("x"),
        (F.col("id") / side).cast("long").cast("double").alias("y"),
        F.lit(pop).alias("population"),
    )
    sup = spark.range(0, n_sup_side * n_sup_side).select(
        F.col("id").alias("id"),
        (F.pmod(F.col("id"), n_sup_side) * spacing + spacing // 2)
        .cast("double").alias("x"),
        ((F.col("id") / n_sup_side).cast("long") * spacing + spacing // 2)
        .cast("double").alias("y"),
        F.lit(cap).alias("capacity"),
    )
    d = np.arange(-int(radius), int(radius) + 1, dtype=np.int64)
    n_disk = int(((d[:, None] ** 2 + d[None, :] ** 2)
                  <= int(radius) ** 2).sum())
    want = int(np.floor(1e9 * cap / (pop * n_disk)))

    walls = []
    for _ in range(2):
        t0 = time.time()
        out = pointstats.accessibility_2sfca(sup, dem, radius)
        cx = F.pmod(F.col("id"), side) - (
            F.floor(F.pmod(F.col("id"), side) / spacing) * spacing
            + spacing // 2
        )
        cy = (F.col("id") / side).cast("long") - (
            F.floor((F.col("id") / side).cast("long") / spacing) * spacing
            + spacing // 2
        )
        inside = (cx * cx + cy * cy) <= int(radius) ** 2
        agg = out.select(
            "id", "access_e9", "n_sites", inside.alias("inside")
        ).agg(
            F.count("*").alias("rows"),
            F.sum(
                (
                    (F.col("inside")
                     & (F.col("access_e9") == want)
                     & (F.col("n_sites") == 1))
                    | (~F.col("inside")
                       & (F.col("access_e9") == 0)
                       & (F.col("n_sites") == 0))
                ).cast("long")
            ).alias("good"),
            F.sum((F.col("access_e9") > 0).cast("long")).alias("served"),
        ).collect()[0]
        walls.append(round(time.time() - t0, 2))
        assert agg["rows"] == side * side, agg
        assert agg["good"] == side * side, agg
        assert agg["served"] == n_sup_side * n_sup_side * n_disk, agg
    print(_json.dumps({
        "demand": side * side, "supply": n_sup_side * n_sup_side,
        "radius": radius, "n_disk": n_disk, "walls": walls,
        "demand_per_s": round(side * side / min(walls)),
    }))



def part_pagerank() -> None:
    """Exact-integer PageRank at graph scale, local[32]: a 1M-node directed
    cycle (plus a 10%-density chord set that preserves out-degree
    regularity is NOT used — the pure cycle keeps the closed form): the
    uniform e12 vector is an EXACT fixpoint of the integer iteration
    (0.85e12 + 0.15e12 = 1e12, zero rounding), so after any number of
    rounds every node must hold exactly 10^12 — the whole 1M-row output is
    closed-form asserted distributed. 8 iterations; min-of-2 walls."""
    import json as _json

    from pyspark.sql import functions as F

    from engine.graph import pagerank

    spark = _spark("bench-pagerank")
    n = int(os.environ.get("PAGERANK_BENCH_N", "1000000"))
    edges = spark.range(0, n, 1, 64).select(
        F.col("id").alias("src"),
        F.pmod(F.col("id") + 1, n).alias("dst"),
    ).persist()
    edges.count()
    walls = []
    for _ in range(2):
        t0 = time.time()
        out = pagerank(edges, n_iters=8)
        agg = out.agg(
            F.count("*").alias("nodes"),
            F.sum((F.col("rank") == 10**12).cast("long")).alias("exact"),
        ).collect()[0]
        walls.append(round(time.time() - t0, 2))
        assert agg["nodes"] == n and agg["exact"] == n, agg
    print(_json.dumps({
        "nodes": n, "edges": n, "iters": 8, "walls": walls,
        "node_iters_per_s": round(n * 8 / min(walls)),
    }))



def part_fill() -> None:
    """Depression filling at raster scale, local[32]: the 4096x4096 raster
    (16x16 tiles at res=256, 16.8M cells) as a flat plateau at H=10000 with
    one giant cone pit (z = min(H, 100 + 8 * chebyshev(c, center)), radius
    1237 cells ~ 4.8 tiles — the spill level H has to propagate ~5 tile
    seams inward, a real multi-round block-Jacobi convergence). Closed-form
    exact for ALL 16.8M cells: W = H everywhere (every escape path crosses
    the z=H plateau), checked via one Column filter; the total fill volume
    sum(W - z) is also asserted against the python ring-sum closed form.
    Min-of-2 walls."""
    import json as _json

    from pyspark.sql import functions as F

    from engine import terrain

    spark = _spark("bench-fill")
    res = 256
    side = int(os.environ.get("FILL_BENCH_TILES", "16"))
    w = side * res
    H, B, S = 10000, 100, 8
    cx = cy = w // 2
    cheb = F.greatest(
        F.abs(F.col("tx") * res + F.pmod(F.col("i"), res) - cx),
        F.abs(F.col("ty") * res + F.floor(F.col("i") / res) - cy),
    )
    tiles = (
        spark.range(0, side * side, 1, 32)
        .select(
            F.pmod(F.col("id"), side).alias("tx"),
            (F.col("id") / side).cast("long").alias("ty"),
        )
        .select(
            "tx", "ty",
            F.transform(
                F.sequence(F.lit(0), F.lit(res * res - 1)),
                lambda i: F.least(
                    F.lit(H),
                    F.lit(B) + F.lit(S) * F.greatest(
                        F.abs(F.col("tx") * res + F.pmod(i, res) - cx),
                        F.abs(F.col("ty") * res + F.floor(i / res) - cy),
                    ),
                ).cast("long"),
            ).alias("counts"),
        )
        .persist()
    )
    tiles.count()
    rmax = (H - B) // S - (1 if (H - B) % S == 0 else 0)
    # ring d (chebyshev) has 8d cells (1 at d=0); depth = H - (B + S*d)
    want_volume = (H - B) + sum(
        8 * d * (H - B - S * d) for d in range(1, rmax + 1)
    )
    walls = []
    vols = []
    flat_ok = []
    for _ in range(2):
        t0 = time.time()
        filled = terrain.fill_depressions(tiles, res)
        joined = filled.join(tiles, ["tx", "ty"]).select(
            F.posexplode(F.arrays_zip("filled", "counts")).alias("pix", "v")
        )
        agg = joined.agg(
            F.count("*").alias("cells"),
            F.sum(F.col("v.filled") - F.col("v.counts")).alias("vol"),
            F.sum(
                F.when(F.col("v.filled") != H, 1).otherwise(0)
            ).alias("not_h"),
        ).collect()[0]
        walls.append(round(time.time() - t0, 2))
        vols.append(int(agg["vol"]))
        flat_ok.append(int(agg["not_h"]) == 0 and agg["cells"] == w * w)
    assert all(flat_ok), flat_ok
    assert vols[0] == vols[1] == want_volume, (vols, want_volume)
    wall = min(walls)
    print(_json.dumps({
        "bench": "fill_16p8M_cone_pit",
        "cells": w * w,
        "pit_radius_cells": rmax,
        "walls_s": walls,
        "wall_s": wall,
        "cells_per_s": round(w * w / wall),
        "exact": "W == H for all cells; fill volume == ring-sum closed form",
    }))
    # conditioning phase: resolve_flats over the filled surface — which is
    # ONE raster-wide flat at H, so the flat gradient has the closed form
    # flat_d = min(gx, gy, w-1-gx, w-1-gy) (8-connected distance to the
    # edge drains) for ALL 16.8M cells; dir = -1 exactly on the perimeter.
    filled = terrain.fill_depressions(tiles, res).persist()
    filled.count()
    t0 = time.time()
    flow = terrain.resolve_flats(filled, res)
    px = flow.select(
        "tx", "ty",
        F.posexplode(F.arrays_zip("d8_dir", "flat_d")).alias("pix", "v"),
    ).select(
        (F.col("tx") * res + F.pmod(F.col("pix"), res)).alias("gx"),
        (F.col("ty") * res + F.floor(F.col("pix") / res)).alias("gy"),
        F.col("v.d8_dir").alias("dir"),
        F.col("v.flat_d").alias("fd"),
    )
    want_fd = F.least(
        F.col("gx"), F.col("gy"),
        F.lit(w - 1) - F.col("gx"), F.lit(w - 1) - F.col("gy"),
    )
    agg2 = px.agg(
        F.count("*").alias("cells"),
        F.sum(F.when(F.col("fd") != want_fd, 1).otherwise(0)).alias("bad_fd"),
        F.sum(F.when(F.col("dir") == -1, 1).otherwise(0)).alias("sinks"),
    ).collect()[0]
    wall2 = round(time.time() - t0, 2)
    assert agg2["cells"] == w * w and agg2["bad_fd"] == 0, agg2
    assert agg2["sinks"] == 4 * (w - 1), agg2["sinks"]
    print(_json.dumps({
        "bench": "resolve_flats_16p8M_one_flat",
        "cells": w * w,
        "wall_s": wall2,
        "cells_per_s": round(w * w / wall2),
        "exact": "flat_d == edge-distance closed form for all cells; "
                 "dir == -1 exactly on the perimeter",
    }))
    spark.stop()


if __name__ == "__main__":
    {
        "rebatch": part_rebatch,
        "pointstats": part_pointstats,
        "dissolve": part_dissolve,
        "dissolve_net": part_dissolve_net,
        "flowacc": part_flowacc,
        "fill": part_fill,
        "catchcost": part_catchcost,
        "costsurface": part_costsurface,
        "viewshed": part_viewshed,
        "edt": part_edt,
        "blobs": part_blobs,
        "ssim": part_ssim,
        "contour": part_contour,
        "dbscan": part_dbscan,
        "terrain": part_terrain,
        "warp": part_warp,
        "sample": part_sample,
        "burn": part_burn,
        "augment": part_augment,
        "overlay": part_overlay,
        "morph": part_morph,
        "traj": part_traj,
        "focal": part_focal,
        "matching": part_matching,
        "hotspot": part_hotspot,
        "emerging": part_emerging,
        "regions": part_regions,
        "coloc": part_coloc,
        "hull": part_hull,
        "tilecut": part_tilecut,
        "phash": part_phash,
        "graph": part_graph,
        "int8": part_int8,
        "ivf_sq8": part_ivf_sq8,
        "rerank": part_rerank,
        "recall": part_recall,
        "ivf": part_ivf,
        "clustered": part_clustered,
        "nprobe": part_nprobe,
        "sq8_hirecall": part_sq8_hirecall,
        "knn_geo": part_knn_geo,
        "routing": part_routing,
        "nms": part_nms,
        "trajsim": part_trajsim,
        "geo_misc": part_geo_misc,
        "xing": part_xing,
        "horizon": part_horizon,
        "vision": part_vision,
        "access": part_access,
        "pagerank": part_pagerank,
    }[sys.argv[1]]()
