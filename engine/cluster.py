"""Distributed k-means over embedding columns + cluster-balanced sampling.

The curation ops a large training-data pipeline runs BETWEEN dedup and
selection: cluster the corpus embedding space (k-means), then sample per
cluster to re-balance it (the "diversity sampling" step — cap over-dense
regions, keep coverage of sparse ones).

This generalizes the Lloyd machinery inside engine.embedops.ivf_ann_topk into
a first-class operator: the centroid table stays broadcast-sized (k <= ~4096
by the same sqrt-N sizing as IVF), assignment is one Arrow matmul per batch
(embedops._nearest_centroids_gemm_udf — no per-row Python), and the update
step is a posexplode partial-sum groupBy (map-side combine -> k*dim tiny rows
to the driver). Per iteration: one shuffle. The corpus embedding column never
moves — the plan that holds at 10^9 rows.

No DuckDB twin: refined means are float-sum order-dependent across partitions
(same caveat as ivf_ann_topk's lloyd_iters>0 path, embedops.py:660-663), so
this is pytest-covered (structure recovery on a planted mixture, determinism,
balance properties) rather than registry-checked.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .session import truncate_lineage


def _init_centroids(
    corpus: DataFrame, k: int, corpus_id: str, vec_col: str, seed: int
) -> np.ndarray:
    """Deterministic init: the k corpus vectors with smallest md5-derived hash
    of (id, seed) — engine-independent and reproducible, same discipline as
    ivf_ann_topk's coarse quantizer."""
    from engine.textops import cross_hash

    key = cross_hash(
        F.concat(F.col(corpus_id).cast("string"), F.lit(f":{seed}")), "md5"
    )
    rows = corpus.select(vec_col).orderBy(key).limit(k).collect()
    return np.vstack([np.asarray(r[0], dtype=np.float64) for r in rows])


def kmeans(
    corpus: DataFrame,
    k: int | None = None,
    iters: int = 5,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> tuple[DataFrame, np.ndarray]:
    """Spherical k-means (cosine assignment, mean update) over an embedding
    column. Returns (assignments, centroids):

    - assignments: (corpus_id, cluster_id) — one row per corpus row;
    - centroids: (k, dim) float64 matrix after the final update.

    k=None auto-sizes to clamp(sqrt(n), 16, 4096) — broadcast-bounded like the
    IVF quantizer. iters bounds the Lloyd rounds (bounded iteration, engine
    discipline O5); an early exit fires when the max centroid shift drops
    below tol (computed driver-side from the k*dim partial sums — no extra
    pass over the corpus). Empty clusters keep their previous centroid.

    Cost model per iteration: one Arrow-matmul assignment pass over the corpus
    (vectors never shuffle) + one (cluster_id, dim-pos)-keyed partial-sum
    groupBy whose output is k*dim rows (driver-combined, broadcast back)."""
    from engine.embedops import _nearest_centroids_gemm_udf

    if k is None:
        import math

        k = max(16, min(4096, int(math.sqrt(corpus.count()))))
    cents = _init_centroids(corpus, k, corpus_id, vec_col, seed)
    base = corpus.select(F.col(corpus_id).alias("_id"), F.col(vec_col))

    def assign(cents_mat: np.ndarray) -> DataFrame:
        nc = _nearest_centroids_gemm_udf(cents_mat, 1)
        return base.withColumn("_cl", nc(F.col(vec_col))[0])

    tol = 1e-12
    for _ in range(max(1, iters)):
        assigned = assign(cents)
        stats = (
            assigned.select("_cl", F.posexplode(F.col(vec_col)).alias("_p", "_x"))
            .groupBy("_cl", "_p")
            .agg(
                F.sum(F.col("_x").cast("double")).alias("_s"),
                F.count(F.lit(1)).alias("_n"),
            )
            .collect()
        )
        new_cents = cents.copy()
        for r in stats:
            new_cents[r["_cl"], r["_p"]] = r["_s"] / r["_n"]
        shift = float(np.max(np.abs(new_cents - cents)))
        cents = new_cents
        if shift < tol:
            break
    out = assign(cents).select(
        F.col("_id").alias(corpus_id), F.col("_cl").alias("cluster_id")
    )
    return out, cents


def cluster_sample(
    df: DataFrame,
    assignments: DataFrame,
    n_per_cluster: int,
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """Cluster-balanced downsample: at most n_per_cluster rows per cluster,
    chosen deterministically (md5 hash order over (id, seed) — a stable
    pseudo-random draw reproducible across engines and runs). One window
    shuffle on cluster_id; df columns pass through with cluster_id attached.

    The re-balancing step of diversity sampling: dense clusters are capped at
    n_per_cluster while sparse clusters keep everything."""
    from engine.textops import cross_hash

    key = cross_hash(
        F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}")), "md5"
    )
    joined = df.join(
        assignments.select(F.col(id_col), F.col("cluster_id")), id_col
    )
    w = Window.partitionBy("cluster_id").orderBy(key.asc(), F.col(id_col).asc())
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_per_cluster)
        .drop("_rn")
    )


def _planar_eps_pairs(pts: DataFrame, eps: float) -> DataFrame:
    """All (_ida, _idb) pairs at planar euclidean distance <= eps, including
    the self pair (a, a): grid-blocked self-join at cell size = eps, so any
    qualifying pair shares one of A's 3x3 exploded cells and B's single home
    cell — each pair joins exactly once (B's home cell is unique). Pure
    Column algebra; the only wide op is the (cx, cy) equi-join."""
    e = float(eps)
    cx = F.floor(F.col("_px") / e).cast("long")
    cy = F.floor(F.col("_py") / e).cast("long")
    b = pts.select(
        F.col("_id").alias("_idb"),
        F.col("_px").alias("_bx"),
        F.col("_py").alias("_by"),
        cx.alias("_cx"),
        cy.alias("_cy"),
    )
    offsets = F.array(
        *[
            F.struct(F.lit(i).alias("dx"), F.lit(j).alias("dy"))
            for i in (-1, 0, 1)
            for j in (-1, 0, 1)
        ]
    )
    a = (
        pts.select(
            F.col("_id").alias("_ida"),
            F.col("_px").alias("_ax"),
            F.col("_py").alias("_ay"),
            cx.alias("_acx"),
            cy.alias("_acy"),
        )
        .withColumn("_o", F.explode(offsets))
        .select(
            "_ida",
            "_ax",
            "_ay",
            (F.col("_acx") + F.col("_o.dx")).alias("_cx"),
            (F.col("_acy") + F.col("_o.dy")).alias("_cy"),
        )
    )
    dx = F.col("_ax") - F.col("_bx")
    dy = F.col("_ay") - F.col("_by")
    return (
        a.join(b, ["_cx", "_cy"])
        .filter(dx * dx + dy * dy <= F.lit(e * e))
        .select("_ida", "_idb")
    )


def dbscan(
    points: DataFrame,
    eps: float,
    min_pts: int,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
    metric: str = "planar",
    res: int | None = None,
) -> DataFrame:
    """Distributed DBSCAN over a point table -> (id, label, is_core).

    Semantics (the deterministic parallel formulation, e.g. MR-DBSCAN /
    RDD-DBSCAN): a point is CORE iff its eps-neighborhood (incl. itself)
    has >= min_pts points (sklearn's min_samples convention); clusters are
    the connected components of the core-core eps graph, labeled by the
    MINIMUM core id (engine-independent, reproducible); a BORDER point
    (non-core with >= 1 core neighbor) joins the minimum label among its
    core neighbors — deterministic where the classic sequential scan is
    visit-order-dependent, and identical cluster SETS over cores either
    way; everything else is noise, label = -1.

    metric='planar': euclidean over (x_col, y_col); blocking is a cell grid
    at cell size eps (3x3 neighborhood cover — sound and exact).
    metric='haversine': x_col/y_col are lon/lat degrees, eps in meters;
    pair generation rides geo_radius_join's sound radius cover (shuffled
    cell equi-join, wrap/pole-safe).

    Plan shape at scale: ONE blocked self-join builds the eps-pair frame
    (O(n x eps-density) rows, materialized once via localCheckpoint since
    degree/edges/border all read it); degree is a map-side-combined count;
    components run engine.graph.connected_components (O(log^2) rounds,
    lineage-truncated). No driver collect anywhere; skew in a mega-dense
    cell is the same skew the pair frame's equi-join inherits from AQE.

    Reference: no clustering surface (reference core = OSM change pipeline);
    this extends the training-data curation family (SURVEY.md §2 additions)
    with the density-based spatial clustering a geotagged corpus needs."""
    if eps <= 0:
        raise ValueError("eps must be > 0")
    if min_pts < 1:
        raise ValueError("min_pts must be >= 1")
    if metric not in ("planar", "haversine"):
        raise ValueError(f"unknown metric {metric!r}")

    pts = points.select(
        F.col(id_col).cast("long").alias("_id"),
        F.col(x_col).cast("double").alias("_px"),
        F.col(y_col).cast("double").alias("_py"),
    )
    if metric == "planar":
        pairs = _planar_eps_pairs(pts, eps)
    else:
        from engine.geoann import geo_radius_join

        a = pts.select(
            F.col("_id").alias("_ida"),
            F.col("_px").alias("lon"),
            F.col("_py").alias("lat"),
        )
        b = pts.select(
            F.col("_id").alias("_idb"),
            F.col("_px").alias("lon"),
            F.col("_py").alias("lat"),
        )
        pairs = geo_radius_join(
            a, b, eps, res=res, id_a="_ida", id_b="_idb", broadcast_a=False
        ).select("_ida", "_idb")
    # the pair frame feeds three consumers (degree, core edges, border);
    # materialize ONCE — and RELIABLY (disk, checkpoint dir): at bench scale
    # the pair frame is O(n x eps-density) rows (128M at 16M points of
    # density 8) and a localCheckpoint holds the blocks DESERIALIZED in
    # executor memory — measured Java-heap OOM at the shipped 8g/local[32]
    # exactly there. Disk blocks cost one extra scan per consumer and are
    # released by the ContextCleaner when the frame is GC'd (same pattern
    # and rationale as textops' inverted-index checkpoint).
    pairs = truncate_lineage(pairs)

    from engine.graph import connected_components

    deg = pairs.groupBy("_ida").agg(F.count("*").alias("_n"))
    core = deg.filter(F.col("_n") >= int(min_pts)).select(
        F.col("_ida").alias("_id")
    )
    core_edges = (
        pairs.filter(F.col("_ida") < F.col("_idb"))
        .join(core.select(F.col("_id").alias("_ida")), "_ida", "left_semi")
        .join(core.select(F.col("_id").alias("_idb")), "_idb", "left_semi")
    )
    comp = connected_components(
        core_edges, src="_ida", dst="_idb", nodes=core, id_col="_id"
    )
    core_out = comp.select(
        F.col("id").alias("_id"),
        F.col("comp").alias("label"),
        F.lit(True).alias("is_core"),
    )
    border = (
        pairs.join(core.select(F.col("_id").alias("_ida")), "_ida", "left_anti")
        .join(
            comp.select(F.col("id").alias("_idb"), F.col("comp").alias("_lbl")),
            "_idb",
        )
        .groupBy("_ida")
        .agg(F.min("_lbl").alias("label"))
        .select(
            F.col("_ida").alias("_id"),
            "label",
            F.lit(False).alias("is_core"),
        )
    )
    labeled = core_out.unionByName(border)
    out = (
        pts.select("_id")
        .join(labeled, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("label"), F.lit(-1)).cast("long").alias("label"),
            F.coalesce(F.col("is_core"), F.lit(False)).alias("is_core"),
        )
    )
    return out
