"""Distributed connected components and near-duplicate clustering.

The dedup family (minhash/simhash/cosine, engine.textops / engine.embedops)
stops at PAIRS; an actual corpus dedup needs components — "these 40 documents
are all the same article" — and a canonical survivor per component. This
module closes that gap with the alternating large-star / small-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC 2014):

- every round is two bounded shuffles (a groupBy on node id + an equi-join),
  no driver-side adjacency, no Python in the loop — pure Column algebra;
- convergence is O(log^2 n) rounds WORST case (star operations contract paths
  by powers, not one hop per round like naive min-label propagation, whose
  round count is the component DIAMETER — a 10^6-node chain would need 10^6
  rounds there and ~20 here);
- lineage is truncated per round (localCheckpoint) so the plan stays flat no
  matter how many rounds run — same discipline as engine.propagate's bounded
  iteration (O5) and engine.textops' checkpointed shingle frame.

The reference has no graph operator (its propagation is a bounded-depth tree
walk, SparkJobs.scala:10-82, rebuilt in engine/propagate.py); this serves the
LLM-training-pipeline completeness axis of the brief. The DuckDB oracle twin
is a recursive CTE (connected_components_sql) — exact label parity, since the
min-id label is engine-independent.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .session import driver_table, local_relation, truncate_lineage

# diagnostics only: rounds the last connected_components call needed to
# converge (read by tools/bench_kernels.py part_graph; not part of the API)
LAST_ROUNDS = 0

# r6 round discipline (guide §1/§5): ONE driver action per round. The
# digest job materializes a LAZY localCheckpoint of the round's edge frame
# when the graph is small (the common registry/bench case), so a round
# costs one job instead of three sequential driver latencies
# (reliable-checkpoint compute + file-write recompute + digest). Above
# _SMALL_EDGES rows the eager reliable checkpoint stays — that is the
# documented 56M-edge OOM fix (deserialized localCheckpoint blocks stacking
# across rounds on an 8g heap).
_SMALL_EDGES = 4_000_000
# bounded-side driver fast path (the flow_accumulation stage2='driver' /
# knn broadcast-short-circuit discipline): an edge set at or under this
# many rows is an O(MB) Arrow fetch — one vectorized numpy hook-and-compress
# union-find on the driver replaces the whole star-round loop (each round =
# a full Spark job; at bench scale the rounds were pure driver-latency).
# Labels are identical by construction: comp = min node id of the component.
_DRIVER_EDGES = 1_000_000


def _canonical(edges: DataFrame) -> DataFrame:
    """(hi, lo) orientation, self-loops dropped, deduped."""
    return (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star: for every node u, connect each STRICTLY LARGER neighbor to
    m(u) = min(neighborhood(u) + {u}). Operates on the symmetrized edge set;
    emits (v, m) pairs (v > u >= m, so never a self-loop unless v == m, which
    is filtered)."""
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("_mv"))
        .select("u", F.least(F.col("u"), F.col("_mv")).alias("_m"))
    )
    # the trailing distinct looks redundant (small-star dedups its input) but
    # is load-bearing for VOLUME: after round 1 most nodes relabel to the same
    # few minima, so (v, m) duplicates are rampant — measured A/B at 16M nodes
    # / 32M edges, dropping the two input-side distincts slowed the full run
    # 172 s -> 249 s (local[32]): the extra shuffle is cheaper than pushing
    # duplicate rows through the next two stages
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("_m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star: orient edges (hi, lo); for every node u, connect each
    lo-neighbor AND u itself to m(u) = min(lo-neighbors) (all lo <= u, so
    m(u) = min(neighborhood_lo(u) + {u}) automatically)."""
    c = _canonical(edges)
    mins = c.groupBy("u").agg(F.min("v").alias("_m"))
    relink = (
        c.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("_m").alias("v"))
    )
    selfedge = mins.select("u", F.col("_m").alias("v"))
    return (
        relink.unionByName(selfedge)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _digest(edges: DataFrame) -> tuple:
    """Order-independent digest of an edge set: (count, XOR of per-edge hash —
    overflow-free under ANSI mode, unlike a 64-bit sum). Equality of
    consecutive small-star outputs == convergence (the algorithm is monotone:
    labels only decrease, so a stable set cannot be a cycle). The edge set is
    distinct by construction, so XOR cannot cancel duplicate edges."""
    row = edges.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def connected_components(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    nodes: DataFrame | None = None,
    id_col: str = "id",
    max_iters: int = 30,
) -> DataFrame:
    """Connected components over an undirected edge list: returns (id, comp)
    where comp is the MINIMUM node id in the component — a deterministic,
    engine-independent label (the DuckDB twin connected_components_sql
    reproduces it exactly).

    edges: any (src, dst) pair frame (direction ignored, self-loops ignored).
    nodes: optional frame of node ids (id_col); nodes with no edges come back
    as their own singleton component. Without it, only nodes appearing in
    edges are labeled.

    Alternates large-star/small-star until the edge set is stable (checked by
    an order-independent digest); at convergence the set is a star forest
    (every non-root points at its component min). Each round: 2 shuffles,
    lineage truncated per round. Small graphs (<= 4M edges) ride a LAZY
    localCheckpoint materialized by the digest job — ONE driver action per
    round (r6); larger graphs keep the RELIABLE checkpoint when a dir is
    configured (engine.session always sets one) — disk blocks, released by
    the ContextCleaner as rounds retire; localCheckpoint held each round's
    edge frame DESERIALIZED in executor memory, and at a 56M-edge core graph
    on the shipped 8g/local[32] heap the stacked rounds OOM'd (measured in
    the 16M-point DBSCAN bench; same failure class and fix as the textops
    inverted-index checkpoint). Plan depth stays O(1) regardless of round
    count either way. Raises RuntimeError if max_iters rounds don't converge
    (worst-case need is ~log^2 of the largest component size; 30 covers any
    practical graph)."""

    global LAST_ROUNDS
    tbl = driver_table(edges, _DRIVER_EDGES)
    if tbl is not None and {src, dst} <= set(tbl.column_names):
        # the rows are on the driver already: _canonical's null-endpoint and
        # self-loop filter in numpy (duplicates cannot change the labels)
        u, v = (
            pc.cast(tbl.column(c), pa.int64(), safe=False) for c in (src, dst)
        )
        ok = pc.and_(pc.and_(pc.is_valid(u), pc.is_valid(v)), pc.not_equal(u, v))
        LAST_ROUNDS = 0
        labels = _driver_labels(
            edges.sparkSession,
            pc.filter(u, ok).to_numpy(), pc.filter(v, ok).to_numpy(),
        )
        return _with_isolated(labels, nodes, id_col)
    e = _canonical(
        edges.select(
            F.col(src).cast("long").alias("u"),
            F.col(dst).cast("long").alias("v"),
        )
    ).localCheckpoint(eager=False)
    # gate on the digest count, then fetch from the digest-materialized
    # checkpoint: a frame Spark must compute never pays a limit probe
    # (session.driver_table)
    prev = _digest(e)
    small = prev[0] <= _SMALL_EDGES
    if prev[0] <= _DRIVER_EDGES:
        LAST_ROUNDS = 0
        pdf = e.toPandas()
        labels = _driver_labels(
            e.sparkSession,
            pdf["u"].to_numpy(dtype=np.int64),
            pdf["v"].to_numpy(dtype=np.int64),
        )
    else:
        if not small:
            # big graph: re-anchor the loop on the reliable-checkpoint path
            e = truncate_lineage(e)
        converged = prev[0] == 0
        LAST_ROUNDS = 0
        for _ in range(max_iters):
            if converged:
                break
            e_next = _small_star(_large_star(e))
            e_next = (
                e_next.localCheckpoint(eager=False)
                if small
                else truncate_lineage(e_next)
            )
            cur = _digest(e_next)
            e = e_next
            LAST_ROUNDS += 1
            if cur == prev:
                converged = True
            prev = cur
        if not converged:
            raise RuntimeError(
                f"connected_components: no convergence in {max_iters} rounds"
            )
        # star forest -> labels: non-roots from the edges, roots label
        # themselves
        non_roots = e.select(F.col("u").alias("id"), F.col("v").alias("comp"))
        roots = e.select(F.col("v").alias("id")).distinct().withColumn(
            "comp", F.col("id")
        )
        labels = non_roots.unionByName(roots)
    return _with_isolated(labels, nodes, id_col)


def _driver_labels(spark, u: np.ndarray, v: np.ndarray) -> DataFrame:
    """(id, comp) of the graph with edges (u, v) as a local relation (see
    _union_find)."""
    ids, comp = _union_find(u, v)
    return local_relation(
        spark, {"id": ids, "comp": comp}, "id long, comp long"
    )


def _union_find(
    u: np.ndarray, v: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(ids, comp) of the graph with edges (u, v) by one vectorized numpy
    hook-and-compress union-find: ids = the sorted distinct endpoints,
    comp = min node id of each one's component, the label the star rounds
    converge to."""
    ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = inv[: len(u)], inv[len(u):]
    parent = np.arange(len(ids), dtype=np.int64)
    while True:
        pa_, pb = parent[a], parent[b]
        if np.array_equal(pa_, pb):
            break
        hi = np.maximum(pa_, pb)
        lo = np.minimum(pa_, pb)
        np.minimum.at(parent, hi, lo)
        while True:
            pp = parent[parent]
            if np.array_equal(pp, parent):
                break
            parent = pp
    return ids, ids[parent]


def _with_isolated(
    labels: DataFrame, nodes: DataFrame | None, id_col: str
) -> DataFrame:
    """labels plus every node of `nodes` without an edge, as its own
    singleton component."""
    if nodes is None:
        return labels
    all_nodes = nodes.select(F.col(id_col).cast("long").alias("id")).distinct()
    isolated = all_nodes.join(labels.select("id"), "id", "left_anti").withColumn(
        "comp", F.col("id")
    )
    return labels.unionByName(isolated)


def tile_local_components(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    ax: str = "ax",
    ay: str = "ay",
    tile_shift: int | None = None,
    max_iters: int = 30,
    edges_per_tile: int = 4096,
) -> DataFrame:
    """Connected components SPECIALIZED to spatially-anchored edge frames —
    the r5 fast path behind contour ring linking (3.08x over the alternating-
    star CC at 4M segments) and dissolve_segments' network merge, applicable
    whenever each edge carries integer anchor coordinates and components are
    spatially local (rings, road networks, dissolved boundaries).

    The halo discipline applied to labeling: edges shuffle ONCE by their
    anchor tile (ax, ay >> tile_shift); a vectorized numpy hook-and-
    compress union-find labels each tile's nodes with the local component
    min inside one Arrow group (applyInPandas); nodes whose edges landed
    in different tiles emit root-root stitch edges, and the generic CC
    runs on THOSE only — O(boundary length / tile size) rows, not
    O(edges). Tiles holding more than 64*edges_per_tile edges split into
    deterministic hash-salted sub-groups (r6 skew guard: Arrow groups stay
    bounded on hot-spot corpora; the stitch merges sub-groups exactly as
    it merges tiles). Labels equal connected_components' exactly: comp =
    the component's minimum node id (the local UF unions by min, the
    stitch CC minimizes across local roots, and the component's global-min
    node is necessarily a local root). Self-loop edges label their node a
    singleton.

    tile_shift=None (the default) sizes tiles FROM THE DATA: one extent
    agg picks the shift that lands ~edges_per_tile edges per tile on a
    uniform spread. This matters: with a fixed shift the group population is
    density-dependent — the r5 dissolve A/B measured 0.49x (slower than
    generic CC!) at ~1 component per tile (500k near-empty Arrow groups of
    pure overhead), and 3.08x on the contour corpus where the same shift
    happened to give ~10k edges per tile. The auto rule reproduces the
    winning shift on the contour corpus and fixes the dissolve one.

    Returns (id, comp) for every node appearing in edges."""
    pre = edges.select(
        F.col(src).cast("long").alias("u"),
        F.col(dst).cast("long").alias("v"),
        F.col(ax).cast("long").alias("_ax"),
        F.col(ay).cast("long").alias("_ay"),
    )
    if tile_shift is None:
        import math

        ext = pre.agg(
            F.count(F.lit(1)).alias("n"),
            (F.max("_ax") - F.min("_ax") + 1).alias("_ex"),
            (F.max("_ay") - F.min("_ay") + 1).alias("_ey"),
        ).collect()[0]
        n = max(1, ext["n"] or 0)
        extent = max(ext["_ex"] or 1, ext["_ey"] or 1, 1)
        tiles_per_axis = max(1.0, math.sqrt(n / float(edges_per_tile)))
        tile_shift = min(
            40, max(0, int(math.ceil(math.log2(max(1.0, extent / tiles_per_axis)))))
        )
    e = pre.select(
        "u",
        "v",
        F.shiftright(F.col("_ax"), tile_shift).alias("_tx"),
        F.shiftright(F.col("_ay"), tile_shift).alias("_ty"),
    )
    real = e.filter(F.col("u") != F.col("v"))
    iso = (
        e.filter(F.col("u") == F.col("v"))
        .select(F.col("u").alias("id"))
        .distinct()
        # a node with BOTH a self-loop and a real edge must not label twice
        .join(
            real.select(F.col("u").alias("id"))
            .unionByName(real.select(F.col("v").alias("id")))
            .distinct(),
            "id",
            "left_anti",
        )
    )

    def uf(pdf):
        import numpy as _np
        import pandas as _pd

        # r6 (VERDICT item 3): vectorized hook-and-compress union-find over
        # int64 arrays — no per-edge interpreted python. np.unique gives
        # ids ascending, so index order == id order and union-by-min-index
        # IS union-by-min-id. Per outer round: one vectorized hook
        # (np.minimum.at handles duplicate targets unbuffered) + pointer
        # doubling to full compression; parents only decrease, so the loop
        # terminates in O(log n) rounds.
        u = pdf["u"].to_numpy(dtype=_np.int64)
        v = pdf["v"].to_numpy(dtype=_np.int64)
        ids, inv = _np.unique(_np.concatenate([u, v]), return_inverse=True)
        a, b = inv[: len(u)], inv[len(u):]
        parent = _np.arange(len(ids), dtype=_np.int64)
        while True:
            pa, pb = parent[a], parent[b]
            if _np.array_equal(pa, pb):
                break
            hi = _np.maximum(pa, pb)
            lo = _np.minimum(pa, pb)
            _np.minimum.at(parent, hi, lo)
            while True:
                pp = parent[parent]
                if _np.array_equal(pp, parent):
                    break
                parent = pp
        return _pd.DataFrame({"id": ids, "root": ids[parent]})

    # r6 (VERDICT item 1): hot-tile skew guard. The auto-sizing assumes a
    # uniform spread; a real corpus with most edges in one metro tile would
    # land an unbounded Arrow group on one executor. Tiles holding more than
    # `hot_cap` edges are SPLIT: their edges get a deterministic hash salt
    # (pmod(xxhash64(u, v), ceil(n/hot_cap)) — guide §2.5, no rand()) so
    # every Arrow group stays ~hot_cap-bounded, and the existing stitch
    # stage merges nodes spanning salted sub-groups exactly as it merges
    # nodes spanning tiles — the operator's labels never depended on WHICH
    # edges share a group, only on the stitch restoring transitivity.
    # The hot-tile list is O(n / hot_cap) rows by construction: a map-side-
    # combined count agg + a broadcast left join, all inside the plan (no
    # driver action).
    hot_cap = 64 * edges_per_tile
    hot_tiles = (
        real.groupBy("_tx", "_ty")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > hot_cap)
    )
    salted = real.join(F.broadcast(hot_tiles), ["_tx", "_ty"], "left").select(
        "u",
        "v",
        "_tx",
        "_ty",
        F.when(
            F.col("_n").isNotNull(),
            F.pmod(
                F.xxhash64("u", "v"),
                F.ceil(F.col("_n") / F.lit(hot_cap)).cast("long"),
            ),
        )
        .otherwise(F.lit(0))
        .alias("_salt"),
    )
    local = (
        salted.groupBy("_tx", "_ty", "_salt")
        .applyInPandas(uf, schema="id long, root long")
        # lazy: materialized by the stitch CC's first digest job (r6 —
        # saves one driver action; the truncation still holds afterwards)
        .localCheckpoint(eager=False)
    )
    # stitch: a node seen in >1 tile (or salted sub-group) links its local
    # roots; only rows whose roots actually differ reach the global CC
    # (transitive merges resolve there: every chain of shared nodes becomes
    # a path in the root graph)
    stitch = (
        local.groupBy("id")
        .agg(F.min("root").alias("_r0"), F.collect_set("root").alias("_rs"))
        .select(F.col("_r0").alias("su"), F.explode("_rs").alias("sv"))
        .filter(F.col("su") != F.col("sv"))
    )
    gcc = connected_components(stitch, src="su", dst="sv", max_iters=max_iters)
    final = (
        local.join(
            gcc.withColumnRenamed("id", "_rid"),
            local["root"] == F.col("_rid"),
            "left",
        )
        .select(
            local["id"].alias("id"),
            F.coalesce(F.col("comp"), F.col("root")).alias("comp"),
        )
        # a node seen in several tiles carries one row per tile, all with
        # the same (stitched) comp — collapse to one
        .groupBy("id")
        .agg(F.min("comp").alias("comp"))
    )
    return final.unionByName(iso.withColumn("comp", F.col("id")))


def neardup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    nodes: DataFrame | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate pair frame (minhash_lsh_pairs / simhash_near_dups /
    cosine_near_dups output) -> (id, cluster_id): transitive closure of the
    pairwise relation, cluster_id = min member id. With nodes given, singleton
    documents appear as their own cluster."""
    return connected_components(
        pairs, src=id_a, dst=id_b, nodes=nodes, id_col=id_col
    ).select(F.col("id"), F.col("comp").alias("cluster_id"))


def dedup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Corpus dedup by transitive near-dup clusters: keep exactly one row per
    component (the min id — same canonical-survivor rule as q_curation's exact
    dedup) plus every row in no pair at all. One anti-join against the
    non-survivor list; df columns pass through untouched."""
    clusters = neardup_clusters(pairs, id_a=id_a, id_b=id_b)
    losers = clusters.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(f"_loser_{id_col}")
    )
    return df.join(
        losers,
        F.col(id_col).cast("long") == F.col(f"_loser_{id_col}"),
        "left_anti",
    )


def connected_components_sql(
    pairs_sql: str, id_a: str = "id_a", id_b: str = "id_b"
) -> str:
    """DuckDB twin of connected_components over a pair-producing query:
    recursive min-label walk — enumerate every (node, reachable-comp-seed)
    pair, keep the min. Exact label parity with the Spark operator (min id is
    engine-independent). pairs_sql may itself be a full WITH query (nested
    CTEs are legal as a CTE body)."""
    return f"""
        WITH RECURSIVE pairs AS MATERIALIZED (
          {pairs_sql}
        ), edges AS MATERIALIZED (
          SELECT {id_a} AS u, {id_b} AS v FROM pairs
          UNION
          SELECT {id_b} AS u, {id_a} AS v FROM pairs
        ), walk(u, comp) AS (
          SELECT u, u FROM (SELECT DISTINCT u FROM edges)
          UNION
          SELECT e.v, w.comp FROM walk w JOIN edges e ON e.u = w.u
        )
        SELECT CAST(u AS BIGINT) AS id, CAST(MIN(comp) AS BIGINT) AS cluster_id
        FROM walk GROUP BY u
    """


def pagerank(
    edges: DataFrame,
    n_iters: int = 20,
    d_e3: int = 850,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    scale: int = 10**12,
) -> DataFrame:
    """Deterministic EXACT-INTEGER PageRank — network importance for road/
    flow graphs (the routing family's centrality companion). The classic
    iteration recast so every quantity is an int64 and every sum is
    order-independent (bit-reproducible on any cluster, oracle-replayable
    in plain Python):

        rank_0(v)   = scale
        rank_t+1(v) = floor((1000 - d_e3) * S / 1000 / N)
                      + floor(d_e3 * dangling_t / 1000 / N)
                      + sum over in-edges u->v of
                          floor(d_e3 * rank_t(u) / 1000 / deg(u))

    with S = N * scale the initial total mass, dangling_t the summed rank
    of out-degree-0 nodes (redistributed uniformly, the standard
    treatment), d_e3 the damping in e3 fixed point. Floor division leaks
    <= 1 unit per term per round — at scale = 1e12 the drift is
    O(n_iters * deg) units, documented and reproduced exactly by the twin.
    On a directed cycle the uniform vector is an EXACT fixpoint
    (0.85e12 + 0.15e12 = 1e12, no rounding at all — the closed-form
    test).

    Plan per iteration: ranks JOIN edges on src (one shuffle), hash agg on
    dst (map-side combined), one 1-row dangling agg broadcast-joined (no
    driver collect), lineage truncated every 6 rounds via the engine's
    reliable-checkpoint helper. Fixed n_iters (no convergence probe — the
    iteration is deterministic, so the round count is part of the
    contract). Returns (id, rank) with sum(rank) <= S."""
    if not (1 <= n_iters <= 200):
        raise ValueError(f"n_iters must be in [1, 200], got {n_iters}")
    if not (0 < d_e3 < 1000):
        raise ValueError(f"d_e3 must be in (0, 1000), got {d_e3}")
    e = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    if nodes is None:
        node_df = (
            e.select(F.col("u").alias("id"))
            .unionByName(e.select(F.col("v").alias("id")))
            .distinct()
        )
    else:
        node_df = nodes.selectExpr(f"CAST({nodes.columns[0]} AS LONG) AS id")
    node_df = node_df.persist()
    n = node_df.count()
    if n == 0:
        return node_df.select("id", F.lit(0).cast("long").alias("rank"))
    # Overflow guard: total mass S = n*scale only ever shrinks (floors), and
    # the largest multiplicand anywhere is d_e3 * x with x <= S (a hub
    # concentrating all mass, or all mass dangling).  Require d_e3 * S < 2^62
    # so every intermediate product stays a valid int64 with headroom — on
    # non-ANSI Spark an overflow would WRAP SILENTLY, so this must raise.
    if d_e3 * n * int(scale) >= 2**62:
        raise ValueError(
            f"pagerank int64 contract violated: d_e3*n*scale = "
            f"{d_e3 * n * int(scale):.3e} >= 2^62; lower `scale` (need "
            f"scale < {2**62 // (d_e3 * n)}) or shard the graph"
        )
    deg = e.groupBy(F.col("u").alias("id")).agg(F.count("*").alias("deg"))
    base = node_df.join(deg, "id", "left").select(
        "id", F.coalesce(F.col("deg"), F.lit(0)).alias("deg")
    ).persist()
    base.count()
    s_total = n * int(scale)
    teleport = ((1000 - d_e3) * s_total // 1000) // n
    ranks = base.select("id", F.lit(int(scale)).cast("long").alias("rank"))

    for it in range(n_iters):
        r = ranks.join(base, "id")
        dangling = r.filter(F.col("deg") == 0).agg(
            F.coalesce(F.sum("rank"), F.lit(0)).alias("_dang")
        )
        # True int64 floor division via SQL `div` — operands are always
        # non-negative here so `div` (truncation) IS floor, and unlike the
        # old (x - pmod(x,m))/m double-divide it stays exact past 2^53
        # (the guard above bounds the numerator under 2^62).
        dang_share = F.expr(
            f"(CAST({d_e3} AS BIGINT) * _dang) div CAST({1000 * n} AS BIGINT)"
        ).cast("long")
        contrib = (
            r.filter(F.col("deg") > 0)
            .join(e, r["id"] == e["u"])
            .select(
                F.col("v").alias("id"),
                (F.lit(d_e3).cast("long") * F.col("rank")).alias("_num"),
                (F.lit(1000).cast("long") * F.col("deg")).alias("_den"),
            )
            .select("id", F.expr("_num div _den").alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = (
            node_df.join(contrib, "id", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "id",
                (
                    F.lit(teleport)
                    + dang_share
                    + F.coalesce(F.col("in_sum"), F.lit(0))
                ).cast("long").alias("rank"),
            )
        )
        if (it + 1) % 6 == 0 and it + 1 < n_iters:
            ranks = truncate_lineage(ranks)
    return ranks
