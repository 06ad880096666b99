"""Network routing: multi-source shortest paths + isochrones over edge frames.

The road-network counterpart to engine/matching.py: matching snaps fixes to
segments; this module answers "how far is everything from here along the
network" — the primitive under isochrones (reachability within a distance
budget), catchment/coverage analysis, and network-distance joins.

Operator: `shortest_paths` — frontier Bellman-Ford as iterative Column
algebra (the same bounded-iteration discipline as engine/propagate.py O5 and
engine/graph.py's star rounds):

- each round is TWO bounded shuffles: frontier ⋈ edges (equi-join on the
  source node) + a (source, node) min-aggregation; no driver-side adjacency,
  no Python in the loop;
- the frontier carries only IMPROVED labels, so work per round tracks the
  wavefront, not the graph (for a distance-cutoff query the wavefront is the
  isochrone ring — the frontier never exceeds the reachable set);
- lineage is truncated per round (localCheckpoint, eager) so plan depth is
  O(1) no matter how many rounds run; early exit on an empty frontier;
- labels are packed integers dist*HOPS_BASE + hops, so the lexicographic
  (dist, hops) minimum — shortest distance, fewest edges among ties — is a
  plain BIGINT min: engine-independent, exactly reproducible in DuckDB.

Round count is the hop diameter of the REACHED subgraph: ~log n rounds on
random/small-world graphs, O(radius/min_edge) for distance-cutoff queries on
planar road grids. Unbounded continental-network point-to-point queries want
a contraction-hierarchy layer on top (out of scope; the frontier loop here is
the primitive such a layer relaxes within shortcuts). At 100 TB scale every
round's join shuffles on the node key — AQE handles frontier skew (a hub node
relaxing many labels), and `max_dist` keeps isochrone frontiers bounded by
the query radius rather than the graph.

Oracle: `shortest_paths_sql` unrolls k relaxation rounds as nested DuckDB
CTEs (the same unrolled-per-depth pattern as the change-pipeline oracle) —
exact label parity whenever k >= the hop diameter, which tests assert via
LAST_ROUNDS.

The reference has no routing operator (its propagation walk, SparkJobs.scala
:10-82, is a bounded-depth TREE walk rebuilt in engine/propagate.py; this is
the general-graph, weighted generalization). New surface for the brief's
trajectory/network axis.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .session import local_relation

# packed label = dist * HOPS_BASE + hops. dist and hops are both
# non-negative; hops < HOPS_BASE is guaranteed by max_rounds <= HOPS_BASE-1,
# and dist < 2^63 / HOPS_BASE ~= 8.8e12 is checked against max_dist when
# given (callers with mm-integer weights stay exact up to ~8800 km paths).
HOPS_BASE = 1 << 20

# diagnostics: rounds the last shortest_paths call ran (read by benches)
LAST_ROUNDS = 0

# Bounded-side driver fast path (the engine-wide discipline: knn broadcast
# short-circuit, flow_accumulation stage2='driver', graph.connected_components
# / terrain._halo_fixpoint r6 driver solves): a deduped edge frame at or
# under this many rows is an O(MB) Arrow fetch, and each frontier round is a
# vectorized numpy relaxation instead of a full Spark job — at registry
# scale the distributed rounds were pure driver latency. The replay below
# mirrors the distributed loop round for round (same candidate caps, same
# improved sets, same round counts and error contract), so results are
# identical by construction; pytest forces the distributed path for
# dedicated coverage by monkeypatching this to 0.
DRIVER_EDGES = 1_000_000


def _np_frontier_bf(
    eu, ev, wpack, labels, max_dist: int | None, max_rounds: int, op: str
):
    """Exact numpy replay of the distributed frontier Bellman-Ford: per
    round, relax every edge (equivalent to frontier-only relaxation — a
    candidate from a non-frontier node was already absorbed the round its
    tail last improved), apply the same candidate cap, keep strict
    improvements, stop on an improvement-free round, raise on max_rounds
    exhausted. labels: (n_sources, n_nodes) int64, INF = absent. Returns
    (labels, rounds)."""
    INF = 1 << 62
    cap = (max_dist + 1) * HOPS_BASE if max_dist is not None else None
    rounds = 0
    for _ in range(max_rounds):
        improved_any = False
        new = labels.copy()
        for si in range(labels.shape[0]):
            cand = labels[si, eu] + wpack
            if cap is not None:
                cand = np.where(cand < cap, cand, INF)
            else:
                cand = np.where(labels[si, eu] < INF, cand, INF)
            np.minimum.at(new[si], ev, cand)
        rounds += 1
        if np.array_equal(new, labels):
            improved_any = False
        else:
            improved_any = True
        labels = new
        if not improved_any:
            break
    else:
        raise RuntimeError(
            f"{op}: frontier non-empty after {max_rounds} rounds; "
            "raise max_rounds or bound the query with max_dist"
        )
    return labels, rounds


def _prep_edges(
    edges: DataFrame, src: str, dst: str, w: str, directed: bool
) -> DataFrame:
    e = edges.select(
        F.col(src).cast("long").alias("u"),
        F.col(dst).cast("long").alias("v"),
        F.col(w).cast("long").alias("w"),
    )
    if not directed:
        e = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"), "w"))
    # parallel edges: keep the cheapest (fewer rows through every round);
    # negative weights are a contract violation (Bellman-Ford would need the
    # full |V|-1 rounds and a negative-cycle check — not a road network)
    return e.groupBy("u", "v").agg(F.min("w").alias("w"))


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    w: str = "w",
    source_id: str = "source_id",
    node: str = "node",
    directed: bool = False,
    max_dist: int | None = None,
    max_rounds: int = 64,
    check_negative: bool = True,
) -> DataFrame:
    """Multi-source shortest paths over a weighted edge frame.

    edges: (src, dst, w) with NON-NEGATIVE integer weights (use scaled
    integers — mm lengths from engine/trajectory.py — not floats: the label
    min must be exact across engines). directed=False symmetrizes.
    sources: (source_id, node) — each source relaxes independently (the
    label key is the pair), so one call serves many origins.
    max_dist: prune every label > max_dist — the isochrone query. Bounds
    both the answer AND the wavefront (rounds <= max_dist/min_edge_weight).
    max_rounds: hard round cap; raises RuntimeError if the frontier is still
    non-empty after it (hop diameter exceeded the cap — raise it, or set
    max_dist to bound the query).

    Returns (source_id, node, dist, hops): dist = network distance of the
    shortest path, hops = edge count of the fewest-edge path among the
    shortest (the deterministic tie-break). Sources appear with dist=0,
    hops=0; unreachable (or beyond max_dist) nodes are absent.

    Each round: frontier ⋈ edges -> candidate labels -> (source, node) min
    -> keep strict improvements vs settled -> merge. 3 shuffles/round (join,
    candidate min, improvement anti-semi), frontier-sized except the merge,
    lineage truncated per round."""
    if max_rounds >= HOPS_BASE:
        raise ValueError(f"max_rounds must be < {HOPS_BASE}")
    if max_dist is not None and max_dist >= (1 << 62) // HOPS_BASE:
        raise ValueError("max_dist too large for exact packed labels")
    # r6 round discipline (guide §1/§5): lineage is still truncated per
    # round, but every localCheckpoint is LAZY — the per-round empty-frontier
    # count is the round's ONLY driver action and materializes both the
    # improved frontier and (via its join input) the previous round's settled
    # set; the eager variant cost three sequential driver latencies per round
    # on frontier-sized (tiny) frames. The negative-weight guard doubles as
    # the edge-frame materializer the same way.
    e = _prep_edges(edges, src, dst, w, directed).localCheckpoint(eager=False)
    # one agg doubles as the checkpoint materializer, the negative-weight
    # guard AND the driver-path size gate
    stats = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum((F.col("w") < 0).cast("long")), F.lit(0)
        ).alias("neg"),
    ).collect()[0]
    if check_negative and stats["neg"]:
        raise ValueError("shortest_paths requires non-negative weights")

    s = sources.select(
        F.col(source_id).cast("long").alias("sid"),
        F.col(node).cast("long").alias("n"),
    ).distinct()

    global LAST_ROUNDS
    if stats["n"] <= DRIVER_EDGES:
        spark = edges.sparkSession
        import pandas as pd

        pdf = e.toPandas()  # reads the agg-materialized checkpoint
        srows = s.collect()
        eu_ids = pdf["u"].to_numpy(dtype=np.int64)
        ev_ids = pdf["v"].to_numpy(dtype=np.int64)
        ew = pdf["w"].to_numpy(dtype=np.int64)
        sids = sorted({int(r["sid"]) for r in srows})
        sidx = {x: i for i, x in enumerate(sids)}
        src_nodes = np.asarray([int(r["n"]) for r in srows], dtype=np.int64)
        nodes = np.unique(np.concatenate([eu_ids, ev_ids, src_nodes]))
        eu = np.searchsorted(nodes, eu_ids)
        ev = np.searchsorted(nodes, ev_ids)
        INF = 1 << 62
        labels = np.full((len(sids), len(nodes)), INF, dtype=np.int64)
        for r in srows:
            labels[sidx[int(r["sid"])], int(np.searchsorted(nodes, r["n"]))] = 0
        labels, LAST_ROUNDS = _np_frontier_bf(
            eu, ev, ew * HOPS_BASE + 1, labels, max_dist, max_rounds,
            "shortest_paths",
        )
        si, ni = np.nonzero(labels < INF)
        key = labels[si, ni]
        out = pd.DataFrame(
            {
                "source_id": np.asarray(sids, dtype=np.int64)[si],
                "node": nodes[ni],
                "dist": key >> 20,
                "hops": key % HOPS_BASE,
            }
        )
        return local_relation(
            spark, out, "source_id long, node long, dist long, hops long"
        )
    # settled: best packed label per (sid, n) found so far
    settled = s.withColumn("key", F.lit(0).cast("long")).localCheckpoint(
        eager=False
    )
    frontier = settled

    LAST_ROUNDS = 0
    for _ in range(max_rounds):
        cand = (
            frontier.join(e, frontier["n"] == e["u"])
            # packed arithmetic: (d + w, h + 1) == key + w*HOPS_BASE + 1
            .select(
                "sid",
                e["v"].alias("n"),
                (F.col("key") + F.col("w") * HOPS_BASE + 1).alias("key"),
            )
        )
        if max_dist is not None:
            cand = cand.filter(F.col("key") < (max_dist + 1) * HOPS_BASE)
        cand = cand.groupBy("sid", "n").agg(F.min("key").alias("key"))
        improved = (
            cand.join(
                settled.withColumnRenamed("key", "_old"), ["sid", "n"], "left"
            )
            .filter(F.col("_old").isNull() | (F.col("key") < F.col("_old")))
            .select("sid", "n", "key")
            .localCheckpoint(eager=False)
        )
        LAST_ROUNDS += 1
        if improved.count() == 0:
            break
        settled = (
            settled.unionByName(improved)
            .groupBy("sid", "n")
            .agg(F.min("key").alias("key"))
            .localCheckpoint(eager=False)
        )
        frontier = improved
    else:
        raise RuntimeError(
            f"shortest_paths: frontier non-empty after {max_rounds} rounds; "
            "raise max_rounds or bound the query with max_dist"
        )
    return settled.select(
        F.col("sid").alias("source_id"),
        F.col("n").alias("node"),
        # exact integer division: `/` on longs is double division in Spark
        # (lossy past 2^53); HOPS_BASE is 2^20 so shift instead
        F.shiftright(F.col("key"), 20).alias("dist"),
        (F.col("key") % HOPS_BASE).alias("hops"),
    )


def point_to_point(
    edges: DataFrame,
    source: int,
    target: int,
    src: str = "src",
    dst: str = "dst",
    w: str = "w",
    directed: bool = False,
    max_dist: int | None = None,
    max_rounds: int = 64,
    check_negative: bool = True,
) -> DataFrame:
    """Single-pair shortest path by BIDIRECTIONAL frontier search (VERDICT r4
    item 2: round count ≪ hop diameter). A forward frontier grows from
    `source` and a backward frontier from `target` (over reversed edges) in
    the SAME frame, tagged dir∈{0,1}, so each round is still one join + one
    min-agg. After each round the best meeting value
    mu = min over met nodes of key_f(n) + key_b(n) (packed BIGINT sum: the
    lexicographic (dist_f+dist_b, hops_f+hops_b) minimum) is folded from the
    newly-improved labels only — one 1-row agg per round, the same bounded
    driver action discipline as the empty-frontier probe.

    Exactness: labels discovered in round r+1 are >= the round-r frontier
    minimum + 1 in packed space (w >= 0, +1 hop), so once
    min_f(frontier) + min_b(frontier) > mu no undiscovered s-t path — on
    DIST or on the fewest-hops tie-break, both live in the packed key — can
    beat mu; the loop stops there, typically ~half the s-t hop count, with
    each side's explored ball exponentially smaller than the unidirectional
    wavefront. Labels >= mu are pruned from the candidate stream (they can
    only lose), which keeps late-round frontiers thin.

    Returns a 1-row DataFrame (source_id=0 for parity with shortest_paths'
    output shape, node=target, dist, hops) — empty if target is unreachable
    (or farther than max_dist)."""
    # mu sums TWO packed labels, each carrying up to max_rounds hops, so the
    # hop field holds up to 2*max_rounds — the guard must keep that sum from
    # carrying into the dist field (ADVICE r5)
    if 2 * max_rounds >= HOPS_BASE:
        raise ValueError(f"max_rounds must be < {HOPS_BASE // 2}")
    if max_dist is not None and max_dist >= (1 << 62) // HOPS_BASE:
        raise ValueError("max_dist too large for exact packed labels")
    spark = edges.sparkSession
    e = _prep_edges(edges, src, dst, w, directed)
    # direction-tagged edge frame: dir=0 walks forward edges, dir=1 reversed
    e2 = (
        e.withColumn("dir", F.lit(0))
        .unionByName(
            e.select(
                F.col("v").alias("u"), F.col("u").alias("v"), "w"
            ).withColumn("dir", F.lit(1))
        )
        .localCheckpoint(eager=False)
    )
    # one agg: checkpoint materializer + negative guard + driver-path gate
    stats = e2.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum((F.col("w") < 0).cast("long")), F.lit(0)
        ).alias("neg"),
    ).collect()[0]
    if check_negative and stats["neg"]:
        raise ValueError("point_to_point requires non-negative weights")
    if stats["n"] <= DRIVER_EDGES:
        return _p2p_driver(
            spark, e2, int(source), int(target), max_dist, max_rounds
        )
    settled = local_relation(
        spark,
        [(0, int(source), 0), (1, int(target), 0)], "dir int, n long, key long"
    ).localCheckpoint(eager=False)
    frontier = settled
    INF = (1 << 62)
    mu = INF if source != target else 0

    global LAST_ROUNDS
    LAST_ROUNDS = 0
    for _ in range(max_rounds):
        if source == target:
            break
        cand = frontier.join(
            e2, (frontier["n"] == e2["u"]) & (frontier["dir"] == e2["dir"])
        ).select(
            frontier["dir"],
            e2["v"].alias("n"),
            (F.col("key") + F.col("w") * HOPS_BASE + 1).alias("key"),
        )
        cap = mu if mu < INF else None
        if max_dist is not None:
            cap = min(
                cap if cap is not None else INF, (max_dist + 1) * HOPS_BASE
            )
        if cap is not None:
            cand = cand.filter(F.col("key") < F.lit(int(cap)))
        cand = cand.groupBy("dir", "n").agg(F.min("key").alias("key"))
        improved = (
            cand.join(
                settled.withColumnRenamed("key", "_old"), ["dir", "n"], "left"
            )
            .filter(F.col("_old").isNull() | (F.col("key") < F.col("_old")))
            .select("dir", "n", "key")
            .localCheckpoint(eager=False)
        )
        LAST_ROUNDS += 1
        # one driver row: per-direction frontier minima + the best NEW meet
        # (improved labels against the other side's settled set; both
        # freshly-improved sides meet through the settled union too, since
        # settled is updated before the next probe round). r6: the probe
        # .first() is the round's ONLY driver action — both localCheckpoints
        # are lazy and materialize inside the probe job (guide §1/§5).
        settled = (
            settled.unionByName(improved)
            .groupBy("dir", "n")
            .agg(F.min("key").alias("key"))
            .localCheckpoint(eager=False)
        )
        other = settled.withColumnRenamed("key", "_ok").withColumn(
            "dir", F.lit(1) - F.col("dir")
        )
        probe = (
            improved.groupBy("dir").agg(F.min("key").alias("fmin"))
            .groupBy()
            .agg(
                F.min(F.when(F.col("dir") == 0, F.col("fmin"))).alias("f0"),
                F.min(F.when(F.col("dir") == 1, F.col("fmin"))).alias("f1"),
            )
            .crossJoin(
                improved.join(other, ["dir", "n"])
                .groupBy()
                .agg(F.min(F.col("key") + F.col("_ok")).alias("meet"))
            )
            .first()
        )
        f0 = probe["f0"] if probe["f0"] is not None else INF
        f1 = probe["f1"] if probe["f1"] is not None else INF
        if probe["meet"] is not None:
            mu = min(mu, int(probe["meet"]))
        frontier = improved
        if f0 == INF and f1 == INF:
            break  # both frontiers empty: mu is final (or unreachable)
        if f0 + f1 > mu:
            break  # no undiscovered path can beat mu, even on hops
    else:
        raise RuntimeError(
            f"point_to_point: not settled after {max_rounds} rounds; raise "
            "max_rounds or bound the query with max_dist"
        )
    if mu >= INF or (max_dist is not None and mu >= (max_dist + 1) * HOPS_BASE):
        return local_relation(
            spark, [], "source_id long, node long, dist long, hops long"
        )
    return local_relation(
        spark, [(0, int(target), int(mu) // HOPS_BASE, int(mu) % HOPS_BASE)],
        "source_id long, node long, dist long, hops long",
    )


def _p2p_driver(
    spark, e2: DataFrame, source: int, target: int,
    max_dist: int | None, max_rounds: int,
) -> DataFrame:
    """Exact numpy replay of point_to_point's bidirectional loop for
    DRIVER_EDGES-gated graphs: the same direction-tagged relaxation, the
    same per-round candidate cap min(mu, max_dist), the same mu fold from
    newly-improved labels against the other side's updated settled set, and
    the same two termination tests — so mu, the round count and the error
    contract match the distributed loop exactly."""
    import pandas as pd

    global LAST_ROUNDS
    pdf = e2.toPandas()  # reads the agg-materialized checkpoint
    eu_ids = pdf["u"].to_numpy(dtype=np.int64)
    ev_ids = pdf["v"].to_numpy(dtype=np.int64)
    wpack = pdf["w"].to_numpy(dtype=np.int64) * HOPS_BASE + 1
    edir = pdf["dir"].to_numpy(dtype=np.int64)
    nodes = np.unique(
        np.concatenate(
            [eu_ids, ev_ids, np.asarray([source, target], dtype=np.int64)]
        )
    )
    eu = np.searchsorted(nodes, eu_ids)
    ev = np.searchsorted(nodes, ev_ids)
    INF = 1 << 62
    settled = np.full((2, len(nodes)), INF, dtype=np.int64)
    settled[0, int(np.searchsorted(nodes, source))] = 0
    settled[1, int(np.searchsorted(nodes, target))] = 0
    mu = INF if source != target else 0
    LAST_ROUNDS = 0
    for _ in range(max_rounds):
        if source == target:
            break
        cap = mu if mu < INF else None
        if max_dist is not None:
            cap = min(cap if cap is not None else INF,
                      (max_dist + 1) * HOPS_BASE)
        new = settled.copy()
        for d in (0, 1):
            m = edir == d
            cand = settled[d, eu[m]] + wpack[m]
            if cap is not None:
                cand = np.where(cand < cap, cand, INF)
            else:
                cand = np.where(settled[d, eu[m]] < INF, cand, INF)
            np.minimum.at(new[d], ev[m], cand)
        improved = new < settled
        LAST_ROUNDS += 1
        settled = new
        f0 = int(new[0][improved[0]].min()) if improved[0].any() else INF
        f1 = int(new[1][improved[1]].min()) if improved[1].any() else INF
        # best NEW meet: improved labels against the other side's UPDATED
        # settled set (matches the distributed probe, which reads the
        # post-union settled frame)
        meet = INF
        for d in (0, 1):
            if improved[d].any():
                idx = np.nonzero(improved[d])[0]
                other = settled[1 - d, idx]
                ok = other < INF
                if ok.any():
                    meet = min(
                        meet, int((settled[d, idx[ok]] + other[ok]).min())
                    )
        if meet < INF:
            mu = min(mu, meet)
        if f0 == INF and f1 == INF:
            break
        if f0 + f1 > mu:
            break
    else:
        raise RuntimeError(
            f"point_to_point: not settled after {max_rounds} rounds; raise "
            "max_rounds or bound the query with max_dist"
        )
    if mu >= INF or (
        max_dist is not None and mu >= (max_dist + 1) * HOPS_BASE
    ):
        return local_relation(
            spark, [], "source_id long, node long, dist long, hops long"
        )
    return local_relation(
        spark, [(0, int(target), int(mu) // HOPS_BASE, int(mu) % HOPS_BASE)],
        "source_id long, node long, dist long, hops long",
    )


def isochrone_cells(
    edges: DataFrame,
    sources: DataFrame,
    nodes: DataFrame,
    budgets: list[int],
    node_id: str = "node",
    x_col: str = "x",
    y_col: str = "y",
    cell_size: float = 1.0,
    **kwargs,
) -> DataFrame:
    """Isochrone rasterization: network-reachability rings as cell sets.
    Runs shortest_paths with max_dist = max(budgets), joins node coordinates,
    and buckets every reached node into the SMALLEST budget that covers it;
    output (source_id, budget, cell, n_nodes, min_dist) — the tile/choropleth
    feed. One extra equi-join + agg over the SSSP output."""
    if not budgets:
        raise ValueError("budgets must be non-empty")
    bs = sorted(set(int(b) for b in budgets))
    d = shortest_paths(edges, sources, max_dist=bs[-1], **kwargs)
    pts = nodes.select(
        F.col(node_id).cast("long").alias("node"),
        (F.floor(F.col(x_col) / cell_size)).cast("long").alias("_cx"),
        (F.floor(F.col(y_col) / cell_size)).cast("long").alias("_cy"),
    )
    budget = F.lit(None).cast("long")
    for b in reversed(bs):
        budget = F.when(F.col("dist") <= b, F.lit(b)).otherwise(budget)
    return (
        d.join(pts, "node")
        .withColumn("budget", budget)
        .groupBy("source_id", "budget", "_cx", "_cy")
        .agg(F.count("*").alias("n_nodes"), F.min("dist").alias("min_dist"))
        .select(
            "source_id",
            "budget",
            F.concat_ws(":", "_cx", "_cy").alias("cell"),
            "n_nodes",
            "min_dist",
        )
    )


def shortest_paths_sql(
    edges_sql: str,
    sources_sql: str,
    rounds: int,
    directed: bool = False,
    max_dist: int | None = None,
) -> str:
    """DuckDB twin of shortest_paths: `rounds` relaxation rounds unrolled as
    nested CTEs (exact parity whenever rounds >= the Spark call's
    LAST_ROUNDS). edges_sql -> (src, dst, w); sources_sql -> (source_id,
    node). Same packed-label min, so dist AND hops tie-breaks match."""
    sym = (
        "SELECT src AS u, dst AS v, w FROM e0"
        if directed
        else "SELECT src AS u, dst AS v, w FROM e0 "
        "UNION ALL SELECT dst AS u, src AS v, w FROM e0"
    )
    # the cap must test the CANDIDATE label, spelled out as the full
    # expression: a bare `key` in WHERE resolves to the input column d.key
    # (the predecessor's label), which silently caps one hop too late
    cap = (
        f" WHERE d.key + e.w * {HOPS_BASE} + 1 < {(max_dist + 1) * HOPS_BASE}"
        if max_dist is not None
        else ""
    )
    # MATERIALIZED: every unrolled round references e — without it DuckDB
    # re-plans (and re-opens) the base scan per round and can exhaust file
    # handles on parquet-backed views (same fix as connected_components_sql)
    ctes = [
        f"e0 AS MATERIALIZED ({edges_sql})",
        f"e AS MATERIALIZED (SELECT u, v, MIN(w) AS w FROM ({sym}) GROUP BY u, v)",
        f"d0 AS MATERIALIZED (SELECT DISTINCT CAST(source_id AS BIGINT) AS sid, "
        f"CAST(node AS BIGINT) AS n, CAST(0 AS BIGINT) AS key "
        f"FROM ({sources_sql}))",
    ]
    for i in range(1, rounds + 1):
        # each round references the previous one TWICE; without MATERIALIZED
        # the inlined plan doubles per round (2^rounds blowup)
        ctes.append(
            f"d{i} AS MATERIALIZED (SELECT sid, n, MIN(key) AS key FROM ("
            f"SELECT sid, n, key FROM d{i-1} UNION ALL "
            f"SELECT d.sid, e.v AS n, d.key + e.w * {HOPS_BASE} + 1 AS key "
            f"FROM d{i-1} d JOIN e ON e.u = d.n{cap}) GROUP BY sid, n)"
        )
    return (
        "WITH " + ", ".join(ctes) + f" SELECT sid AS source_id, n AS node, "
        f"CAST(key // {HOPS_BASE} AS BIGINT) AS dist, "
        f"CAST(key % {HOPS_BASE} AS BIGINT) AS hops FROM d{rounds}"
    )


def closest_facility(
    edges: DataFrame,
    facilities: DataFrame,
    facility_id: str = "facility_id",
    node: str = "node",
    max_dist: int | None = None,
    **kwargs,
) -> DataFrame:
    """Nearest facility by NETWORK distance for every reachable node —
    catchment assignment / service-area analysis. One multi-source
    shortest_paths pass (each facility is a source; the rounds amortize
    across ALL facilities, the measured 100.9x win in BENCH/BASELINE.md)
    followed by a per-node argmin window. Ties break to the smallest
    (dist, hops, facility_id) — deterministic in every engine.

    Returns (node, facility_id, dist, hops). max_dist bounds the catchment
    radius (nodes farther than it from every facility are absent)."""
    from pyspark.sql import Window

    d = shortest_paths(
        edges,
        facilities,
        source_id=facility_id,
        node=node,
        max_dist=max_dist,
        **kwargs,
    )
    w = Window.partitionBy("node").orderBy("dist", "hops", "source_id")
    return (
        d.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "node",
            F.col("source_id").alias("facility_id"),
            "dist",
            "hops",
        )
    )
