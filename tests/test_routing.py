"""shortest_paths / isochrones vs a driver Dijkstra oracle + the unrolled
DuckDB twin, with planted-structure checks (grid diamond, chain)."""

import heapq
import random

import duckdb
import pytest
from pyspark.sql import functions as F

from engine import routing


def _dijkstra(edges, sources, directed=False, max_dist=None):
    """Driver oracle: lexicographic-(dist, hops) Dijkstra per source.
    Returns {(sid, node): (dist, hops)}."""
    adj = {}
    for u, v, w in edges:
        adj.setdefault(u, []).append((v, w))
        if not directed:
            adj.setdefault(v, []).append((u, w))
    out = {}
    for sid, start in sources:
        best = {start: (0, 0)}
        pq = [(0, 0, start)]
        while pq:
            d, h, x = heapq.heappop(pq)
            if best.get(x) != (d, h):
                continue
            for y, w in adj.get(x, []):
                nd, nh = d + w, h + 1
                if max_dist is not None and nd > max_dist:
                    continue
                if y not in best or (nd, nh) < best[y]:
                    best[y] = (nd, nh)
                    heapq.heappush(pq, (nd, nh, y))
        for n, (d, h) in best.items():
            k = (sid, n)
            if k not in out or (d, h) < out[k]:
                out[k] = (d, h)
    return out


def _run(spark, edges, sources, **kw):
    e = spark.createDataFrame(edges, ["src", "dst", "w"])
    s = spark.createDataFrame(sources, ["source_id", "node"])
    res = routing.shortest_paths(e, s, **kw)
    return {
        (r["source_id"], r["node"]): (r["dist"], r["hops"])
        for r in res.collect()
    }


@pytest.mark.parametrize("seed,n,m,directed", [(1, 40, 90, False), (2, 60, 150, True), (3, 80, 120, False)])
def test_random_graphs_match_dijkstra(spark, seed, n, m, directed):
    rng = random.Random(seed)
    edges = [
        (rng.randrange(n), rng.randrange(n), rng.randrange(1, 20))
        for _ in range(m)
    ]
    sources = [(0, rng.randrange(n)), (1, rng.randrange(n))]
    got = _run(spark, edges, sources, directed=directed)
    assert got == _dijkstra(edges, sources, directed=directed)


def test_max_dist_isochrone_matches_dijkstra(spark):
    rng = random.Random(7)
    n = 50
    edges = [
        (rng.randrange(n), rng.randrange(n), rng.randrange(1, 10))
        for _ in range(120)
    ]
    sources = [(0, 3)]
    got = _run(spark, edges, sources, max_dist=12)
    assert got == _dijkstra(edges, sources, max_dist=12)


def test_duckdb_unrolled_twin_parity(spark):
    rng = random.Random(11)
    n = 36
    edges = [
        (rng.randrange(n), rng.randrange(n), rng.randrange(1, 15))
        for _ in range(80)
    ]
    sources = [(0, 1), (1, 20)]
    got = _run(spark, edges, sources)
    rounds = routing.LAST_ROUNDS
    con = duckdb.connect()
    ev = ", ".join(f"({u}, {v}, {w})" for u, v, w in edges)
    sv = ", ".join(f"({a}, {b})" for a, b in sources)
    sql = routing.shortest_paths_sql(
        f"SELECT * FROM (VALUES {ev}) AS t(src, dst, w)",
        f"SELECT * FROM (VALUES {sv}) AS t(source_id, node)",
        rounds=rounds,
    )
    oracle = {
        (sid, node): (dist, hops)
        for sid, node, dist, hops in con.execute(sql).fetchall()
    }
    assert got == oracle


def test_grid_diamond_planted(spark):
    # unit-weight 4-neighbor grid, source at center, max_dist=D: the
    # reachable set is the manhattan diamond — counts and dist sums in
    # closed form (same planted-structure idea as the bench at 16.8M nodes)
    side, d = 21, 6
    c = side // 2

    def nid(x, y):
        return x * side + y

    edges = []
    for x in range(side):
        for y in range(side):
            if x + 1 < side:
                edges.append((nid(x, y), nid(x + 1, y), 1))
            if y + 1 < side:
                edges.append((nid(x, y), nid(x, y + 1), 1))
    got = _run(spark, edges, [(0, nid(c, c))], max_dist=d)
    assert len(got) == 2 * d * d + 2 * d + 1
    # every node's dist must equal its manhattan distance; hops == dist
    for (sid, n), (dist, hops) in got.items():
        x, y = divmod(n, side)
        assert dist == abs(x - c) + abs(y - c)
        assert hops == dist
    assert routing.LAST_ROUNDS == d + 1  # d expanding rounds + empty settle


def test_chain_needs_rounds_and_caps(spark):
    # a 12-hop chain: converges at max_rounds=13, raises at 5
    edges = [(i, i + 1, 2) for i in range(12)]
    got = _run(spark, edges, [(0, 0)], max_rounds=13)
    assert got[(0, 12)] == (24, 12)
    with pytest.raises(RuntimeError, match="rounds"):
        _run(spark, edges, [(0, 0)], max_rounds=5)


def test_unreachable_absent_and_parallel_edges(spark):
    edges = [(0, 1, 5), (0, 1, 3), (2, 3, 1)]  # two components, dup edge
    got = _run(spark, edges, [(0, 0)])
    assert got == {(0, 0): (0, 0), (0, 1): (3, 1)}


def test_negative_weight_rejected(spark):
    with pytest.raises(ValueError, match="non-negative"):
        _run(spark, [(0, 1, -2)], [(0, 0)])


def test_negative_weight_rejected_local_relation(spark):
    """The driver-held edge path raises the same error for both operators."""
    from engine.session import local_relation

    e = local_relation(spark, [(0, 1, 4), (1, 2, -2)], "src long, dst long, w long")
    s = local_relation(spark, [(0, 0)], ["source_id", "node"])
    with pytest.raises(ValueError, match="non-negative"):
        routing.shortest_paths(e, s)
    with pytest.raises(ValueError, match="non-negative"):
        routing.point_to_point(e, 0, 2)


def test_hops_tiebreak(spark):
    # two paths of equal dist 6: 0->3 direct (1 hop) vs 0->1->2->3 (3 hops);
    # the label must prefer the 1-hop path
    edges = [(0, 3, 6), (0, 1, 2), (1, 2, 2), (2, 3, 2)]
    got = _run(spark, edges, [(0, 0)])
    assert got[(0, 3)] == (6, 1)


def test_isochrone_cells(spark):
    side = 11
    c = side // 2

    def nid(x, y):
        return x * side + y

    edges = []
    nodes = []
    for x in range(side):
        for y in range(side):
            nodes.append((nid(x, y), float(x), float(y)))
            if x + 1 < side:
                edges.append((nid(x, y), nid(x + 1, y), 1))
            if y + 1 < side:
                edges.append((nid(x, y), nid(x, y + 1), 1))
    e = spark.createDataFrame(edges, ["src", "dst", "w"])
    s = spark.createDataFrame([(0, nid(c, c))], ["source_id", "node"])
    nd = spark.createDataFrame(nodes, ["node", "x", "y"])
    out = routing.isochrone_cells(
        e, s, nd, budgets=[2, 4], cell_size=float(side)
    ).collect()
    # one cell covers the whole grid -> exactly two rows (budget 2 and 4)
    by_budget = {r["budget"]: r for r in out}
    assert set(by_budget) == {2, 4}
    assert by_budget[2]["n_nodes"] == 2 * 2 * 2 + 2 * 2 + 1  # diamond(2)=13
    # budget-4 ring: diamond(4) minus diamond(2)
    assert by_budget[4]["n_nodes"] == (2 * 16 + 8 + 1) - 13
    assert by_budget[2]["min_dist"] == 0 and by_budget[4]["min_dist"] == 3


def test_closest_facility(spark):
    # chain 0-1-2-3-4-5 with unit weights; facilities at nodes 0 and 5:
    # nodes 0,1,2 -> facility 0; 3,4,5 -> facility 5; the midpoint tie at
    # node 2/3 does not exist (2 is dist 2 from 0, dist 3 from 5)
    from engine.routing import closest_facility

    edges = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(5)], ["src", "dst", "w"]
    )
    fac = spark.createDataFrame([(0, 0), (5, 5)], ["facility_id", "node"])
    got = {
        r["node"]: (r["facility_id"], r["dist"])
        for r in closest_facility(edges, fac).collect()
    }
    assert got == {0: (0, 0), 1: (0, 1), 2: (0, 2), 3: (5, 2), 4: (5, 1), 5: (5, 0)}


def test_closest_facility_tie_breaks_to_smaller_id(spark):
    # node 1 equidistant (dist 1) from facilities 7 and 3 -> picks 3
    from engine.routing import closest_facility

    edges = spark.createDataFrame([(0, 1, 1), (1, 2, 1)], ["src", "dst", "w"])
    fac = spark.createDataFrame([(7, 0), (3, 2)], ["facility_id", "node"])
    got = {
        r["node"]: r["facility_id"]
        for r in closest_facility(edges, fac).collect()
    }
    assert got[1] == 3


# ---------------------------------------------------------------------------
# point_to_point (bidirectional) — VERDICT r4 item 2
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("seed,n,m,directed", [(5, 50, 120, False), (6, 70, 160, True)])
def test_p2p_matches_dijkstra_and_shortest_paths(spark, seed, n, m, directed):
    """Exact (dist, hops) parity with the Dijkstra oracle AND with the
    unidirectional shortest_paths, over several random pairs per graph."""
    rng = random.Random(seed)
    edges = [
        (rng.randrange(n), rng.randrange(n), rng.randrange(1, 20))
        for _ in range(m)
    ]
    e = spark.createDataFrame(edges, ["src", "dst", "w"])
    for _ in range(4):
        s, t = rng.randrange(n), rng.randrange(n)
        oracle = _dijkstra(edges, [(0, s)], directed=directed)
        got = routing.point_to_point(e, s, t, directed=directed).collect()
        if (0, t) in oracle:
            assert len(got) == 1
            assert (got[0]["dist"], got[0]["hops"]) == oracle[(0, t)]
        else:
            assert got == []


def test_p2p_self_and_unreachable(spark):
    e = spark.createDataFrame([(0, 1, 5), (2, 3, 1)], ["src", "dst", "w"])
    self_row = routing.point_to_point(e, 1, 1).collect()
    assert [(r["dist"], r["hops"]) for r in self_row] == [(0, 0)]
    assert routing.point_to_point(e, 0, 3).collect() == []


def test_p2p_halves_rounds_on_chain(spark):
    """On a 16-hop chain the unidirectional frontier needs 16 rounds to reach
    the far end; the bidirectional search meets in the middle."""
    n = 17
    edges = [(i, i + 1, 3) for i in range(n - 1)]
    e = spark.createDataFrame(edges, ["src", "dst", "w"])
    s = spark.createDataFrame([(0, 0)], ["source_id", "node"])
    full = routing.shortest_paths(e, s, max_rounds=32)
    uni_rounds = routing.LAST_ROUNDS
    got = routing.point_to_point(e, 0, n - 1, max_rounds=32).collect()
    bi_rounds = routing.LAST_ROUNDS
    want = {r["node"]: (r["dist"], r["hops"]) for r in full.collect()}[n - 1]
    assert (got[0]["dist"], got[0]["hops"]) == want == (48, 16)
    assert bi_rounds <= uni_rounds // 2 + 2, (bi_rounds, uni_rounds)


def test_p2p_hops_tiebreak_exact(spark):
    """Two equal-dist routes, one with fewer hops: the packed-sum meet must
    keep the lexicographic tie-break exactly (the subtle bidirectional case —
    the tie can straddle the meeting point)."""
    # 0-1-2 (3+3=6, 2 hops)  vs  0-3-4-2 (2+2+2=6, 3 hops)
    edges = [(0, 1, 3), (1, 2, 3), (0, 3, 2), (3, 4, 2), (4, 2, 2)]
    e = spark.createDataFrame(edges, ["src", "dst", "w"])
    got = routing.point_to_point(e, 0, 2).collect()
    assert (got[0]["dist"], got[0]["hops"]) == (6, 2)


def test_p2p_max_dist_prunes(spark):
    edges = [(0, 1, 4), (1, 2, 4)]
    e = spark.createDataFrame(edges, ["src", "dst", "w"])
    assert routing.point_to_point(e, 0, 2, max_dist=7).collect() == []
    got = routing.point_to_point(e, 0, 2, max_dist=8).collect()
    assert (got[0]["dist"], got[0]["hops"]) == (8, 2)


def test_driver_vs_distributed_parity(spark, monkeypatch):
    """r6: the numpy frontier replay (DRIVER_EDGES fast path) must match the
    distributed loop row for row — dist, hops AND the diagnostic round
    count — for multi-source, capped, and bidirectional point-to-point."""
    _driver_parity(spark, monkeypatch, local=False, directed=False)


def test_driver_vs_distributed_parity_local_relation(spark, monkeypatch):
    """The same parity over local-relation edges and sources, which reach
    the driver replay through session.driver_table (numpy preparation, no
    gate job); undirected and directed, with parallel edges."""
    for directed in (False, True):
        _driver_parity(spark, monkeypatch, local=True, directed=directed)


def _driver_parity(spark, monkeypatch, local: bool, directed: bool):
    import random as _r

    from engine.session import local_relation

    make = (
        (lambda rows, schema: local_relation(spark, rows, schema)) if local
        else spark.createDataFrame
    )
    rng = _r.Random(9)
    rows = [
        (rng.randint(0, 60), rng.randint(0, 60), rng.randint(1, 9))
        for _ in range(300)
    ]
    edges = make(rows, "src long, dst long, w long")
    sources = make([(0, 3), (1, 17)], ["source_id", "node"])

    def run_all():
        d = sorted(
            map(
                tuple,
                routing.shortest_paths(
                    edges, sources, directed=directed, max_dist=25,
                    max_rounds=32,
                ).collect(),
            )
        )
        r1 = routing.LAST_ROUNDS
        p = sorted(
            map(
                tuple,
                routing.point_to_point(
                    edges, 3, 49, directed=directed, max_dist=200,
                    max_rounds=64,
                ).collect(),
            )
        )
        r2 = routing.LAST_ROUNDS
        return d, r1, p, r2

    fast = run_all()
    with monkeypatch.context() as m:
        m.setattr(routing, "DRIVER_EDGES", 0)
        dist = run_all()
    assert fast == dist
