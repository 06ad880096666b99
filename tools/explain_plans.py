"""Plan audit: dump formatted physical plans for the key operators and assert the
plan properties the engine is designed around (SURVEY.md §4):

- parquet scans show PushedFilters + pruned ReadSchema (filter/column pushdown);
- the PIP join is a BroadcastHashJoin with NO Exchange on the point side;
- hot expressions sit inside WholeStageCodegen spans;
- aggregations are partial+final hash aggregates.

Usage: python tools/explain_plans.py [--sf /root/testdata/sf0.01] > PLANS.md
"""

from __future__ import annotations

import argparse
import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from engine import cells, joins, synth  # noqa: E402
from engine.session import get_spark  # noqa: E402


def n_shuffles_of(plan: str) -> int:
    """Count shuffle exchanges in a FORMATTED plan. Each operator prints a
    detail header line "(7) Exchange"; broadcasts print "(7) BroadcastExchange"
    and never match. (The old substring count looked for "Exchange
    hashpartitioning", which formatted mode never emits as one string — every
    section read 0 shuffles; regression caught against test_tiles.py's
    simple-mode == 1 assertion.)"""
    import re

    return len(re.findall(r"^\(\d+\) Exchange\b", plan, flags=re.M))


def formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def check(name: str, plan: str, must: list[str], must_not: list[str]) -> bool:
    ok = True
    for m in must:
        if m not in plan:
            print(f"  MISSING expected plan feature: {m}")
            ok = False
    for m in must_not:
        if m in plan:
            print(f"  UNEXPECTED plan feature: {m}")
            ok = False
    print(f"  -> {'PLAN OK' if ok else 'PLAN ISSUES'}")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--full", action="store_true", help="print full plans")
    args = ap.parse_args()
    spark = get_spark("explain", cores=8, shuffle_partitions=8, driver_mem="8g")
    ok = True

    # 1. scan pushdown: filter + projection must reach the parquet scan
    li = spark.read.parquet(f"{args.sf}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") <= "1995-01-01").select(
        "l_orderkey", "l_extendedprice"
    )
    p = formatted(q)
    print("## scan pushdown (filter + projection)")
    if args.full:
        print(p)
    ok &= check(
        "pushdown", p,
        must=["PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"],
        must_not=[],
    )
    rs = [l for l in p.splitlines() if "ReadSchema" in l]
    print(f"  {rs[0].strip() if rs else 'ReadSchema missing!'}")
    ok &= bool(rs) and "l_quantity" not in rs[0]  # pruned

    # 2. PIP join: broadcast join, no point-side exchange before the join
    images = synth.images_df(spark, 10000)
    pts = images.select(
        "image_id",
        cells.anchor_lon(F.col("phash")).alias("lon"),
        cells.anchor_lat(F.col("phash")).alias("lat"),
    )
    polys = synth.polygons_df(spark, p=20)
    pip = joins.pip_join(pts, polys).groupBy("poly_id").count()
    p = formatted(pip)
    print("\n## PIP join (cover equi-join + refine)")
    if args.full:
        print(p)
    ok &= check(
        "pip", p,
        must=["BroadcastHashJoin", "HashAggregate"],
        must_not=["SortMergeJoin", "CartesianProduct"],
    )
    # codegen ids are hidden in formatted output while the AdaptiveSparkPlan is
    # unexecuted; exchange counts are the real structural signal. Design shape:
    # 2 BroadcastExchanges (scalar cover + 200-row ring dim — rings deliberately
    # do NOT ride per-cell in the cover, see joins.build_pip_cover) and exactly
    # 1 shuffle Exchange (the final groupBy) — the POINT side must never
    # shuffle. Each Exchange appears twice in formatted output (tree + detail).
    n_shuffles = n_shuffles_of(p)
    n_bcast = p.count("BroadcastExchange") // 2
    print(f"  shuffle exchanges: {n_shuffles} (expect 1: final agg); "
          f"broadcasts: {n_bcast} (expect <=2: cover + ring dim)")
    ok &= n_shuffles == 1 and n_bcast <= 2

    # 3. agg: partial + final hash aggregate
    agg = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    p = formatted(agg)
    print("\n## hash aggregation")
    if args.full:
        print(p)
    ok &= check("agg", p, must=["HashAggregate"], must_not=["SortAggregate"])

    # 4. sessionize: exactly one shuffle (on the key) feeds both windows
    from engine import temporal

    ev = spark.read.parquet(f"{args.sf}/events.parquet")
    sess = temporal.sessionize(ev, order_tiebreak="event_id")
    p = formatted(sess)
    print("\n## sessionize (lag + cumulative sum)")
    if args.full:
        print(p)
    n_exchanges = n_shuffles_of(p)
    print(f"  exchanges in plan: {n_exchanges} (expect 1: the user_id shuffle)")
    ok &= n_exchanges == 1
    ok &= check("sessionize", p, must=["Window"], must_not=["CartesianProduct"])

    # 5. pairwise operators: sub-quadratic plans, no cartesian product
    from engine import embedops, textops

    docs = spark.read.parquet(f"{args.sf}/documents.parquet")
    mh = textops.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.8)
    p = formatted(mh)
    print("\n## MinHash+LSH near-dup (banded bucket equi-join)")
    if args.full:
        print(p)
    ok &= check("minhash", p, must=[], must_not=["CartesianProduct"])

    jac = textops.ngram_jaccard_pairs_indexed(docs, "doc_id", "text", threshold=0.2)
    p = formatted(jac)
    print("\n## inverted-index n-gram Jaccard")
    if args.full:
        print(p)
    # the empty-set parity arm is a self-join of the (usually empty) zero-
    # shingle slice; the posting-list path itself must be equi-join only
    ok &= check("jaccard", p, must=["HashAggregate"], must_not=[])

    emb = spark.read.parquet(f"{args.sf}/embeddings.parquet")
    nd = embedops.cosine_near_dups(emb, mode="lsh", dim=64, n_planes=6)
    p = formatted(nd)
    print("\n## cosine near-dup (LSH-blocked)")
    if args.full:
        print(p)
    ok &= check("neardup", p, must=[], must_not=["CartesianProduct"])

    # 6. tile bundle: window + groupBy must share ONE tile-key shuffle
    from engine.tiles import tile_bundle

    feats = images.select(
        cells.grid_encode_phash(F.col("phash"), 7).alias("tile_id"),
        F.col("image_id").alias("id"),
    )
    tb = tile_bundle(feats, cap=8)
    p = formatted(tb)
    print("\n## tile bundle (capped per-tile packing)")
    if args.full:
        print(p)
    n_shuffles = n_shuffles_of(p)
    print(f"  shuffle exchanges: {n_shuffles} (expect 1: window+groupBy share "
          f"the tile partitioning)")
    ok &= n_shuffles == 1
    ok &= check("tile_bundle", p, must=["Window", "HashAggregate"],
                must_not=["CartesianProduct"])

    # 7. heatmap tiles: two bounded aggs, map-side partial combine, no Python
    from engine import raster

    pts = images.select(
        (F.col("phash") % 1000 / 10.0).alias("x"),
        (F.pmod(F.col("phash"), 700) / 10.0).alias("y"),
    )
    hm = raster.heatmap_tiles(pts, tile_size=8.0, res=16)
    p = formatted(hm)
    print("\n## heatmap tiles (point rasterization)")
    if args.full:
        print(p)
    n_shuffles = n_shuffles_of(p)
    print(f"  shuffle exchanges: {n_shuffles} (expect 2: pixel agg + tile agg; "
          f"the first is partial-combined map-side)")
    ok &= n_shuffles == 2
    ok &= check("heatmap_tiles", p,
                must=["partial_sum", "HashAggregate"],
                must_not=["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"])

    # 8. trip segmentation: window + groupBy share ONE entity-key shuffle
    # (HashPartitioning(_id) satisfies the (_id, trip_idx) clustering)
    from engine import trajectory

    fixes = images.select(
        (F.col("phash") % 50).alias("entity_id"),
        (F.col("phash") % 999_999_937).alias("ts_us"),
        (F.col("phash") % 360 - 180.0).cast("double").alias("lon"),
        (F.pmod(F.col("phash"), 170) - 85.0).cast("double").alias("lat"),
    )
    tr = trajectory.trip_segments(fixes)
    p = formatted(tr)
    print("\n## trip segmentation (trajectory gaps-and-islands)")
    if args.full:
        print(p)
    n_shuffles = n_shuffles_of(p)
    print(f"  shuffle exchanges: {n_shuffles} (expect 1: lag window, trip-idx "
          f"window and per-trip groupBy all reuse the entity partitioning)")
    ok &= n_shuffles == 1
    ok &= check("trip_segments", p, must=["Window", "HashAggregate"],
                must_not=["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"])

    # 9. phash near-dup pair graph: distinct-code discipline, chunk equi-join,
    # never a cartesian; all joins keyed (SortMergeJoin/ShuffledHashJoin ok)
    from engine import imagesim

    cp = imagesim.hamming_code_pairs(
        images.select("phash"), "phash", max_hamming=2
    )
    p = formatted(cp)
    print("\n## phash hamming pair graph (pigeonhole blocking)")
    if args.full:
        print(p)
    ok &= check("hamming_code_pairs", p,
                must=["HashAggregate"],
                must_not=["CartesianProduct", "BroadcastNestedLoopJoin",
                          "BatchEvalPython", "ArrowEvalPython"])

    # 10. polygon clip to tiles: generate + project ONLY — zero exchanges
    from engine import clip as clipmod

    ring = F.transform(
        F.sequence(F.lit(0), F.lit(5)),
        lambda i: F.struct(
            (F.col("phash") % 100 + i).cast("double").alias("x"),
            (F.pmod(F.col("phash"), 90) + i).cast("double").alias("y"),
        ),
    )
    polys = images.select(F.col("image_id").alias("poly_id"), ring.alias("ring"))
    pc = clipmod.polygon_clip_to_tiles(polys, tile_size=8.0)
    p = formatted(pc)
    print("\n## polygon clip to tiles (Sutherland-Hodgman, Column-only)")
    if args.full:
        print(p)
    n_shuffles = n_shuffles_of(p)
    print(f"  shuffle exchanges: {n_shuffles} (expect 0: bbox generate + "
          f"projection, vertex arrays never shuffle)")
    ok &= n_shuffles == 0
    ok &= check("polygon_clip_to_tiles", p, must=["Generate"],
                must_not=["CartesianProduct", "Exchange",
                          "BatchEvalPython", "ArrowEvalPython"])

    # 11. focal halo: strips union into ONE tile-key shuffle feeding the
    # Arrow grouped-map assembly; never a cartesian, never row-Python
    from engine import focal as focalmod

    tiles16 = raster.heatmap_tiles(pts, tile_size=8.0, res=16)
    fo = focalmod.focal_sum(tiles16, 16, radius=1)
    p = formatted(fo)
    print("\n## focal sum (halo exchange)")
    if args.full:
        print(p)
    n_shuffles = n_shuffles_of(p)
    print(f"  shuffle exchanges: {n_shuffles} (expect 3: the 2 heatmap aggs "
          f"+ ONE tile-key shuffle for all 9 strip streams; the halo design "
          f"point is that radius never adds exchanges)")
    ok &= n_shuffles == 3
    ok &= check("focal_halo", p, must=["FlatMapGroupsInPandas"],
                must_not=["CartesianProduct", "BatchEvalPython"])

    # 12. nearest-segment snap: broadcast cover + ONE fix-key argmin window
    from engine import matching

    roads = spark.createDataFrame(
        [(r, [{"x": 250.0 * i, "y": 4.0 * r} for i in range(5)])
         for r in range(10)],
        "line_id long, pts array<struct<x:double,y:double>>",
    )
    fixes_m = images.select(
        F.col("image_id").alias("fix_id"),
        (F.col("phash") % 1000 / 10.0).alias("x"),
        (F.pmod(F.col("phash"), 400) / 10.0).alias("y"),
    )
    sn = matching.snap_to_segments(fixes_m, roads, radius=0.5)
    p = formatted(sn)
    print("\n## nearest-segment snap (map matching)")
    if args.full:
        print(p)
    n_shuffles = n_shuffles_of(p)
    print(f"  shuffle exchanges: {n_shuffles} (expect 2: the per-fix argmin "
          f"window + the cover-side (cell,segment) dedup feeding the "
          f"BroadcastExchange — bounded by NETWORK size, not fix volume; "
          f"the fix scan itself never shuffles pre-join)")
    ok &= n_shuffles == 2
    # WindowGroupLimit: Spark pushes the rn=1 filter into a per-group top-1
    # limit BEFORE the argmin shuffle — candidates collapse map-side
    ok &= check("snap", p, must=["BroadcastHashJoin", "Window",
                                 "WindowGroupLimit"],
                must_not=["CartesianProduct", "SortMergeJoin",
                          "BatchEvalPython", "ArrowEvalPython"])

    # 13. emerging hotspots: keyed/broadcast joins only — the lone
    # BroadcastNestedLoopJoin is the area x bins cube densification (bins is
    # the broadcast tiny side); MK is in-row, never a pairwise self-join
    from engine import spacetime

    ev2 = images.select(
        ((F.col("phash") % 8) * 1000 + 5).alias("ts_us"),
        (F.col("phash") % 400 / 10.0).alias("x"),
        (F.pmod(F.col("phash"), 300) / 10.0).alias("y"),
    )
    eh = spacetime.emerging_hotspots(ev2, 10.0, 1000)
    p = formatted(eh)
    print("\n## emerging hotspots (space-time cube)")
    if args.full:
        print(p)
    n_bnlj = p.count("BroadcastNestedLoopJoin")
    print(f"  BroadcastNestedLoopJoin occurrences: {n_bnlj} (the area x "
          f"bins densification only — bins is broadcast-tiny)")
    ok &= check("emerging", p, must=["HashAggregate"],
                must_not=["CartesianProduct", "BatchEvalPython",
                          "ArrowEvalPython"])

    # 14. IDW grid: bounded scatter (Generate) + ONE map-side-combined hash
    # agg — no join, no Python, radius never adds exchanges
    from engine import interp

    samples = images.select(
        (F.col("phash") % 1000 / 10.0).alias("x"),
        (F.pmod(F.col("phash"), 700) / 10.0).alias("y"),
        (F.col("phash") % 97 / 10.0).alias("value"),
    )
    iw = interp.idw_grid(samples, cell_size=8.0, radius=12.0)
    p = formatted(iw)
    print("\n## IDW interpolation (bounded scatter + one agg)")
    if args.full:
        print(p)
    n_shuffles = n_shuffles_of(p)
    print(f"  shuffle exchanges: {n_shuffles} (expect 1: the cell agg; the "
          f"(2r+1)^2 scatter is a Generate, partial-combined map-side)")
    ok &= n_shuffles == 1
    ok &= check("idw", p, must=["Generate", "partial_count", "HashAggregate"],
                must_not=["CartesianProduct", "Exchange hashpartitioning(_sx",
                          "BatchEvalPython", "ArrowEvalPython"])

    # 14b. GWR local regression: identical bounded-scatter shape — ONE cell
    # agg exchange, Generate fan-out, all-JVM (no Python eval anywhere)
    gsamples = samples.withColumn("a", F.col("value") * 0.5)
    gw = interp.gwr_grid(gsamples, cell_size=8.0, radius=12.0)
    p = formatted(gw)
    print("\n## GWR local regression (bounded scatter + one agg)")
    if args.full:
        print(p)
    n_shuffles = n_shuffles_of(p)
    print(f"  shuffle exchanges: {n_shuffles} (expect 1: the cell agg)")
    ok &= n_shuffles == 1
    ok &= check("gwr", p, must=["Generate", "partial_count", "HashAggregate"],
                must_not=["CartesianProduct", "Exchange hashpartitioning(_sx",
                          "BatchEvalPython", "ArrowEvalPython"])

    # 15. geofence transitions: zone labeling is in-row HOF algebra over an
    # inlined literal; ONE entity-key window shuffle total
    from engine import trajectory as trajmod

    rects = [(1, 0.0, 0.0, 40.0, 30.0), (2, 30.0, 20.0, 70.0, 50.0)]
    labeled = fixes.select(
        "entity_id", F.col("ts_us").cast("long").alias("ts_us"),
        trajmod.rect_zones_expr(rects, F.col("lon"), F.col("lat")).alias("zones"),
    )
    gf = trajmod.geofence_transitions(labeled)
    p = formatted(gf)
    print("\n## geofence transitions (zone-set lag diff)")
    if args.full:
        print(p)
    n_shuffles = n_shuffles_of(p)
    print(f"  shuffle exchanges: {n_shuffles} (expect 1: the entity window; "
          f"zone labeling and the set diffs are in-row)")
    ok &= n_shuffles == 1
    ok &= check("geofence", p, must=["Window", "Generate"],
                must_not=["CartesianProduct", "BroadcastNestedLoopJoin",
                          "BatchEvalPython", "ArrowEvalPython"])

    # 16. trajectory similarity: the candidate join is a cell equi-join over
    # slim bbox rows (point arrays attach AFTER the pair filter); never a
    # cartesian, the only Python is the per-pair Arrow kernel
    from engine import trajsim as trajsimmod

    trips_in = fixes.select(
        F.col("entity_id").alias("trip_id"),
        F.col("ts_us").cast("long").alias("seq"),
        (F.col("lon") + 180.0).alias("x"), (F.col("lat") + 85.0).alias("y"),
    )
    tsym = trajsimmod.similar_trips(trips_in, threshold=5.0)
    p = formatted(tsym)
    print("\n## trajectory similarity (Hausdorff blocking)")
    if args.full:
        print(p)
    ok &= check("trajsim", p,
                must=["MapInPandas"],
                must_not=["CartesianProduct", "BroadcastNestedLoopJoin",
                          "BatchEvalPython"])

    # 17. per-image NMS: window pre-cap (WindowGroupLimit map-side) -> ONE
    # group shuffle into the bounded Arrow kernel
    from engine import nms as nmsmod

    dets = images.select(
        (F.col("phash") % 1000).alias("image_id"),
        F.col("image_id").cast("long").alias("box_id"),
        (F.col("phash") % 97).cast("double").alias("x0"),
        (F.pmod(F.col("phash"), 89)).cast("double").alias("y0"),
        (F.col("phash") % 97 + 10).cast("double").alias("x1"),
        (F.pmod(F.col("phash"), 89) + 10).cast("double").alias("y1"),
        (F.col("phash") % 1000 / 1000.0).alias("score"),
        F.lit(0).alias("cls"),
    )
    # max_boxes below spark.sql.window.group.limit.threshold (1000): the
    # pre-cap compiles to a map-side WindowGroupLimit; above it, a plain
    # Window + filter (still bounds the kernel, without the partial limit)
    nm = nmsmod.nms_boxes(dets, iou_threshold=0.5, max_boxes=512)
    p = formatted(nm)
    print("\n## per-image NMS (pre-capped greedy kernel)")
    if args.full:
        print(p)
    ok &= check("nms", p,
                must=["WindowGroupLimit", "FlatMapGroupsInPandas"],
                must_not=["CartesianProduct", "BatchEvalPython"])

    # 18. one routing round: frontier x edges equi-join + label min — keyed
    # joins and hash aggs only (the loop repeats this shape per round over
    # checkpointed inputs)
    from engine import routing as routingmod

    edges = images.select(
        (F.col("phash") % 500).alias("src"),
        (F.pmod(F.col("phash"), 499)).alias("dst"),
        (F.col("phash") % 9 + 1).alias("w"),
    )
    e = routingmod._prep_edges(edges, "src", "dst", "w", directed=False)
    frontier = spark.createDataFrame([(0, 1, 0)], ["sid", "n", "key"])
    cand = (
        frontier.join(e, frontier["n"] == e["u"])
        .select("sid", e["v"].alias("n"),
                (F.col("key") + F.col("w") * routingmod.HOPS_BASE + 1).alias("key"))
        .groupBy("sid", "n").agg(F.min("key").alias("key"))
    )
    p = formatted(cand)
    print("\n## routing round (frontier relax + label min)")
    if args.full:
        print(p)
    ok &= check("routing_round", p, must=["HashAggregate"],
                must_not=["CartesianProduct", "BroadcastNestedLoopJoin",
                          "BatchEvalPython", "ArrowEvalPython"])

    # 19b. raster warp: generated target pixels -> ONE (sgx, sgy) equi-join
    # against sparse source cells -> hash agg + sorted-struct assembly; no
    # cartesian, no Python
    from engine import warp as warpmod

    wtiles = images.limit(64).select(
        (F.col("phash") % 8).alias("tx"),
        (F.pmod(F.col("phash"), 7)).alias("ty"),
        F.array_repeat((F.col("phash") % 97).cast("long"), 64).alias("counts"),
    )
    wr = warpmod.affine_resample(wtiles, 8, (2, 0, 1, 0, 2, 1), den=2)
    p = formatted(wr)
    print("\n## raster warp (probe equi-join + sorted assembly)")
    if args.full:
        print(p)
    ok &= check("warp", p,
                must=["HashAggregate", "Generate"],
                must_not=["CartesianProduct", "BroadcastNestedLoopJoin",
                          "BatchEvalPython", "ArrowEvalPython"])

    # 19. contour segments: explode(4) corner scatter -> ONE map-side-combined
    # hash agg -> literal case-table lookup (element_at on an array literal —
    # no join, no Python); output is Column math end to end
    from engine import contour as contourmod

    cc = images.select(
        (F.col("phash") % 512).alias("gx"),
        (F.pmod(F.col("phash"), 511)).alias("gy"),
        (F.col("phash") % 7 + 1).alias("z"),
    )
    seg = contourmod.contour_segments(cc, level=2)
    p = formatted(seg)
    print("\n## contour segments (corner scatter + case table)")
    if args.full:
        print(p)
    ok &= check("contour", p,
                must=["Generate", "HashAggregate"],
                must_not=["CartesianProduct", "SortMergeJoin",
                          "BroadcastHashJoin", "BatchEvalPython",
                          "ArrowEvalPython"])
    n_shuffles = n_shuffles_of(p)
    print(f"  shuffle exchanges: {n_shuffles} (expect 1: the corner-quad agg)")
    ok &= n_shuffles == 1

    # halo family (viewshed / EDT / focal): the contribution explode must
    # reach applyInPandas through EXACTLY ONE exchange — the count-pinned
    # key repartition (AQE-exempt) that both routes the strips AND
    # satisfies the group clustering; a second exchange would mean the
    # groupBy re-shuffled, and zero would mean AQE got to coalesce the
    # kernel stage near-serial again (the 181 s viewshed pathology).
    from engine import terrain

    tiles = spark.range(0, 16, 1, 4).select(
        F.pmod(F.col("id"), 4).alias("tx"),
        (F.col("id") / 4).cast("long").alias("ty"),
    ).select(
        "tx", "ty",
        F.array_repeat(F.lit(5).cast("long"), 64).alias("counts"),
    )
    p = formatted(terrain.distance_transform(tiles, 8, radius=4))
    print("\n## halo exchange (EDT; shared _halo_apply shape)")
    if args.full:
        print(p)
    ok &= check("halo", p,
                must=["FlatMapGroupsInPandas", "Generate"],
                must_not=["SortMergeJoin", "CartesianProduct",
                          "BatchEvalPython"])
    n_shuffles = n_shuffles_of(p)
    print(f"  shuffle exchanges: {n_shuffles} "
          "(expect 1: the pinned key repartition, reused by the group)")
    ok &= n_shuffles == 1

    # raster point sampling: pure Column probe algebra (no UDF anywhere),
    # one equi-join vs the sparse cells, one hash agg on the point id, the
    # id-spine left join — no sort-merge, no cartesian, no Python
    from engine import warp

    pts = spark.range(0, 1000, 1, 4).select(
        F.col("id").alias("pid"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(1)), 100).alias("xn"),
        F.pmod(F.xxhash64(F.col("id"), F.lit(2)), 100).alias("yn"),
    )
    p = formatted(warp.sample_at_points(pts, tiles, 8, den=4))
    print("\n## raster point sampling (bilinear, den=4)")
    if args.full:
        print(p)
    ok &= check("sample_at_points", p,
                must=["HashAggregate", "Generate"],
                must_not=["CartesianProduct", "BatchEvalPython",
                          "FlatMapGroupsInPandas"])

    # zonal crosstab: two generates, one cell equi-join, one partial+final
    # hash agg on the class pair — nothing quadratic, nothing Python
    from engine import raster as raster_mod

    p = formatted(raster_mod.zonal_crosstab(tiles, tiles, res=8))
    print("\n## zonal crosstab (zones x values)")
    if args.full:
        print(p)
    ok &= check("zonal_crosstab", p,
                must=["HashAggregate", "Generate"],
                must_not=["CartesianProduct", "BatchEvalPython",
                          "SortMergeJoin"])

    # polygon rasterization: three generates (rows, spans, pixels) feeding
    # ONE winner hash agg — no UDF, no cartesian, no sort-merge
    polys = spark.range(0, 100, 1, 4).select(
        F.col("id").alias("poly_id"),
        F.array(
            F.array(
                F.struct((F.col("id") + 2.0).alias("x"), F.lit(0.0).alias("y")),
                F.struct((F.col("id") + 4.0).alias("x"), F.lit(2.0).alias("y")),
                F.struct(F.col("id").cast("double").alias("x"),
                         F.lit(2.0).alias("y")),
            )
        ).alias("rings"),
    )
    p = formatted(raster_mod.rasterize_polygons(polys, 16.0, 16,
                                                rings_col="rings"))
    print("\n## polygon rasterization (scanline burn)")
    if args.full:
        print(p)
    # the winner min(struct) lowers to SortAggregate (struct agg buffers are
    # not hash-aggregable) — the load-bearing property is the PARTIAL agg
    # before the single exchange, which bounds shuffle volume by output
    # pixels per upstream partition, not overlap depth
    ok &= check("rasterize_polygons", p,
                must=["partial_min", "Generate"],
                must_not=["CartesianProduct", "BatchEvalPython",
                          "FlatMapGroupsInPandas", "SortMergeJoin"])
    n_shuffles = n_shuffles_of(p)
    print(f"  shuffle exchanges: {n_shuffles} (expect 1: the winner agg)")
    ok &= n_shuffles == 1

    # 20. descriptor matching: the multi-word pigeonhole blocking must be a
    # chunk-key equi-join over Generate'd chunk rows with a pair distinct
    # and the bit_count verify in codegen — no cartesian, no Python eval,
    # no broadcast of the (unbounded) descriptor side
    from engine.imagesim import descriptor_matches

    desc = spark.range(0, 1000, 1, 4).select(
        F.col("id").cast("string").alias("image_id"),
        F.pmod(F.col("id"), 8).cast("int").alias("kp"),
        *[
            F.xxhash64(F.col("id"), F.lit(i)).alias(f"d{i}")
            for i in range(4)
        ],
    )
    p = formatted(descriptor_matches(desc, max_hamming=8))
    print("\n## descriptor matching (multi-word pigeonhole hamming)")
    if args.full:
        print(p)
    ok &= check("descriptor_matches", p,
                must=["Generate", "HashAggregate"],
                must_not=["CartesianProduct", "BatchEvalPython",
                          "ArrowEvalPython", "FlatMapGroupsInPandas"])

    # IVF-SQ8 serving plan (r5): the code scan must stay a narrow
    # PythonMapInArrow over the index (no vector shuffle), the shortlist and
    # query attaches must be BROADCAST joins (never sort-merge — the whole
    # point is that full vectors move only for the m survivors), and the only
    # wide ops are the slim shortlist dedup/window.
    import numpy as np

    from engine.embedops import ivf_sq8_topk

    emb8 = spark.range(0, 4096).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda i: (F.pmod(F.xxhash64(F.col("id"), i), F.lit(1000))
                       .cast("double") / F.lit(1000.0)) + F.lit(0.001),
        ).alias("embedding"),
    )
    q8 = emb8.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rng8 = np.random.default_rng(3)
    p = formatted(
        ivf_sq8_topk(
            q8, emb8, k=3, n_probe=4, spill=2, m_rerank=16,
            cents=rng8.random((16, 8)),
        )
    )
    print("\n## IVF-SQ8 (code scan + broadcast rerank)")
    if args.full:
        print(p)
    ok &= check(
        "ivf_sq8", p,
        must=["MapInArrow", "BroadcastHashJoin", "Window"],
        must_not=["CartesianProduct", "SortMergeJoin"],
    )

    print(f"\nOVERALL: {'OK' if ok else 'ISSUES'}")
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
