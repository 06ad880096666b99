"""spark-submit entry point for the engine's jobs with resumable per-partition
lineage (BASELINE.json north_rule: run via `spark-submit --py-files`, checkpoint
cell-range -> snapshot -> output manifest so any executor/driver loss resumes
without recompute).

Usage:
    zip -r engine.zip engine/
    spark-submit --py-files engine.zip jobs/run_pipeline.py \
        --images <parquet-or-iceberg_lite-table> --out <table-dir> \
        [--n-synth 1000000] [--res 9] [--polygons 200] [--run-id my-run] \
        [--cell-splits 16]

    # the reference App's generateChanges end-to-end (App.scala:29-36 parity):
    spark-submit --py-files engine.zip jobs/run_pipeline.py \
        --job changes --input <object-versions.parquet> --out <table-dir> \
        [--depth 10] [--no-coalesce] [--output-format parquet|orc]

The spatial job partitions work into cell-range units (prefix ranges of the
res-`res` grid), processes each unit independently (encode -> PIP join ->
per-cell/polygon aggregates), commits each unit's output as an iceberg_lite
snapshot append, and records unit -> snapshot lineage in the run checkpoint. A
rerun with the same --run-id skips completed units.

The changes job runs engine.propagate.propagate_changes (first-order diff ->
temporal parent tree -> bounded propagation -> coalesce) over an
OBJECT_VERSIONS-shaped parquet (or the deterministic synthetic fixture when
--input is omitted) and commits the result as one idempotent iceberg_lite
snapshot (txn-tagged: re-running the same --run-id is a no-op), or as a plain
parquet/orc directory with --output-format (SparkJobs.scala:15,81 parity).

Debug conveniences (App.scala:21-27 parity): --log-level WARN|INFO|DEBUG and
--show N to print N rows at each stage boundary.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from engine import cells, iceberg_lite, joins, metrics, synth  # noqa: E402
from engine.session import get_spark  # noqa: E402


def run_changes(spark, args) -> None:
    """The reference App's generateChanges (App.scala:29-36): object-versions
    parquet -> propagate_changes -> committed output."""
    from engine import propagate, synth

    if args.input:
        objs = spark.read.parquet(args.input)
    else:
        objs = synth.object_versions_df(spark, n_entities=args.n_synth_entities)
    if args.show:
        objs.show(args.show, truncate=60)
    out_df = propagate.propagate_changes(
        objs, depth=args.depth, do_coalesce=not args.no_coalesce
    )
    if args.show:
        out_df.show(args.show, truncate=60)
    if args.output_format in ("orc", "parquet-plain"):
        fmt = "orc" if args.output_format == "orc" else "parquet"
        out_df.write.format(fmt).mode("overwrite").save(args.out)
        n = spark.read.format(fmt).load(args.out).count()
        print(json.dumps({"job": "changes", "format": fmt, "out": args.out,
                          "output_rows": n}))
        return
    table = iceberg_lite.Table(args.out)
    txn = f"changes-{args.run_id}"
    if table.txn_committed(txn):
        print(json.dumps({"job": "changes", "skipped": "already committed",
                          "run_id": args.run_id,
                          "output_rows": table.row_count()}))
        return
    sid = table.append(out_df, range_cols=["featureID"], txn=txn)
    table.checkpoint_unit_done(args.run_id, "changes", sid)
    print(json.dumps({"job": "changes", "run_id": args.run_id, "snapshot": sid,
                      "output_rows": table.row_count(sid)}))


def run_unit(out, pts, polys, cover, run_id, unit, lo, hi, cluster="cell"):
    """One cell-range work unit: PIP join -> per-(cell, poly) rollup -> range
    partition -> snapshot append -> partition metrics -> manifest bytes ->
    checkpoint. `pts` carries the `unit_ix` stripe key; returns the unit's
    snapshot id and the metrics recorded in the checkpoint."""
    t0 = time.time()
    part = pts.filter((F.col("unit_ix") >= lo) & (F.col("unit_ix") < hi)).drop(
        "unit_ix"
    )
    joined = joins.pip_join(part, polys, cover=cover)
    result = joined.groupBy("cell", "poly_id").agg(
        F.count("*").alias("n_images"),
        F.min("lon").alias("min_lon"),
        F.max("lon").alias("max_lon"),
        F.min("lat").alias("min_lat"),
        F.max("lat").alias("max_lat"),
    )
    # range-partition the output (north_rule): data files carry tight
    # non-overlapping key ranges in their manifests, so later reads prune
    # from metadata alone. 'morton' keys make quadtree-aligned spatial
    # blocks single contiguous ranges (cells.morton_block_range).
    if cluster == "morton":
        result = result.withColumn("morton", cells.grid_morton(F.col("cell")))
        result = result.repartitionByRange(8, "morton")
        sid = out.append(result, range_cols=["cell", "morton"])
    else:
        result = result.repartitionByRange(8, "cell")
        sid = out.append(result, range_cols=["cell"])
    m = metrics.partition_metrics(result, "cell")
    # at-rest bytes for this unit from the manifest (no scan): the files
    # added by snapshot `sid` relative to its parent
    prev_files = {f["path"] for f in out.snapshot(sid - 1)["files"]} if sid > 0 else set()
    new_files = [f for f in out.snapshot(sid)["files"] if f["path"] not in prev_files]
    m["output_bytes"] = sum(f["bytes"] for f in new_files)
    m["output_files"] = len(new_files)
    m = {"elapsed_sec": round(time.time() - t0, 2), **m}
    out.checkpoint_unit_done(run_id, unit, sid, metrics=m)
    return sid, m


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--job", choices=["pipeline", "changes"], default="pipeline")
    ap.add_argument("--images", default=None, help="input parquet path (default: synthesize)")
    ap.add_argument("--input", default=None,
                    help="[changes] object-versions parquet (default: synthetic fixture)")
    ap.add_argument("--depth", type=int, default=10, help="[changes] propagation depth")
    ap.add_argument("--no-coalesce", action="store_true",
                    help="[changes] skip the coalesce stage")
    ap.add_argument("--n-synth-entities", type=int, default=200)
    ap.add_argument("--output-format", choices=["table", "parquet-plain", "orc"],
                    default="table",
                    help="[changes] 'table' = iceberg_lite snapshot (default); "
                         "'orc'/'parquet-plain' = plain directory "
                         "(reference SparkJobs.scala:15,81 parity)")
    ap.add_argument("--log-level", default=None,
                    help="spark log level (WARN|INFO|DEBUG; App.scala:21-27 parity)")
    ap.add_argument("--show", type=int, default=0, metavar="N",
                    help="debug: show N rows at stage boundaries")
    ap.add_argument("--out", required=True, help="output iceberg_lite table dir")
    ap.add_argument("--n-synth", type=int, default=1_000_000)
    ap.add_argument("--res", type=int, default=9)
    ap.add_argument("--polygons", type=int, default=200)
    ap.add_argument("--run-id", default="run")
    ap.add_argument("--cell-splits", type=int, default=16,
                    help="number of cell-range work units (longitude stripes)")
    ap.add_argument("--hot-frac", type=float, default=0.2)
    ap.add_argument("--cluster", choices=["cell", "morton"], default="cell",
                    help="output clustering: 'cell' (lexicographic ix-major "
                         "ranges) or 'morton' (Z-order; quadtree blocks map to "
                         "single contiguous file ranges for metadata pruning)")
    ap.add_argument("--split-hot", type=int, default=0, metavar="THRESHOLD",
                    help="adaptive cell splitting: cells with more rows than "
                         "THRESHOLD are re-encoded 2 resolutions finer "
                         "(north_rule skew handling; 0 = off)")
    args = ap.parse_args()

    spark = get_spark("run-pipeline")
    if args.log_level:
        spark.sparkContext.setLogLevel(args.log_level)

    if args.job == "changes":
        run_changes(spark, args)
        spark.stop()
        return

    out = iceberg_lite.Table(args.out)

    if args.images:
        images = spark.read.parquet(args.images)
    else:
        images = synth.images_df(spark, args.n_synth, hot_frac=args.hot_frac)

    pts = images.select(
        "image_id",
        F.col("phash"),
        cells.anchor_lon(F.col("phash")).alias("lon"),
        cells.anchor_lat(F.col("phash")).alias("lat"),
        cells.grid_encode_phash(F.col("phash"), args.res).alias("cell"),
    )
    # work-unit stripe key pinned to the base resolution (adaptive splitting below
    # may re-encode hot cells finer, which must not move them between units)
    pts = pts.withColumn(
        "unit_ix", cells.grid_ix(cells.grid_encode_phash(F.col("phash"), args.res))
    )
    if args.split_hot > 0:
        from engine import skew

        pts = skew.split_hot_cells(
            pts, "cell", res=args.res, hot_threshold=args.split_hot, split_steps=2
        )
    polys = synth.polygons_df(spark, p=args.polygons, hot_frac=0.1, radius_scale=2.0)
    # cover built ONCE for the whole run: each per-unit job broadcasts the same
    # materialized relation instead of re-deriving it (units x cover-build was
    # pure serial driver cost)
    cover = joins.build_pip_cover(polys)

    # work units: longitude stripes of the res-grid (prefix ranges of ix)
    n = 2**args.res
    stripes = [
        (i * n // args.cell_splits, (i + 1) * n // args.cell_splits)
        for i in range(args.cell_splits)
    ]
    units = [f"ix:{lo}-{hi}" for lo, hi in stripes]
    pending = out.pending_units(args.run_id, units)
    print(f"units: {len(units)} total, {len(pending)} pending", file=sys.stderr)

    for unit, (lo, hi) in zip(units, stripes):
        if unit not in pending:
            continue
        sid, m = run_unit(out, pts, polys, cover, args.run_id, unit, lo, hi,
                          args.cluster)
        print(f"unit {unit} -> snapshot {sid} ({m['elapsed_sec']:.1f}s)", file=sys.stderr)

    print(json.dumps({
        "run_id": args.run_id,
        "snapshot": out.current_snapshot_id(),
        "output_rows": out.row_count(),
        "units_done": len(units) - len(out.pending_units(args.run_id, units)),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
