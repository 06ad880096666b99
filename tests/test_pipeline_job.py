"""End-to-end run_pipeline job: cell-range work units, snapshot commits, and
resume-without-recompute (BASELINE.json north_rule checkpoint requirement)."""

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from engine import cells, iceberg_lite, joins, synth  # noqa: E402
from jobs.run_pipeline import run_unit  # noqa: E402


@pytest.fixture()
def out_table(tmp_path):
    return iceberg_lite.Table(str(tmp_path / "out"))


def _run_units(spark, out, run_id, units_to_run=None, n=3000, res=6, splits=4):
    """jobs/run_pipeline.py's unit loop at small scale, through its run_unit."""
    images = synth.images_df(spark, n, hot_frac=0.2)
    pts = images.select(
        "image_id",
        cells.anchor_lon(F.col("phash")).alias("lon"),
        cells.anchor_lat(F.col("phash")).alias("lat"),
        cells.grid_encode_phash(F.col("phash"), res).alias("cell"),
    ).withColumn("unit_ix", cells.grid_ix(F.col("cell")))
    polys = synth.polygons_df(spark, p=30, hot_frac=0.2, radius_scale=2.0)
    ncells = 2**res
    stripes = [
        (i * ncells // splits, (i + 1) * ncells // splits) for i in range(splits)
    ]
    units = [f"ix:{lo}-{hi}" for lo, hi in stripes]
    pending = out.pending_units(run_id, units)
    ran, cover = [], None
    for unit, (lo, hi) in zip(units, stripes):
        if unit not in pending:
            continue
        if units_to_run is not None and unit not in units_to_run:
            continue
        if cover is None:
            cover = joins.build_pip_cover(polys, res_min=4, res_max=9)
        sid, m = run_unit(out, pts, polys, cover, run_id, unit, lo, hi)
        prev = {f["path"] for f in out.snapshot(sid - 1)["files"]}
        added = [f for f in out.snapshot(sid)["files"] if f["path"] not in prev]
        assert out.checkpoint_load(run_id)["units"][unit]["metrics"] == m
        assert m["rows"] == sum(f["rows"] for f in added)
        assert m["output_files"] == len(added)
        assert m["distinct_keys"] <= m["rows"]
        ran.append(unit)
    return units, ran


def test_units_commit_and_resume(spark, out_table):
    # first run processes only half the units (simulated crash)
    units, ran1 = _run_units(
        spark, out_table, "r1", units_to_run={"ix:0-16", "ix:16-32"}
    )
    assert len(ran1) == 2
    rows_after_crash = out_table.row_count()
    # resume: only the remaining units run
    _, ran2 = _run_units(spark, out_table, "r1")
    assert set(ran2) == set(units) - set(ran1)
    assert out_table.row_count() > rows_after_crash
    # a third run is a no-op
    _, ran3 = _run_units(spark, out_table, "r1")
    assert ran3 == []


def test_changes_job_end_to_end(spark, tmp_path):
    """--job changes (App.scala:29-36 parity): object-versions parquet ->
    propagate_changes -> idempotent snapshot commit; rerun is a no-op; ORC
    output mode writes a readable plain directory."""
    import argparse

    from engine import propagate, synth
    from jobs.run_pipeline import run_changes

    in_path = str(tmp_path / "ovs.parquet")
    synth.object_versions_df(spark, n_entities=40).write.parquet(in_path)

    args = argparse.Namespace(
        input=in_path, depth=6, no_coalesce=False, n_synth_entities=0,
        output_format="table", out=str(tmp_path / "changes_out"), run_id="c1",
        show=0,
    )
    run_changes(spark, args)
    t = iceberg_lite.Table(args.out)
    want = propagate.propagate_changes(
        spark.read.parquet(in_path), depth=6, do_coalesce=True
    ).count()
    assert t.row_count() == want and want > 0
    # rerun with the same run_id: txn guard makes it a no-op
    sid_before = t.current_snapshot_id()
    run_changes(spark, args)
    assert t.current_snapshot_id() == sid_before

    # ORC parity mode (reference SparkJobs.scala:15,81 writes ORC)
    args_orc = argparse.Namespace(
        input=in_path, depth=6, no_coalesce=False, n_synth_entities=0,
        output_format="orc", out=str(tmp_path / "changes_orc"), run_id="c2",
        show=0,
    )
    run_changes(spark, args_orc)
    assert spark.read.format("orc").load(args_orc.out).count() == want


def test_units_equal_unpartitioned_result(spark, out_table):
    _run_units(spark, out_table, "r2")
    got = (
        out_table.read(spark)
        .groupBy("poly_id")
        .agg(F.sum("n_images").alias("n"))
        .collect()
    )
    images = synth.images_df(spark, 3000, hot_frac=0.2)
    pts = images.select(
        "image_id",
        cells.anchor_lon(F.col("phash")).alias("lon"),
        cells.anchor_lat(F.col("phash")).alias("lat"),
    )
    polys = synth.polygons_df(spark, p=30, hot_frac=0.2, radius_scale=2.0)
    want = (
        joins.pip_join(pts, polys, res_min=4, res_max=9)
        .groupBy("poly_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert {(r["poly_id"], r["n"]) for r in got} == {
        (r["poly_id"], r["n"]) for r in want
    }
