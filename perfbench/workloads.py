"""The three workloads. Each one generates its inputs (untimed), sets up a
session (timed as setup_s), runs whole passes of the same operations (timed),
and checks every operation's output against checks.py (untimed).

An operation's wall is taken around the public calls a user would make, from
outside the program. With tracing on, the same calls are wrapped in spans.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import checks
import gen


@dataclass
class Op:
    name: str
    pass_no: int
    wall: float = 0.0
    error: str | None = None
    problems: list[str] = field(default_factory=list)
    result: object = None  # what check() compares with the independent answer

    @property
    def failed(self) -> bool:
        return self.error is not None or bool(self.problems)


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""

    def __init__(self, rng: np.random.Generator, work_dir: str, tracer):
        self.rng = rng
        self.dir = work_dir
        self.tracer = tracer
        self.layer_problems: list[str] = []  # property checks of the traced probes

    def span(self, name, run_id, kind):
        return self.tracer.span(name, run_id, kind)

    def call(self, name: str, run_id: str, kind: str, fn):
        """fn() inside a span; kind is 'construct' (builds a plan, may run
        driver-side loops) or 'execute' (an action)."""
        with self.tracer.span(name, run_id, kind):
            return fn()

    def generate(self) -> dict:
        raise NotImplementedError

    def setup(self, spark) -> None:
        raise NotImplementedError

    def run_pass(self, spark, k: int) -> list[Op]:
        raise NotImplementedError

    def check(self, ops: list[Op]) -> None:
        raise NotImplementedError

    def layers(self, spark, ops: list[Op]) -> dict:
        """Traced run only: the per-layer figures named after engine modules."""
        return {}


def _median_wall(spans, name: str) -> float:
    return float(np.median([s["end"] - s["start"] for s in spans if s["name"] == name]))


def _median_jobs(spans, name: str) -> float:
    return float(np.median([len(s["jobs"]) for s in spans if s["name"] == name]))


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------
class Ingest(Workload):
    """jobs/run_pipeline.py's pipeline job, call for call: encode, one cover
    build, then per cell-range unit pip_join -> rollup -> Table.append ->
    partition_metrics -> checkpoint_unit_done."""

    name = "ingest"
    N_IMAGES = 200_000
    HOT_SHARE = 0.2
    N_POLYGONS = 200
    POLY_HOT_SHARE = 0.1
    UNITS = 3

    def generate(self) -> dict:
        os.makedirs(self.dir + "/in", exist_ok=True)
        self.images_path = self.dir + "/in/images.parquet"
        self.polys_path = self.dir + "/in/polygons.parquet"
        img = gen.images(self.rng, self.N_IMAGES, self.HOT_SHARE, self.images_path)
        pol = gen.polygons(self.rng, self.N_POLYGONS, self.POLY_HOT_SHARE, self.polys_path)
        self.phash, self.rings = img["phash"], pol["rings"]
        self.want = checks.ingest_expected(self.phash, self.rings)
        self.total_pairs = int(self.want["n_images"].sum())
        n = 2**checks.RES
        self.stripes = [(i * n // self.UNITS, (i + 1) * n // self.UNITS)
                        for i in range(self.UNITS)]
        self.units = [f"ix:{lo}-{hi}" for lo, hi in self.stripes]
        return {"images": self.N_IMAGES, "hot_images": img["n_hot"],
                "polygons": self.N_POLYGONS,
                "hot_polygons": int(round(self.N_POLYGONS * self.POLY_HOT_SHARE)),
                "units": self.UNITS}

    def setup(self, spark) -> None:
        from pyspark.sql import functions as F

        from engine import cells, joins, schema

        images = spark.read.parquet(self.images_path)
        self.pts = images.select(
            "image_id",
            F.col("phash"),
            cells.anchor_lon(F.col("phash")).alias("lon"),
            cells.anchor_lat(F.col("phash")).alias("lat"),
            cells.grid_encode_phash(F.col("phash"), checks.RES).alias("cell"),
        ).withColumn(
            "unit_ix", cells.grid_ix(cells.grid_encode_phash(F.col("phash"), checks.RES))
        )
        self.polys = spark.read.schema(schema.POLYGONS).parquet(self.polys_path)
        self.cover = self.call("joins.build_pip_cover", "setup", "construct",
                               lambda: joins.build_pip_cover(self.polys))
        # warm-up: the join + rollup on a 2% sample (codegen, broadcast path)
        sample = self.pts.filter(F.col("phash") % 50 == 0).drop("unit_ix")
        joins.pip_join(sample, self.polys, cover=self.cover).groupBy(
            "cell", "poly_id").count().collect()
        self.out_dir = os.path.join(self.dir, "out")
        self.tables = {}

    def run_pass(self, spark, k: int) -> list[Op]:
        from pyspark.sql import functions as F

        from engine import iceberg_lite, joins, metrics

        table = iceberg_lite.Table(os.path.join(self.out_dir, f"pass-{k}"))
        run_id = f"bench-{k}"
        ops = []
        for unit, (lo, hi) in zip(self.units, self.stripes):
            op = Op(unit, k)
            rid = f"ingest-{k}-{unit}"
            t0 = time.perf_counter()
            try:
                with self.span("ingest.unit", rid, "op"):
                    part = self.pts.filter(
                        (F.col("unit_ix") >= lo) & (F.col("unit_ix") < hi)
                    ).drop("unit_ix")
                    joined = self.call(
                        "joins.pip_join", rid, "construct",
                        lambda: joins.pip_join(part, self.polys, cover=self.cover))
                    result = joined.groupBy("cell", "poly_id").agg(
                        F.count("*").alias("n_images"),
                        F.min("lon").alias("min_lon"),
                        F.max("lon").alias("max_lon"),
                        F.min("lat").alias("min_lat"),
                        F.max("lat").alias("max_lat"),
                    ).repartitionByRange(8, "cell")
                    sid = self.call("iceberg_lite.append", rid, "execute",
                                    lambda: table.append(result, range_cols=["cell"]))
                    m = self.call("metrics.partition_metrics", rid, "execute",
                                  lambda: metrics.partition_metrics(result, "cell"))
                    prev = ({f["path"] for f in table.snapshot(sid - 1)["files"]}
                            if sid > 0 else set())
                    new = [f for f in table.snapshot(sid)["files"] if f["path"] not in prev]
                    m["output_bytes"] = sum(f["bytes"] for f in new)
                    m["output_files"] = len(new)
                    self.call("iceberg_lite.checkpoint_unit_done", rid, "execute",
                              lambda: table.checkpoint_unit_done(
                                  run_id, unit, sid,
                                  metrics={"elapsed_sec": round(time.perf_counter() - t0, 2),
                                           **m}))
                op.result = {"sid": sid, "files": [f["path"] for f in new]}
            except Exception as e:  # one failed unit must not end the run
                op.error = f"{type(e).__name__}: {e}"
            op.wall = time.perf_counter() - t0
            ops.append(op)
        self.tables[k] = (table, run_id)
        return ops

    def check(self, ops: list[Op]) -> None:
        want = self.want
        want_unit = checks.unit_of(want["cell"], self.stripes)
        by_pass: dict[int, list[Op]] = {}
        for op in ops:
            by_pass.setdefault(op.pass_no, []).append(op)
        for k, pass_ops in by_pass.items():
            table, run_id = self.tables[k]
            for i, op in enumerate(pass_ops):
                if op.error:
                    continue
                got = checks.read_files(op.result["files"])
                op.problems += checks.compare_rollup(got, want[want_unit == i])
            if any(op.error for op in pass_ops):
                continue
            snap = table.snapshot()
            problems = checks.check_table(
                {op.name: op.result["sid"] for op in pass_ops},
                table.checkpoint_load(run_id), self.units, self.total_pairs,
                table.row_count(), [f["path"] for f in snap["files"]],
            )
            for op in pass_ops:
                op.problems += problems

    def layers(self, spark, ops: list[Op]) -> dict:
        from pyspark.sql import functions as F

        from engine import cells, joins

        out = {}
        spans = self.tracer.spans
        out["joins.cover_build_s"] = _median_wall(spans, "joins.build_pip_cover")
        pts = self.pts.drop("unit_ix")
        t0 = time.perf_counter()
        _noop_write(joins.pip_join(pts, self.polys, cover=self.cover))
        out["joins.pip_join_s"] = time.perf_counter() - t0
        cand = joins.pip_join(pts, self.polys, cover=self.cover, exact=False).count()
        match = joins.pip_join(pts, self.polys, cover=self.cover).count()
        out["joins.pip_candidates"] = cand
        out["joins.pip_matches"] = match
        out["joins.pip_refine_yield"] = match / cand if cand else 0.0
        if match != self.total_pairs:
            self.layer_problems.append(
                f"pip_join matched {match} pairs, expected {self.total_pairs}")
        t0 = time.perf_counter()
        _noop_write(spark.read.parquet(self.images_path).select(
            cells.anchor_lon(F.col("phash")).alias("lon"),
            cells.anchor_lat(F.col("phash")).alias("lat"),
            cells.grid_encode_phash(F.col("phash"), checks.RES).alias("cell")))
        out["cells.encode_s"] = time.perf_counter() - t0
        for name, key in (("iceberg_lite.append", "iceberg_lite.append"),
                          ("metrics.partition_metrics", "metrics.partition_metrics"),
                          ("iceberg_lite.checkpoint_unit_done", "iceberg_lite.checkpoint")):
            out[f"{key}_s"] = _median_wall(spans, name)
            out[f"{key}_max_s"] = max(s["end"] - s["start"] for s in spans if s["name"] == name)
            out[f"{key}_jobs"] = _median_jobs(spans, name)
        walls = [op.wall for op in ops]
        out["ingest.unit_skew"] = max(walls) / float(np.median(walls))
        return out


# ---------------------------------------------------------------------------
# query_suite
# ---------------------------------------------------------------------------
QUERIES = ["cell_grid", "pricing_summary", "cosine_neardup", "routing", "raster_field"]
WARMUP = ["dedup_exact"]


class QuerySuite(Workload):
    """The 30 queries of bench.py's subset from __spark_entry__.queries(); one
    operation = build the query, then collect its rows (toPandas, as
    tools/check_oracle.py does)."""

    name = "query_suite"
    SCALE = 10  # sf0.01 shape

    def generate(self) -> dict:
        self.tables_dir = self.dir + "/tables"
        self.paths = gen.tables(self.rng, self.SCALE, self.tables_dir)
        return {"scale": self.SCALE, "queries": len(QUERIES),
                "rows": {t: pq.read_metadata(p).num_rows for t, p in self.paths.items()}}

    def setup(self, spark) -> None:
        import __spark_entry__ as entry

        self.registry = entry.queries()
        for name in WARMUP:
            self.registry[name](spark, self.tables_dir).toPandas()
            spark.catalog.clearCache()

    def run_pass(self, spark, k: int) -> list[Op]:
        ops = []
        for name in QUERIES:
            op = Op(name, k)
            rid = f"q-{k}-{name}"
            t0 = time.perf_counter()
            try:
                with self.span(f"q.{name}", rid, "op"):
                    df = self.call(f"q.{name}.construct", rid, "construct",
                                   lambda: self.registry[name](spark, self.tables_dir))
                    pdf = self.call(f"q.{name}.collect", rid, "execute", df.toPandas)
                op.wall = time.perf_counter() - t0
                op.result = checks.canonicalize(pdf)
            except Exception as e:
                op.wall = time.perf_counter() - t0
                op.error = f"{type(e).__name__}: {e}"
            finally:
                spark.catalog.clearCache()  # queries may persist intermediates
            ops.append(op)
        return ops

    def check(self, ops: list[Op]) -> None:
        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        want = checks.oracle_answers({n: sql[n] for n in QUERIES}, self.paths)
        for op in ops:
            if not op.error:
                op.problems += checks.compare_query(op.result, want[op.name])

    def layers(self, spark, ops: list[Op]) -> dict:
        out = {}
        spans = self.tracer.spans
        tot = {"construct": 0.0, "collect": 0.0, "jobs": 0.0}
        passes = len({op.pass_no for op in ops})
        for name in QUERIES:
            for part in ("construct", "collect"):
                out[f"q.{name}.{part}_s"] = _median_wall(spans, f"q.{name}.{part}")
                tot[part] += sum(s["end"] - s["start"] for s in spans
                                 if s["name"] == f"q.{name}.{part}") / passes
            top = [s for s in spans if s["name"] == f"q.{name}"]
            out[f"q.{name}.jobs"] = _median_jobs(spans, f"q.{name}")
            out[f"q.{name}.pool_jobs"] = float(np.median([len(s["pool_jobs"]) for s in top]))
            tot["jobs"] += sum(len(s["jobs"]) for s in top) / passes
        out["suite.construct_s"] = tot["construct"]
        out["suite.collect_s"] = tot["collect"]
        out["suite.jobs"] = tot["jobs"]
        return out


# ---------------------------------------------------------------------------
# rounds
# ---------------------------------------------------------------------------
class Rounds(Workload):
    """The distributed round loops: connected components on a block-random
    edge set and bounded shortest paths on a weighted grid, both above their
    1M-edge driver-path gates (graph._DRIVER_EDGES, routing.DRIVER_EDGES)."""

    name = "rounds"
    CC_EDGES = 1_050_000  # canonical (u < v, distinct) edges
    CC_BLOCK = 4
    GRID_SIDE = 512  # 2 * 512 * 511 undirected = 1,046,528 directed edges
    W_LO, W_HI = 4, 9
    MAX_DIST = 8  # <= 2 hops, so <= 3 rounds
    SOURCES = 16

    def generate(self) -> dict:
        os.makedirs(self.dir + "/in", exist_ok=True)
        self.cc_path = self.dir + "/in/edges.parquet"
        self.grid_path = self.dir + "/in/grid.parquet"
        self.src_path = self.dir + "/in/sources.parquet"
        self.cc_in = gen.block_edges(self.rng, self.CC_EDGES, self.CC_BLOCK, self.cc_path)
        self.sp_in = gen.grid_edges(self.rng, self.GRID_SIDE, self.W_LO, self.W_HI,
                                    self.SOURCES, self.grid_path, self.src_path)
        return {"cc_edges": self.CC_EDGES, "cc_block": self.CC_BLOCK,
                "grid_side": self.GRID_SIDE,
                "grid_edges": int(self.sp_in["src"].size),
                "weights": [self.W_LO, self.W_HI], "max_dist": self.MAX_DIST,
                "sources": self.SOURCES}

    def setup(self, spark) -> None:
        from engine import graph, routing

        self.edges = spark.read.parquet(self.cc_path)
        self.grid = spark.read.parquet(self.grid_path)
        self.sources = spark.read.parquet(self.src_path)
        # warm-up below the gates (driver replays): reads, collects, codegen
        graph.connected_components(self.edges.limit(5000)).toPandas()
        routing.shortest_paths(self.grid.limit(5000), self.sources,
                               max_dist=self.MAX_DIST).toPandas()

    def run_pass(self, spark, k: int) -> list[Op]:
        from engine import graph, routing

        calls = [
            ("cc", "graph", lambda: graph.connected_components(self.edges)),
            ("sp", "routing", lambda: routing.shortest_paths(
                self.grid, self.sources, max_dist=self.MAX_DIST)),
        ]
        ops = []
        for name, layer, call in calls:
            op = Op(name, k)
            rid = f"rounds-{k}-{name}"
            t0 = time.perf_counter()
            try:
                with self.span(f"rounds.{name}", rid, "op"):
                    df = self.call(f"{layer}.{name}_call", rid, "construct", call)
                    op.result = self.call(f"{layer}.{name}_collect", rid, "execute",
                                          df.toPandas)
                op.wall = time.perf_counter() - t0
            except Exception as e:
                op.wall = time.perf_counter() - t0
                op.error = f"{type(e).__name__}: {e}"
            ops.append(op)
        return ops

    def check(self, ops: list[Op]) -> None:
        want_cc = want_sp = None
        for op in ops:
            if op.error:
                continue
            if op.name == "cc":
                if want_cc is None:
                    want_cc = checks.cc_expected(self.cc_in["u"], self.cc_in["v"])
                op.problems += checks.compare_cc(op.result, want_cc)
            else:
                if want_sp is None:
                    want_sp = checks.sp_expected(
                        self.sp_in["src"], self.sp_in["dst"], self.sp_in["w"],
                        self.sp_in["sources"], self.MAX_DIST)
                op.problems += checks.compare_sp(op.result, want_sp)

    def layers(self, spark, ops: list[Op]) -> dict:
        spans = self.tracer.spans
        out = {}
        for name, layer in (("cc", "graph"), ("sp", "routing")):
            out[f"{layer}.{name}_call_s"] = _median_wall(spans, f"{layer}.{name}_call")
            out[f"{layer}.{name}_collect_s"] = _median_wall(spans, f"{layer}.{name}_collect")
            out[f"{layer}.{name}_jobs"] = _median_jobs(spans, f"rounds.{name}")
        return out


WORKLOADS = {w.name: w for w in (Ingest, QuerySuite, Rounds)}
