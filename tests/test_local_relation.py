"""engine.session.local_relation: every driver-built relation is an Arrow-
built LocalTableScan with the same schema and rows whether the session has
Arrow conversion on or off, and keeps the table it was built from
(`local_table`, which driver fast paths read); the queries built on such
relations run no Python exec; and no engine code builds a relation any
other way."""

import ast
import calendar
import datetime as dt
import pathlib
import re

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from engine import joins, synth, terrain
from engine.session import local_relation, local_table
from tests.conftest import spark  # noqa: F401

ROOT = pathlib.Path(__file__).resolve().parent.parent
SF = "/root/testdata/sf0.001"
# physical nodes that run Python: a Python-list relation's RDD scan and
# every pandas/Arrow/Python UDF exec
PYTHON_EXEC = re.compile(
    r"ExistingRDD|InPandas|InArrow|EvalPython|PythonUDF|PythonUDTF"
)


@pytest.fixture(params=["true", "false"], ids=["arrow_on", "arrow_off"])
def sess(spark, request):  # noqa: F811
    s = spark.newSession()
    s.conf.set("spark.sql.execution.arrow.pyspark.enabled", request.param)
    return s


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _both(spark, data, schema):  # noqa: F811
    """The relation built in an Arrow-on and an Arrow-off session."""
    out = []
    for arrow in ("true", "false"):
        s = spark.newSession()
        s.conf.set("spark.sql.execution.arrow.pyspark.enabled", arrow)
        out.append(local_relation(s, data, schema))
    return out


def test_same_schema_and_rows_either_session(spark):  # noqa: F811
    rows = [(1, "a", 1.5, [1, 2]), (None, None, None, None), (3, "c", -0.0, [])]
    schema = "id long, s string, x double, xs array<long>"
    on, off = _both(spark, rows, schema)
    assert on.schema == off.schema
    assert on.schema.simpleString() == (
        "struct<id:bigint,s:string,x:double,xs:array<bigint>>"
    )
    assert on.collect() == off.collect() == [Row(*r) for r in rows]


def test_local_table_scan_leaf(sess):
    df = local_relation(sess, [(0, 7), (1, 42)], ["source_id", "node"])
    assert df.count() == 2
    assert _plan(df).startswith("LocalTableScan")
    assert not PYTHON_EXEC.search(_plan(df))


def test_table_carrier_holds_rows_and_schema(sess):
    rows = [(1, "a", [1, 2]), (2, None, [])]
    df = local_relation(sess, rows, "id long, s string, xs array<long>")
    tbl = local_table(df)
    assert tbl.column_names == ["id", "s", "xs"]
    assert [str(t) for t in tbl.schema.types] == [
        "int64", "string", "list<element: int64>"
    ]
    assert tbl.to_pylist() == [dict(zip(tbl.column_names, r)) for r in rows]
    assert [tuple(r) for r in df.collect()] == rows


def test_derived_frame_has_no_table_carrier(sess):
    df = local_relation(sess, [(1, 10), (2, 20)], "k long, v long")
    other = local_relation(sess, [(1, "x")], "k long, w string")
    assert local_table(df.select("k")) is None
    assert local_table(df.filter(F.col("v") > 10)) is None
    assert local_table(df.join(other, "k")) is None
    assert local_table(sess.range(3)) is None


def test_local_input_takes_driver_halo_path(sess):
    res = 4
    rows = [(tx, 0, [(tx * 7 + i) % 5 for i in range(res * res)])
            for tx in range(2)]
    schema = "tx long, ty long, counts array<long>"
    drv = terrain.terrain_gradients(local_relation(sess, rows, schema), res)
    dist = terrain.terrain_gradients(sess.createDataFrame(rows, schema), res)
    assert _plan(drv).startswith("LocalTableScan")
    assert not _plan(dist).startswith("LocalTableScan")
    assert sorted(drv.collect()) == sorted(dist.collect())


def test_int64_nulls_kept(sess):
    big = (1 << 62) + 1  # above 2^53: must not pass through a double
    mask = [False, True, False]
    cols = {"k": [1, 2, 3], "v": pa.array([big, 0, -big], pa.int64(), mask=mask)}
    got = local_relation(sess, cols, "k long, v long").orderBy("k").collect()
    assert [r["v"] for r in got] == [big, None, -big]
    pdf = pd.DataFrame({"k": [1, 2], "v": pd.array([big, None], "Int64")})
    got = local_relation(sess, pdf, "k long, v long").orderBy("k").collect()
    assert [r["v"] for r in got] == [big, None]


def test_empty_input(sess):
    df = local_relation(sess, [], "entry long, mass long")
    assert df.schema.simpleString() == "struct<entry:bigint,mass:bigint>"
    assert df.collect() == []
    assert _plan(df).startswith("LocalTableScan")


def test_list_of_names_infers_spark_types(sess):
    df = local_relation(
        sess, [(0, [1.0, 2.0], "x")], ["centroid_id", "centroid", "tag"]
    )
    assert df.schema.simpleString() == (
        "struct<centroid_id:bigint,centroid:array<double>,tag:string>"
    )
    assert df.collect() == [Row(centroid_id=0, centroid=[1.0, 2.0], tag="x")]


def test_nested_struct_and_array_columns(sess):
    roads = local_relation(
        sess,
        [(lid, [{"x": x, "y": y} for x, y in pts])
         for lid, pts in entry_mod._ROADS],
        "line_id long, pts array<struct<x:double,y:double>>",
    )
    got = {r["line_id"]: [(p["x"], p["y"]) for p in r["pts"]]
           for r in roads.collect()}
    assert got == {lid: pts for lid, pts in entry_mod._ROADS}
    # driver-built PIP cover with its ring payload (null on interior rows)
    polys = synth.polygons_df(sess, 4)
    cover = joins.polygon_cover(polys, attach_rings=True)
    assert _plan(cover).startswith("LocalTableScan")
    rows = cover.collect()
    assert len(rows) == local_table(cover).num_rows > 0
    assert sorted({r["res"] for r in rows}) == cover._pip_used_res
    rings = {r["poly_id"]: r["ring"] for r in polys.collect()}
    for r in rows:
        if r["full_inside"]:
            assert r["ring"] is None
        else:
            assert r["ring"] == rings[r["poly_id"]]


def test_declared_schema_kept(sess):
    # synth's schemas declare non-null top-level fields and non-null
    # structs in arrays; a struct that holds nested structs gets nullable
    # children (see session._arrow_safe)
    polys = synth.polygons_df(sess, 3)
    assert [(f.name, f.nullable) for f in polys.schema.fields] == [
        (f.name, f.nullable) for f in synth.schema.POLYGONS.fields
    ]
    assert polys.schema["ring"] == synth.schema.POLYGONS["ring"]
    obj = synth.object_versions_df(sess, 5)
    assert obj.schema == synth.schema.OBJECT_VERSIONS
    assert obj.filter(F.col("tags").isNotNull()).count() > 0


def test_naive_datetimes_keep_session_timezone(sess):
    # the rows of __spark_entry__'s interval-join `years` table
    years = [(0, y, dt.datetime(y, 1, 1), dt.datetime(y + 1, 1, 1))
             for y in range(1992, 2000)]
    names = ["k", "year", "t_from", "t_to"]

    def micros(s):
        df = local_relation(s, years, names)
        assert df.schema["t_from"].dataType.simpleString() == "timestamp"
        return [r[0] for r in df.orderBy("year").select(
            F.unix_micros("t_from")).collect()]

    utc = [calendar.timegm((y, 1, 1, 0, 0, 0)) * 10**6
           for y in range(1992, 2000)]
    assert sess.conf.get("spark.sql.session.timeZone") == "UTC"
    assert micros(sess) == utc
    ny = sess.newSession()
    ny.conf.set("spark.sql.session.timeZone", "America/New_York")
    assert micros(ny) == [u + 5 * 3600 * 10**6 for u in utc]


@pytest.mark.parametrize("name", ["routing", "raster_field"])
def test_query_plans_run_no_python(sess, name):
    df = entry_mod.queries()[name](sess, SF)
    assert len(df.collect()) > 0
    plan = _plan(df)
    assert not PYTHON_EXEC.search(plan), PYTHON_EXEC.findall(plan)


def test_raster_field_plan_has_no_join_or_global_exchange(sess):
    """Every raster_field half that computes on the driver hands Spark a
    local relation, not a join, aggregate, window or ranking over local
    leaves: after the collect, the executed plan holds no join, broadcast,
    window, top-k or single-partition exchange."""
    df = entry_mod.queries()["raster_field"](sess, SF)
    assert len(df.collect()) > 0
    plan = _plan(df)
    found = re.findall(
        r"\w*Join\b|CartesianProduct|BroadcastExchange|\bWindow\b"
        r"|TakeOrderedAndProject|SinglePartition",
        plan,
    )
    assert found == [], sorted(set(found))


def test_raster_field_driver_halves_are_one_local_relation(sess):
    """The halves whose rows the driver computes reach Spark as one local
    relation, not as a per-half pixel explode over a local leaf or an
    aggregate: after the collect, the final plan holds no hash aggregate,
    no posexplode Generate directly over a LocalTableScan, and at most one
    shuffle Exchange (burn's rasterize aggregate)."""
    df = entry_mod.queries()["raster_field"](sess, SF)
    assert len(df.collect()) > 0
    plan = _plan(df)
    final = plan.split("== Initial Plan ==")[0]
    lines = final.splitlines()
    assert re.findall(r"\w*HashAggregate\b", final) == []
    over_local = [
        line.strip() for line, child in zip(lines, lines[1:])
        if "Generate posexplode" in line and "LocalTableScan" in child
    ]
    assert over_local == []
    shuffles = [
        line for line in lines
        if re.match(r"[\s:+\-|]*(\*\(\d+\)\s*)?(Reused)?Exchange\b", line)
    ]
    assert len(shuffles) <= 1, shuffles


def test_no_create_dataframe_outside_local_relation():
    files = sorted((ROOT / "engine").glob("*.py"))
    files += sorted((ROOT / "jobs").glob("*.py"))
    files.append(ROOT / "__spark_entry__.py")
    offenders = []
    for path in files:
        tree = ast.parse(path.read_text())
        allowed = set()
        if path.name == "session.py":
            fn = next(n for n in tree.body if isinstance(n, ast.FunctionDef)
                      and n.name == "local_relation")
            allowed = {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                offenders.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert offenders == []
