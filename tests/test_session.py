"""engine.session: the checkpoint directory get_spark creates is removed at
process exit; driver_table finds rows the driver already holds."""

import contextlib
import os
import uuid

import pytest

from engine import session


class _Context:
    def __init__(self, ckpt=None):
        self.ckpt = ckpt

    def getCheckpointDir(self):
        return self.ckpt

    def setCheckpointDir(self, path):
        self.ckpt = path


def test_owned_checkpoint_dir_is_removed_at_exit(monkeypatch, tmp_path):
    registered = []
    monkeypatch.setattr(session.tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(
        session.atexit, "register",
        lambda fn, *a, **kw: registered.append((fn, a, kw)),
    )
    sc = _Context()
    path = session._own_checkpoint_dir(sc)
    assert sc.ckpt == path and os.path.isdir(path)
    assert os.path.basename(path).startswith("spark_graft_ckpt_")
    # Spark writes checkpoints into a per-context subdirectory
    os.makedirs(os.path.join(path, "ctx", "rdd-1"))
    open(os.path.join(path, "ctx", "rdd-1", "part-0"), "w").close()
    [(fn, args, kw)] = registered
    fn(*args, **kw)
    assert not os.path.exists(path)
    fn(*args, **kw)  # already gone: no error



# --- driver_table: the one "rows already on the driver?" check ------------


@pytest.fixture(params=["arrow_on", "arrow_off"])
def sess(request, spark):
    if request.param == "arrow_on":
        return spark
    bare = spark.newSession()
    bare.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    return bare


@contextlib.contextmanager
def _jobs(spark, group):
    """Collects the ids of the Spark jobs the block runs."""
    sc = spark.sparkContext
    ids = []
    group = f"{group}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "driver_table test")
    try:
        yield ids
    finally:
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))
        sc.setLocalProperty("spark.jobGroup.id", None)


def _rows(n):
    return [(i, i * 10) for i in range(n)]


def test_driver_table_local_relation_runs_no_job(sess):
    df = session.local_relation(sess, _rows(5), "a long, b long")
    with _jobs(sess, "dt-rule1") as jobs:
        tbl = session.driver_table(df, 5)
        over = session.driver_table(df, 4)
    assert jobs == []
    assert tbl is session.local_table(df)
    assert over is None


def test_driver_table_derived_local_plan_runs_one_action(sess):
    df = session.local_relation(sess, _rows(5), "a long, b long")
    derived = df.filter("a >= 1").select("a", (df.b + 1).alias("b1"))
    with _jobs(sess, "dt-rule2") as jobs:
        tbl = session.driver_table(derived, 4)
    assert len(jobs) == 1
    assert tbl.column_names == ["a", "b1"]
    assert tbl.column("a").to_pylist() == [1, 2, 3, 4]
    with _jobs(sess, "dt-rule2-over") as jobs:
        assert session.driver_table(derived, 3) is None
    assert len(jobs) == 1
    # a join of local relations is a local plan too
    other = session.local_relation(sess, [(2, "x")], "a long, s string")
    joined = session.driver_table(df.join(other, "a"), 1)
    assert joined.to_pylist() == [{"a": 2, "b": 20, "s": "x"}]


def test_driver_table_other_plans_run_no_job(sess, tmp_path):
    path = str(tmp_path / "t.parquet")
    sess.range(3).write.parquet(path)
    frames = {
        "parquet": sess.read.parquet(path),
        "range": sess.range(3),
        "createDataFrame": sess.createDataFrame(_rows(3), "a long, b long"),
    }
    for name, df in frames.items():
        with _jobs(sess, f"dt-rule3-{name}") as jobs:
            assert session.driver_table(df, 10) is None, name
        assert jobs == [], name
