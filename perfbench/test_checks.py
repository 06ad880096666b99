"""Each workload check must catch a wrong answer.

    python3 -m pytest perfbench/test_checks.py -q     (or: python3 perfbench/test_checks.py)

No Spark session: the tests hand each workload's check() a right answer,
made from the independent computation, and then the same answer with one
row dropped or one value changed, and require a failed operation.
"""

from __future__ import annotations

import os
import sys
import tempfile

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import checks  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402


class FakeTable:
    """The three iceberg_lite.Table reads Ingest.check makes."""

    def __init__(self, files, sids, units, run_id):
        self.files, self.run_id = files, run_id
        self.ckpt = {"run_id": run_id,
                     "units": {u: {"snapshot_id": s} for u, s in zip(units, sids)}}

    def snapshot(self, sid=None):
        return {"files": [{"path": p} for p in self.files]}

    def checkpoint_load(self, run_id):
        return self.ckpt

    def row_count(self, sid=None):
        return sum(pq.read_metadata(p).num_rows for p in self.files)


def _ingest(tmp, mutate=None, ckpt_units=None):
    wl = workloads.Ingest(np.random.default_rng(5), tmp, Tracer(False))
    wl.N_IMAGES, wl.UNITS = 20_000, 4
    wl.generate()
    want = wl.want
    unit = checks.unit_of(want["cell"], wl.stripes)
    ops, files = [], []
    for i, name in enumerate(wl.units):
        rows = want[unit == i].reset_index(drop=True)
        if mutate is not None and i == 2:
            rows = mutate(rows)
        path = os.path.join(tmp, f"unit{i}.parquet")
        pq.write_table(pa.Table.from_pandas(rows, preserve_index=False), path)
        files.append(path)
        ops.append(workloads.Op(name, 0, result={"sid": i, "files": [path]}))
    wl.tables = {0: (FakeTable(files, range(len(files)), ckpt_units or wl.units, "r"), "r")}
    wl.check(ops)
    return ops


def test_ingest_accepts_the_right_rollup():
    with tempfile.TemporaryDirectory() as tmp:
        assert not any(op.failed for op in _ingest(tmp))


def test_ingest_catches_a_dropped_row():
    with tempfile.TemporaryDirectory() as tmp:
        ops = _ingest(tmp, mutate=lambda r: r.iloc[1:])
        assert ops[2].failed and any("rollup" in p for p in ops[2].problems)


def test_ingest_catches_a_changed_count():
    def bump(rows):
        rows.loc[0, "n_images"] += 1
        return rows

    with tempfile.TemporaryDirectory() as tmp:
        assert _ingest(tmp, mutate=bump)[2].failed


def test_ingest_catches_a_unit_missing_from_the_checkpoint():
    with tempfile.TemporaryDirectory() as tmp:
        units = [f"ix:{i * 128}-{(i + 1) * 128}" for i in range(3)]
        assert all(op.failed for op in _ingest(tmp, ckpt_units=units))


def test_query_check_catches_an_altered_row():
    import __spark_entry__ as entry

    with tempfile.TemporaryDirectory() as tmp:
        wl = workloads.QuerySuite(np.random.default_rng(3), tmp, Tracer(False))
        wl.SCALE = 1
        wl.generate()
        con_paths = wl.paths
        name = "pricing_summary"
        import duckdb

        con = duckdb.connect()
        for t, p in con_paths.items():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        right = con.execute(entry.oracle_sql()[name]).df()
        wrong = right.copy()
        wrong.iloc[0, 0] = wrong.iloc[1, 0]
        ops = [workloads.Op(name, 0, result=checks.canonicalize(right)),
               workloads.Op(name, 0, result=checks.canonicalize(wrong)),
               workloads.Op(name, 0, result=checks.canonicalize(right.iloc[1:]))]
        saved = workloads.QUERIES
        workloads.QUERIES = [name]
        try:
            wl.check(ops)
        finally:
            workloads.QUERIES = saved
        assert [op.failed for op in ops] == [False, True, True]


def _rounds(tmp):
    wl = workloads.Rounds(np.random.default_rng(9), tmp, Tracer(False))
    wl.CC_EDGES, wl.GRID_SIDE, wl.SOURCES = 2000, 30, 3
    wl.generate()
    return wl


def test_cc_check_catches_a_changed_label():
    with tempfile.TemporaryDirectory() as tmp:
        wl = _rounds(tmp)
        want = checks.cc_expected(wl.cc_in["u"], wl.cc_in["v"])
        right = pd.DataFrame({"id": list(want), "comp": list(want.values())})
        wrong = right.copy()
        i = int(np.nonzero((wrong["id"] != wrong["comp"]).to_numpy())[0][0])
        wrong.loc[i, "comp"] = wrong.loc[i, "id"]  # split one node off
        ops = [workloads.Op("cc", 0, result=right), workloads.Op("cc", 0, result=wrong)]
        wl.check(ops)
        assert [op.failed for op in ops] == [False, True]


def test_cc_reference_is_min_id_of_component():
    u = np.array([10, 11, 30, 31], dtype=np.int64)
    v = np.array([11, 12, 31, 7], dtype=np.int64)
    assert checks.cc_expected(u, v) == {10: 10, 11: 10, 12: 10, 30: 7, 31: 7, 7: 7}


def test_sp_check_catches_a_changed_distance():
    with tempfile.TemporaryDirectory() as tmp:
        wl = _rounds(tmp)
        want = sorted(checks.sp_expected(wl.sp_in["src"], wl.sp_in["dst"], wl.sp_in["w"],
                                         wl.sp_in["sources"], wl.MAX_DIST))
        right = pd.DataFrame(want, columns=["source_id", "node", "dist", "hops"])
        wrong = right.copy()
        wrong.loc[len(wrong) - 1, "dist"] += 1
        ops = [workloads.Op("sp", 0, result=right), workloads.Op("sp", 0, result=wrong),
               workloads.Op("sp", 0, result=right.iloc[1:])]
        wl.check(ops)
        assert [op.failed for op in ops] == [False, True, True]


def test_sp_reference_prefers_fewer_hops_on_ties():
    # 0-1-2 costs 2+2, 0-2 costs 4: same dist, the direct edge has fewer hops
    src, dst, w = (np.array(a, dtype=np.int64) for a in ([0, 1, 0], [1, 2, 2], [2, 2, 4]))
    got = checks.sp_expected(src, dst, w, np.array([0]), max_dist=4)
    assert got == {(0, 0, 0, 0), (0, 1, 2, 1), (0, 2, 4, 1)}


if __name__ == "__main__":
    failed = 0
    for name, fn in sorted(globals().items()):
        if name.startswith("test_"):
            try:
                fn()
                print("ok  ", name)
            except Exception as e:  # report every test, then exit non-zero
                failed += 1
                print("FAIL", name, repr(e))
    sys.exit(1 if failed else 0)
