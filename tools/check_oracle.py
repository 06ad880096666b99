"""Local mimic of the driver's DuckDB-oracle correctness gate.

For each entry in __spark_entry__.queries(): run the Spark query at sf0.01 and the
matching oracle_sql() in DuckDB over the same parquet, canonicalize (columns sorted
by name, rows sorted by all columns, values stringified), and compare row count +
schema + value hash.

Usage: python tools/check_oracle.py [--sf SF_DIR]
           [--bare-session | --plain-session [--tz ZONE]] [names...]

--bare-session turns Arrow conversion off (spark.sql.execution.arrow.pyspark.
enabled=false, a plain SparkSession's default; get_spark turns it on), so every
relation the engine builds on the driver is checked without Arrow too.
--plain-session skips get_spark: a SparkSession.builder.master("local[4]")
session with only spark.sql.session.timeZone set (--tz, default
America/New_York), so Arrow is off, no checkpoint dir is set and every other
conf is Spark's default — the session an outside caller brings. A query that
changes the session's conf fails. Every mode also sets
spark.ui.showConsoleProgress=false, so the console progress bars do not
share lines with the verdict lines (a saved log keeps one line per query);
that is a display setting and changes no result.

Per-half attribution for tagged-union mega-queries (raster_field & co):
  python tools/check_oracle.py raster_field --half hor   # just that half
  python tools/check_oracle.py raster_field --halves     # per-tag breakdown
--half pushes `tag = X` into BOTH sides before comparing — Catalyst constant-
folds the non-matching union branches to empty scans, so only the named half
actually executes; the oracle side is wrapped in a filtered subquery.
--halves runs the full query once and prints one rows/hash verdict PER tag,
so a red mega-row localizes in a single command.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

ROOT = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, ROOT)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canonicalize(pdf: pd.DataFrame) -> tuple[int, list[str], str]:
    cols = sorted(pdf.columns)
    pdf = pdf[cols].copy()

    # Strict, driver-style stringification: NO integer-float coercion. The
    # external driver hashes "123.0" != "123", so a DuckDB HUGEINT->float64
    # column must be caught here, not papered over (VERDICT r1 lesson).
    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        return str(v)

    rows = ["\x1f".join(cell(v) for v in row) for row in pdf.itertuples(index=False)]
    rows.sort()
    h = hashlib.md5("\x1e".join(rows).encode()).hexdigest()
    return len(pdf), cols, h


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--half", default=None,
                    help="restrict a tagged-union query to one tag value "
                         "(pushed into both sides; union branches prune)")
    ap.add_argument("--halves", action="store_true",
                    help="compare each tag value separately (one verdict "
                         "per half) for queries with a `tag` column")
    ap.add_argument("--bare-session", action="store_true",
                    help="build the session with Arrow conversion off")
    ap.add_argument("--plain-session", action="store_true",
                    help="a plain local[4] session with only the timezone "
                         "(and the display setting "
                         "spark.ui.showConsoleProgress=false) set, not "
                         "get_spark")
    ap.add_argument("--tz", default="America/New_York",
                    help="the --plain-session timezone")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    # pandas-UDF workers import `engine` as well: give them the repo root
    # whatever directory the tool was started from
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    import __spark_entry__ as entry_mod
    from engine.session import get_spark

    if args.plain_session:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[4]")
            .config("spark.sql.session.timeZone", args.tz)
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
    else:
        conf = {"spark.ui.showConsoleProgress": "false"}
        if args.bare_session:
            conf["spark.sql.execution.arrow.pyspark.enabled"] = "false"
        spark = get_spark("oracle-check", cores=8, shuffle_partitions=8,
                          driver_mem="16g", extra_conf=conf)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{args.sf}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = args.names or list(qs.keys())
    failures = []
    def compare(label, sdf, odf, t0):
        sn, scols, sh = canonicalize(sdf)
        on_, ocols, oh = canonicalize(odf)
        ok = (sn == on_) and (scols == ocols) and (sh == oh)
        status = "OK  " if ok else "FAIL"
        print(f"{status}  {label}: spark={sn} oracle={on_} cols={'=' if scols==ocols else f'{scols} vs {ocols}'} "
              f"hash={'=' if sh==oh else 'MISMATCH'} ({time.time()-t0:.1f}s)")
        if not ok and sn and on_ and scols == ocols:
            a = sdf[sorted(sdf.columns)].astype(str).apply("|".join, axis=1)
            b = odf[sorted(odf.columns)].astype(str).apply("|".join, axis=1)
            for r in sorted(set(a) - set(b))[:3]:
                print(f"        spark-only: {r}")
            for r in sorted(set(b) - set(a))[:3]:
                print(f"        oracle-only: {r}")
        return ok

    for name in names:
        t0 = time.time()
        conf_before = spark.conf.getAll
        try:
            q = qs[name](spark, args.sf)
            if args.half is not None:
                if "tag" not in q.columns:
                    print(f"SKIP  {name}: no `tag` column for --half")
                    continue
                from pyspark.sql import functions as F
                q = q.filter(F.col("tag") == args.half)
            sdf = q.toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        finally:
            spark.catalog.clearCache()  # queries may persist intermediates
        conf_after = spark.conf.getAll
        changed = sorted(
            k for k in set(conf_before) | set(conf_after)
            if conf_before.get(k) != conf_after.get(k)
        )
        if changed:
            print(f"FAIL  {name}: changed the session conf: {changed}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"SKIP  {name}: no oracle (rows-only: {len(sdf)} rows, "
                  f"{time.time()-t0:.1f}s)")
            continue
        osql = oracles[name]
        if args.half is not None:
            osql = (f"SELECT * FROM ({osql}) sphalf "
                    f"WHERE tag = '{args.half}'")
        try:
            odf = con.execute(osql).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        if args.halves and "tag" in sdf.columns and "tag" in odf.columns:
            tags = sorted(set(sdf["tag"]) | set(odf["tag"]))
            bad = [
                t for t in tags
                if not compare(f"{name}[{t}]", sdf[sdf.tag == t],
                               odf[odf.tag == t], t0)
            ]
            if bad:
                failures.append(name)
            continue
        if not compare(name, sdf, odf, t0):
            failures.append(name)
    print(f"\n{len(names) - len(failures)}/{len(names)} queries match")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
