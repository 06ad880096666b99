"""Independent answers for every workload, computed apart from the program.

- ingest: per-(cell, poly) rollups recomputed with numpy from the generated
  phash values (anchor formula, res-9 cell, brute-force ray cast inside each
  polygon's bbox), compared with the rows DuckDB reads from the committed
  files; manifest and checkpoint consistency.
- query_suite: the DuckDB `oracle_sql()` twin of each query, compared in the
  canonical form of tools/check_oracle.py (columns sorted by name, rows
  stringified and sorted, md5 of the joined rows).
- rounds: a numpy min-label propagation for connected components and a
  lexicographic (dist, hops) Dijkstra bounded by the same max_dist.

Every comparison returns a list of problems; an empty list means correct.
"""

from __future__ import annotations

import hashlib
import heapq

import duckdb
import numpy as np
import pandas as pd

RES = 9
ROLLUP_COLS = ["cell", "poly_id", "n_images", "min_lon", "max_lon", "min_lat", "max_lat"]


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------
def _inside(px: np.ndarray, py: np.ndarray, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
    """Even-odd ray cast; edge k runs from vertex k-1 to vertex k (wrapping)."""
    inside = np.zeros(px.shape, dtype=bool)
    for k in range(len(xs)):
        xi, yi, xj, yj = xs[k], ys[k], xs[k - 1], ys[k - 1]
        with np.errstate(divide="ignore", invalid="ignore"):
            x_int = (xj - xi) * (py - yi) / (yj - yi) + xi
        inside ^= ((yi > py) != (yj > py)) & (px < x_int)
    return inside


def ingest_expected(phash: np.ndarray, rings: list) -> pd.DataFrame:
    """The pipeline's per-(cell, poly_id) rollup, from the raw phash values."""
    x = phash % 2**32
    y = (phash >> 32) % 2**31
    lon = x.astype(np.float64) / float(2**32) * 360.0 - 180.0
    lat = y.astype(np.float64) / float(2**31) * 180.0 - 90.0
    cell = RES * 2**58 + (x >> (32 - RES)) * 2**29 + (y >> (31 - RES))
    parts = []
    for pid, (xs, ys) in enumerate(rings):
        idx = np.nonzero((lon >= xs.min()) & (lon <= xs.max())
                         & (lat >= ys.min()) & (lat <= ys.max()))[0]
        idx = idx[_inside(lon[idx], lat[idx], xs, ys)]
        parts.append(pd.DataFrame({"cell": cell[idx], "poly_id": pid,
                                   "lon": lon[idx], "lat": lat[idx]}))
    pairs = pd.concat(parts, ignore_index=True)
    out = pairs.groupby(["cell", "poly_id"], as_index=False).agg(
        n_images=("lon", "size"), min_lon=("lon", "min"), max_lon=("lon", "max"),
        min_lat=("lat", "min"), max_lat=("lat", "max"),
    )
    out["poly_id"] = out["poly_id"].astype(np.int64)
    return out[ROLLUP_COLS]


def unit_of(cell: pd.Series, stripes: list[tuple[int, int]]) -> np.ndarray:
    ix = (cell.to_numpy() % 2**58) // 2**29
    return np.searchsorted([hi for _, hi in stripes], ix, side="right")


def read_files(paths: list[str]) -> pd.DataFrame:
    if not paths:
        return pd.DataFrame(columns=ROLLUP_COLS)
    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT {', '.join(ROLLUP_COLS)} FROM read_parquet(?)", [paths]
        ).df()
    finally:
        con.close()


def _rows(df: pd.DataFrame) -> list[tuple]:
    df = df[ROLLUP_COLS].sort_values(["cell", "poly_id"])
    return list(df.itertuples(index=False, name=None))


def compare_rollup(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    g, w = _rows(got), _rows(want)
    if g == w:
        return []
    gs, ws = set(g), set(w)
    return [f"rollup: {len(g)} rows vs {len(w)} expected; "
            f"{len(gs - ws)} unexpected, {len(ws - gs)} missing"]


def check_table(snapshots: dict, checkpoint: dict, units: list[str],
                total_pairs: int, manifest_rows: int, final_files: list[str]) -> list[str]:
    """Table-level invariants of one pass: the checkpoint lists every unit once
    with its own snapshot, the manifest row count is what the listed files
    hold, and the committed n_images add up to the containment pairs."""
    problems = []
    done = checkpoint.get("units", {})
    if sorted(done) != sorted(units):
        problems.append(f"checkpoint lists {sorted(done)}, expected {sorted(units)}")
    sids = [done[u]["snapshot_id"] for u in units if u in done]
    if len(set(sids)) != len(sids) or sorted(sids) != sorted(snapshots.values()):
        problems.append("checkpoint snapshot ids do not map one-to-one onto units")
    final = read_files(final_files)
    if len(final) != manifest_rows:
        problems.append(f"manifest says {manifest_rows} rows, files hold {len(final)}")
    if int(final["n_images"].sum()) != total_pairs:
        problems.append(f"sum(n_images) {int(final['n_images'].sum())} != "
                        f"{total_pairs} containment pairs")
    return problems


# ---------------------------------------------------------------------------
# query_suite
# ---------------------------------------------------------------------------
def canonicalize(pdf: pd.DataFrame) -> tuple[int, list[str], str]:
    """tools/check_oracle.py's canonical form: no int/float coercion."""
    cols = sorted(pdf.columns)

    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        return str(v)

    rows = sorted("\x1f".join(cell(v) for v in row)
                  for row in pdf[cols].itertuples(index=False))
    return len(pdf), cols, hashlib.md5("\x1e".join(rows).encode()).hexdigest()


def oracle_answers(sql: dict[str, str], table_paths: dict[str, str]) -> dict:
    """name -> canonical form of the DuckDB twin's result (or an error string)."""
    con = duckdb.connect()
    try:
        for t, p in table_paths.items():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        out = {}
        for name, q in sql.items():
            try:
                out[name] = canonicalize(con.execute(q).df())
            except duckdb.Error as e:
                out[name] = f"duckdb error: {e}"
        return out
    finally:
        con.close()


def compare_query(got: tuple, want) -> list[str]:
    if isinstance(want, str):
        return [want]
    problems = []
    if got[0] != want[0]:
        problems.append(f"{got[0]} rows vs {want[0]} in the oracle")
    if got[1] != want[1]:
        problems.append(f"columns {got[1]} vs {want[1]}")
    if got[2] != want[2]:
        problems.append("value hash differs")
    return problems


# ---------------------------------------------------------------------------
# rounds
# ---------------------------------------------------------------------------
def cc_expected(u: np.ndarray, v: np.ndarray) -> dict[int, int]:
    """node id -> minimum node id of its component (min-label propagation
    with pointer jumping on node indices)."""
    ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = inv[: len(u)], inv[len(u):]
    label = np.arange(len(ids))
    while True:
        m = np.minimum(label[a], label[b])
        new = label.copy()
        np.minimum.at(new, a, m)
        np.minimum.at(new, b, m)
        new = new[new]
        if np.array_equal(new, label):
            break
        label = new
    return dict(zip(ids.tolist(), ids[label].tolist()))


def compare_cc(got: pd.DataFrame, want: dict[int, int]) -> list[str]:
    g = dict(zip(got["id"].tolist(), got["comp"].tolist()))
    if len(g) != len(got):
        return ["a node is labelled more than once"]
    if g == want:
        return []
    wrong = sum(1 for k, c in want.items() if g.get(k) != c)
    return [f"{wrong} of {len(want)} labels differ, {len(set(g) - set(want))} extra nodes"]


def sp_expected(src: np.ndarray, dst: np.ndarray, w: np.ndarray,
                sources: np.ndarray, max_dist: int) -> set[tuple]:
    """(source_id, node, dist, hops) for every node within max_dist of each
    source, undirected; (dist, hops) minimised lexicographically."""
    a = np.concatenate([src, dst])
    order = np.argsort(a, kind="stable")
    nbr = np.concatenate([dst, src])[order].tolist()
    cost = np.concatenate([w, w])[order].tolist()
    start = np.searchsorted(a[order], np.arange(int(a.max()) + 2)).tolist()
    out = set()
    for sid, s in enumerate(sources.tolist()):
        best = {s: (0, 0)}
        heap = [(0, 0, s)]
        while heap:
            d, h, n = heapq.heappop(heap)
            if best.get(n) != (d, h):
                continue
            out.add((sid, n, d, h))
            for k in range(start[n], start[n + 1]):
                m, cand = nbr[k], (d + cost[k], h + 1)
                if cand[0] <= max_dist and cand < best.get(m, (max_dist + 1, 0)):
                    best[m] = cand
                    heapq.heappush(heap, (cand[0], cand[1], m))
    return out


def compare_sp(got: pd.DataFrame, want: set[tuple]) -> list[str]:
    g = set(got[["source_id", "node", "dist", "hops"]].itertuples(index=False, name=None))
    if len(g) == len(got) and g == want:
        return []
    return [f"{len(got)} labels vs {len(want)} expected; "
            f"{len(g - want)} unexpected, {len(want - g)} missing"]
