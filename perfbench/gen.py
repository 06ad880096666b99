"""Seeded input generators for the benchmark workloads (numpy + pyarrow only).

Every generator takes a numpy Generator made from the run's --seed and writes
parquet files; the program under test only ever sees those files. Each
function also returns the raw arrays the correctness checks recompute from, so
the checks never read the program's output to build their expectations.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# ingest: image table with a hotspot + convex polygons
# ---------------------------------------------------------------------------
# Anchor space (engine/cells.py): x = phash mod 2^32 -> lon, y = phash div 2^32
# (31 bits) -> lat. The hotspot is a 2 x 2 degree box at res-9 column ix
# 271-274 (512 columns of 0.703 deg), so it falls inside one work unit (of 3:
# ix 170-340), which makes that unit the hot one.
HOT_LON = (11.0, 13.0)
HOT_LAT = (44.0, 46.0)


def _lon_to_x(lon: float) -> int:
    return int((lon + 180.0) / 360.0 * 2**32)


def _lat_to_y(lat: float) -> int:
    return int((lat + 90.0) / 180.0 * 2**31)


def images(rng: np.random.Generator, n: int, hot_share: float, path: str) -> dict:
    """n images; exactly round(n * hot_share) anchors fall in the hotspot box,
    the rest are uniform over the world. Written in engine.schema.IMAGES
    column order (bytes left null: the pipeline never reads them)."""
    n_hot = int(round(n * hot_share))
    x = rng.integers(0, 2**32, n, dtype=np.int64)
    y = rng.integers(0, 2**31, n, dtype=np.int64)
    hot = rng.permutation(n)[:n_hot]
    x[hot] = rng.integers(_lon_to_x(HOT_LON[0]), _lon_to_x(HOT_LON[1]), n_hot)
    y[hot] = rng.integers(_lat_to_y(HOT_LAT[0]), _lat_to_y(HOT_LAT[1]), n_hot)
    phash = y * 2**32 + x
    ids = np.char.add("img", np.char.zfill(np.arange(n).astype(str), 12))
    sizes = np.array([16, 32, 64], dtype=np.int32)
    table = pa.table(
        {
            "image_id": pa.array(ids),
            "bytes": pa.nulls(n, pa.binary()),
            "w": pa.array(sizes[rng.integers(0, 3, n)]),
            "h": pa.array(sizes[rng.integers(0, 3, n)]),
            "fmt": pa.array(np.where(rng.random(n) < 0.2, "png", "raw")),
            "caption": pa.nulls(n, pa.string()),
            "phash": pa.array(phash),
        }
    )
    pq.write_table(table, path, row_group_size=1 << 17)
    return {"phash": phash, "n_hot": n_hot}


def polygons(rng: np.random.Generator, p: int, hot_share: float, path: str) -> dict:
    """p convex polygons (5-12 vertices at sorted angles on an ellipse, which
    keeps every ring convex); round(p * hot_share) of them are small ones
    centred inside the hotspot box. Written in engine.schema.POLYGONS shape."""
    n_hot = int(round(p * hot_share))
    rings, bboxes = [], []
    for i in range(p):
        if i < n_hot:
            clon = rng.uniform(*HOT_LON)
            clat = rng.uniform(*HOT_LAT)
            rlon, rlat = rng.uniform(0.05, 0.35, 2)
        else:
            clon = rng.uniform(-170, 170)
            clat = rng.uniform(-75, 75)
            rlon, rlat = rng.uniform(1.0, 12.0), rng.uniform(1.0, 9.0)
        nv = int(rng.integers(5, 13))
        ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
        lons = clon + rlon * np.cos(ang)
        lats = clat + rlat * np.sin(ang)
        rings.append((lons, lats))
        bboxes.append((lons.min(), lats.min(), lons.max(), lats.max()))
    point = pa.struct([("lon", pa.float64()), ("lat", pa.float64())])
    ring_col = pa.array(
        [[{"lon": float(a), "lat": float(b)} for a, b in zip(*r)] for r in rings],
        type=pa.list_(pa.field("element", point, nullable=False)),
    )
    bbox_col = pa.array(
        [{"min": {"lon": b[0], "lat": b[1]}, "max": {"lon": b[2], "lat": b[3]}}
         for b in bboxes],
        type=pa.struct([("min", point), ("max", point)]),
    )
    epoch = datetime(2017, 1, 1)
    table = pa.table(
        {
            "poly_id": pa.array(np.arange(p, dtype=np.int64)),
            "ring": ring_col,
            "bbox": bbox_col,
            "valid_from": pa.array([epoch + timedelta(days=7 * i) for i in range(p)],
                                   type=pa.timestamp("us", tz="UTC")),
            "valid_to": pa.array([epoch + timedelta(days=7 * i + 7) for i in range(p)],
                                 type=pa.timestamp("us", tz="UTC")),
        }
    )
    pq.write_table(table, path)
    return {"rings": rings}


# ---------------------------------------------------------------------------
# rounds: block-random edge set + weighted grid
# ---------------------------------------------------------------------------
def block_edges(rng: np.random.Generator, n_edges: int, block: int, path: str) -> dict:
    """Distinct undirected edges, each inside one block of `block` nodes; node
    ids are a random permutation so component minima are not block starts.
    Some blocks come out split into several components."""
    per_block = 3 * block // 2
    n_blocks = -(-2 * n_edges // per_block)  # headroom for self-loops and repeats;
    # the sorted pairs are cut at n_edges, which drops whole trailing blocks
    n_nodes = n_blocks * block
    b = np.repeat(np.arange(n_blocks, dtype=np.int64), per_block)
    u = b * block + rng.integers(0, block, b.size)
    v = b * block + rng.integers(0, block, b.size)
    keep = u != v
    lo, hi = np.minimum(u[keep], v[keep]), np.maximum(u[keep], v[keep])
    pairs = np.unique(lo * n_nodes + hi)[:n_edges]
    if pairs.size < n_edges:
        raise ValueError("block_edges: too few distinct edges; raise the headroom")
    perm = rng.permutation(n_nodes).astype(np.int64)
    u, v = perm[pairs // n_nodes], perm[pairs % n_nodes]
    flip = rng.random(n_edges) < 0.5  # direction is noise to CC
    u, v = np.where(flip, v, u), np.where(flip, u, v)
    pq.write_table(pa.table({"u": u, "v": v}), path)
    return {"u": u, "v": v}


def grid_edges(rng: np.random.Generator, side: int, w_lo: int, w_hi: int,
               n_sources: int, path: str, sources_path: str) -> dict:
    """4-neighbour side x side grid, integer weights uniform in [w_lo, w_hi];
    node id = row * side + col. Sources are distinct random nodes."""
    ids = np.arange(side * side, dtype=np.int64).reshape(side, side)
    src = np.concatenate([ids[:, :-1].ravel(), ids[:-1, :].ravel()])
    dst = np.concatenate([ids[:, 1:].ravel(), ids[1:, :].ravel()])
    w = rng.integers(w_lo, w_hi + 1, src.size, dtype=np.int64)
    pq.write_table(pa.table({"src": src, "dst": dst, "w": w}), path)
    nodes = rng.choice(side * side, n_sources, replace=False).astype(np.int64)
    pq.write_table(
        pa.table({"source_id": np.arange(n_sources, dtype=np.int64), "node": nodes}),
        sources_path,
    )
    return {"src": src, "dst": dst, "w": w, "sources": nodes}


# ---------------------------------------------------------------------------
# query_suite: the ten tables the __spark_entry__ queries read
# ---------------------------------------------------------------------------
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group big "
    "sort query fast the"
).split()
_ADJ = "red small hot old large blue cold new".split()
_NOUN = "widget bolt plate ring rod gear gizmo anvil".split()


def _days(rng, n, start: datetime, end: datetime) -> np.ndarray:
    span = (end - start).days
    return np.datetime64(start, "us") + rng.integers(0, span + 1, n) * np.timedelta64(1, "D")


def tables(rng: np.random.Generator, scale: int, out_dir: str) -> dict[str, str]:
    """The TPC-H-like star schema plus events/documents/embeddings, in the
    column types of the engine's test data. `scale` = customers / 150
    (scale 10 is the sf0.01 shape: 1500 customers, 60000 line items)."""
    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_ord, n_li, n_ev = 1500 * scale, 6000 * scale, 1000 * scale
    n_doc = n_emb = 500
    t = {}
    t["region"] = {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    t["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }
    ptypes = np.array(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"])
    names = np.array([f"{a} {b}" for a in _ADJ for b in _NOUN])
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, names.size, n_part)],
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    }
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, datetime(1995, 1, 1), datetime(2001, 8, 1)),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    }
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, datetime(1995, 1, 2), datetime(2001, 11, 4)),
    }
    gaps = np.maximum(rng.exponential(259e6, n_ev).astype(np.int64), 1)  # ~4.3 min
    etypes = np.array(["signup", "click", "error", "purchase", "view"])
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(15, n_cust // 10), n_ev, dtype=np.int64),
        "event_type": etypes[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    words = np.array(_WORDS)
    texts = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, words.size, rng.integers(10, 100))]))
    langs = np.array(["en", "zh", "es", "de", "fr"])
    t["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.choice(5, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    }
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32)),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in t.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
    return {name: os.path.join(out_dir, f"{name}.parquet") for name in t}
