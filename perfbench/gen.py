"""Seeded input generators. Same seed, same bytes.

Everything here is numpy + pyarrow: the library under test only ever sees
the files these functions write.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_1992 = np.datetime64("1992-01-01", "us")


def write_table(table: pa.Table, path: str) -> int:
    """Write one parquet file with fixed settings; returns its size."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)
    return os.path.getsize(path)


def write_parts(table: pa.Table, path: str, parts: int) -> int:
    """Write ``table`` as a directory of ``parts`` parquet files of
    consecutive rows; returns their total size."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, parts + 1).astype(int)
    return sum(
        write_table(table.slice(a, b - a), os.path.join(path, f"part-{i:05d}.parquet"))
        for i, (a, b) in enumerate(zip(bounds, bounds[1:]))
    )


# ---------------------------------------------------------------------------
# TPC-H-shaped tables for the frozen q01/q05 controls


def tpch(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_ord = max(20, int(1_500_000 * sf))
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust,
        ),
    })
    supplier = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    odate = EPOCH_1992 + rng.integers(0, 3650, n_ord) * np.timedelta64(1, "D")
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n_ord), 2),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = odate[okey] + rng.integers(1, 122, n_li) * np.timedelta64(1, "D")
    lineitem = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, max(20, int(200_000 * sf)), n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": (np.arange(n_li) - np.repeat(np.cumsum(per) - per, per) + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": ship.astype("datetime64[us]"),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "orders": orders, "lineitem": lineitem,
    }


# ---------------------------------------------------------------------------
# geometry: points and polygons in native (struct / nested list) and WKB


def points(rng: np.random.Generator, n_cust: int, n_supp: int, n_synth: int) -> dict:
    """Customer and supplier points spread uniformly, plus synthetic points
    of which 60 % sit in 8 gaussian clusters (spreads 0.1 to 5 degrees, so
    densities span four orders of magnitude; one cluster straddles the
    antimeridian, one sits at the pole) and 40 % are uniform background.

    Coordinates are rounded to 1e-6 so every printed WKT number is the
    exact decimal the generator chose."""
    n_clu = int(n_synth * 0.6)
    sig = np.geomspace(0.1, 5.0, 8)
    rng.shuffle(sig)
    cx = rng.uniform(-170.0, 170.0, 8)
    cy = rng.uniform(-65.0, 65.0, 8)
    cx[0], cy[1], sig[0], sig[1] = 179.7, 87.5, 0.3, 0.3
    member = np.arange(n_clu) % 8
    sx = cx[member] + rng.normal(size=n_clu) * sig[member]
    sy = cy[member] + rng.normal(size=n_clu) * sig[member]
    sx = (sx + 180.0) % 360.0 - 180.0
    sy = np.where(sy > 90.0, 180.0 - sy, np.where(sy < -90.0, -180.0 - sy, sy))
    n_bg = n_synth - n_clu
    n_uni = n_cust + n_supp
    x = np.concatenate([rng.uniform(-180.0, 180.0, n_uni), sx,
                        rng.uniform(-180.0, 180.0, n_bg)])
    y = np.concatenate([rng.uniform(-60.0, 70.0, n_uni), sy,
                        rng.uniform(-90.0, 90.0, n_bg)])
    kind = np.concatenate([
        np.zeros(n_cust, np.int32), np.ones(n_supp, np.int32),
        np.full(n_synth, 2, np.int32),
    ])
    n = len(x)
    return {
        "id": np.arange(n, dtype=np.int64),
        "kind": kind,
        "grp": rng.integers(0, 16, n).astype(np.int32),
        "x": np.clip(np.round(x, 6), -180.0, 180.0),
        "y": np.clip(np.round(y, 6), -90.0, 90.0),
    }


def polygons(rng: np.random.Generator, n: int) -> dict:
    """Star-shaped simple polygons (4-8 vertices, closed rings)."""
    cx = rng.uniform(-170.0, 170.0, n)
    cy = rng.uniform(-55.0, 65.0, n)
    rings = []
    for i in range(n):
        k = int(rng.integers(4, 9))
        ang = np.sort(rng.uniform(0.0, 2 * np.pi, k))
        rad = rng.uniform(0.2, 2.0) * rng.uniform(0.5, 1.0, k)
        xs = np.round(cx[i] + rad * np.cos(ang), 6)
        ys = np.round(cy[i] + rad * np.sin(ang), 6)
        rings.append((np.append(xs, xs[0]), np.append(ys, ys[0])))
    return {
        "id": np.arange(n, dtype=np.int64),
        "grp": rng.integers(0, 16, n).astype(np.int32),
        "rings": rings,
    }


_XY = pa.struct([("x", pa.float64()), ("y", pa.float64())])


def point_table(p: dict, encoding: str) -> pa.Table:
    n = len(p["id"])
    if encoding == "native":
        geom = pa.StructArray.from_arrays(
            [pa.array(p["x"]), pa.array(p["y"])], fields=list(_XY)
        )
    else:
        rec = np.zeros(n, dtype=[("bo", "u1"), ("t", "<u4"), ("x", "<f8"), ("y", "<f8")])
        rec["bo"], rec["t"], rec["x"], rec["y"] = 1, 1, p["x"], p["y"]
        offsets = np.arange(0, 21 * (n + 1), 21, dtype=np.int32)
        geom = pa.Array.from_buffers(
            pa.binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(rec.tobytes())]
        )
    return pa.table({
        "id": p["id"], "kind": p["kind"], "grp": p["grp"],
        "x": p["x"], "y": p["y"], "geometry": geom,
    })


def polygon_table(pg: dict, encoding: str) -> pa.Table:
    if encoding == "native":
        xs = np.concatenate([r[0] for r in pg["rings"]])
        ys = np.concatenate([r[1] for r in pg["rings"]])
        pts = pa.StructArray.from_arrays([pa.array(xs), pa.array(ys)], fields=list(_XY))
        ring_off = np.concatenate([[0], np.cumsum([len(r[0]) for r in pg["rings"]])])
        rings = pa.ListArray.from_arrays(pa.array(ring_off, pa.int32()), pts)
        geom = pa.ListArray.from_arrays(
            pa.array(np.arange(len(pg["rings"]) + 1), pa.int32()), rings
        )
    else:
        geom = pa.array(
            [
                struct.pack("<BIII", 1, 3, 1, len(rx))
                + np.column_stack([rx, ry]).astype("<f8").tobytes()
                for rx, ry in pg["rings"]
            ],
            pa.binary(),
        )
    return pa.table({"id": pg["id"], "grp": pg["grp"], "geometry": geom})


# ---------------------------------------------------------------------------
# text corpus and embeddings (the tools/scale_data.py model, seeded)


_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def corpus(rng: np.random.Generator, n_base: int, copies: int, vocab: int = 4000) -> dict:
    """``copies`` letter-permuted copies of a base corpus with planted
    exact-duplicate groups, each document geotagged with a clustered
    location (see :func:`points`).

    Words come from a random ``vocab``-word lexicon, so unrelated
    documents share almost no 3-word shingle. Inside a copy, about a fifth
    of the documents repeat an earlier document of the same copy verbatim
    (groups of 2-4). Each copy > 0 maps letters through its own seeded
    permutation, so no document of one copy ever near-duplicates a
    document of another. Returns the columns plus the group structure the
    dedup checks need."""
    lex_len = rng.integers(3, 9, vocab)
    lexicon = [
        "".join(rng.choice(list(_LETTERS), int(n))) for n in lex_len
    ]
    base_texts: list[str] = []
    base_src = np.arange(n_base)
    i = 0
    while i < n_base:
        if i > 8 and rng.random() < 0.08:
            g = int(rng.integers(2, 5))
            src = int(rng.integers(0, i))
            for _ in range(g - 1):
                if i < n_base:
                    base_texts.append(base_texts[src])
                    base_src[i] = base_src[src]
                    i += 1
            continue
        n_words = int(rng.integers(20, 90))
        base_texts.append(" ".join(lexicon[j] for j in rng.integers(0, vocab, n_words)))
        i += 1
    texts, ids, langs = [], [], []
    for c in range(copies):
        if c == 0:
            table = None
        else:
            perm = list(_LETTERS)
            rng.shuffle(perm)
            table = str.maketrans(_LETTERS, "".join(perm))
        for j, t in enumerate(base_texts):
            texts.append(t if table is None else t.translate(table))
            ids.append(c * n_base + j)
            langs.append(("en", "de", "fr", "es")[j % 4])
    groups = np.bincount(base_src, minlength=n_base)
    where = points(rng, 0, 0, len(texts))
    return {
        "lon": where["x"],
        "lat": where["y"],
        "doc_id": np.array(ids, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "dup_pairs_per_copy": int(np.sum(groups * (groups - 1) // 2)),
        "survivors_per_copy": int(np.count_nonzero(groups)),
        "copies": copies,
    }


def corpus_table(c: dict) -> pa.Table:
    return pa.table({
        "doc_id": c["doc_id"],
        "text": c["text"],
        "lang": c["lang"],
        "source": [f"src{i % 7}" for i in range(len(c["text"]))],
        "n_chars": np.array([len(t) for t in c["text"]], dtype=np.int64),
        "lon": c["lon"],
        "lat": c["lat"],
    })


def embeddings(rng: np.random.Generator, n_base: int, copies: int, dims: int = 64,
               n_topics: int = 24) -> np.ndarray:
    """Clustered float32 vectors: ``copies`` jittered copies (1e-3
    relative, from the seed) of ``n_base`` topic-centred vectors."""
    centers = rng.normal(size=(n_topics, dims))
    topic = rng.integers(0, n_topics, n_base)
    base = centers[topic] + 0.35 * rng.normal(size=(n_base, dims))
    out = [base]
    for _ in range(1, copies):
        out.append(base * (1.0 + rng.uniform(-1e-3, 1e-3, size=base.shape)))
    return np.concatenate(out).astype(np.float32)


def embedding_table(vecs: np.ndarray) -> pa.Table:
    n, d = vecs.shape
    flat = pa.array(vecs.reshape(-1))
    emb = pa.ListArray.from_arrays(pa.array(np.arange(0, n * d + 1, d), pa.int32()), flat)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb,
        "label": (np.arange(n) % 10).astype(np.int32),
    })
