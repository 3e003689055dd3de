"""Seeded input generators for the benchmark workloads.

Every table is built from ``numpy.random.default_rng(seed)`` and written with
fixed pyarrow writer options, so one seed always yields the same bytes.

* ``suite_tables``: the ten TPC-H-ish tables that ``SparkEntry.queries`` read
  (same schemas, value domains and row counts per scale factor as the
  project's reference test data).
* ``hotspot_docs``: a large ``documents`` table whose doc_ids put a Zipf share
  of the rows on a few residues mod 100000. ``Geo.lonCol``/``latCol`` and
  ``InterleavedDocs.geoPoints`` derive coordinates from ``doc_id mod 100000``,
  so those rows land on a few level-12 cells, all inside a zone triangle.
"""
import datetime as _dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()

# canonical bbox of graft.api.Geo (the same literals as the engine)
MIN_X, MAX_X = -75.2281407807369, -72.67107290964314
MIN_Y, MAX_Y = 3.5641500380320963, 5.302943221927137

LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _write(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, row_group_size=1 << 20)
    return os.path.getsize(path)


def _ts(base, offsets_us):
    return pa.array(np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _texts(rng, n, near_dups=True):
    """Document texts: 10..100 words from VOCAB; a few exact duplicate pairs
    and near-duplicates (one word swapped for 'dup') for the dedup queries."""
    lens = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    voc = np.array(VOCAB, dtype=object)
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(voc[words[pos:pos + ln]]))
        pos += ln
    if near_dups and n >= 100:
        k = max(8, n // 600)
        src = rng.choice(n, size=2 * k, replace=False)
        for a, b in zip(src[:k], src[k:]):
            out[b] = out[a]                      # exact duplicate pair
        nd = rng.choice(n, size=max(1, n // 200), replace=False)
        for i in nd:
            toks = out[i].split(" ")
            toks[int(rng.integers(0, len(toks)))] = "dup"
            out[i] = " ".join(toks)
    return out


def _documents(rng, doc_ids):
    n = len(doc_ids)
    text = _texts(rng, n)
    return pa.table({
        "doc_id": pa.array(doc_ids, type=pa.int64()),
        "text": pa.array(text, type=pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P), type=pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
        "n_chars": pa.array([len(t) for t in text], type=pa.int64()),
    })


def _nation():
    return pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], type=pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    })


def suite_tables(out_dir, seed, sf=0.1):
    """Write the ten suite tables at scale ``sf``; returns {table: {rows, bytes}}."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_ord = int(150000 * sf), int(1500000 * sf)
    n_part, n_supp = int(200000 * sf), int(10000 * sf)
    n_line, n_ev = int(6000000 * sf), int(1000000 * sf)
    n_docs, n_emb = int(50000 * sf), int(20000 * sf)
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), type=pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    tables["nation"] = _nation()
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(segs, n_cust)),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), type=pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    adj = ["hot", "cold", "blue", "large", "small", "old", "new", "red", "green",
           "dark", "light", "bright", "plain"]
    noun = ["widget", "anvil", "bolt", "rod", "gear", "ring", "nut", "pipe"]
    ptypes = ["PROMO", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), type=pa.int64()),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(rng.choice(adj, n_part),
                                                      rng.choice(noun, n_part))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(ptypes, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)),
    })
    days = (_dt.date(2001, 8, 1) - _dt.date(1995, 1, 1)).days
    day_us = 86400 * 10**6
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), type=pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), type=pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, days + 1, n_ord) * day_us),
        "o_orderpriority": pa.array(rng.choice(prio, n_ord)),
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), type=pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), type=pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), type=pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), type=pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, days + 95, n_line) * day_us),
    })
    month_us = 30 * day_us
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), type=pa.int64()),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, month_us, n_ev))),
        "user_id": pa.array(rng.integers(0, max(1, int(15000 * sf)), n_ev), type=pa.int64()),
        "event_type": pa.array(rng.choice(["click", "view", "purchase", "signup", "error"], n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    tables["documents"] = _documents(rng, np.arange(n_docs))
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), type=pa.int64()),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), type=pa.int32()),
    })
    return {name: {"rows": t.num_rows,
                   "bytes": _write(t, os.path.join(out_dir, f"{name}.parquet"))}
            for name, t in tables.items()}


def _zone(k):
    """CCW triangle of nation k, the formulas of graft.api.Geo.zones."""
    cx = MIN_X + ((k * 13 + 3) % 97) / 97.0 * (MAX_X - MIN_X)
    cy = MIN_Y + ((k * 29 + 7) % 89) / 89.0 * (MAX_Y - MIN_Y)
    w = 0.08 + (k % 5) * 0.05
    h = 0.06 + (k % 7) * 0.04
    return (cx - w, cy - h), (cx + w, cy - h), (cx, cy + h)


def _in_triangle(p, tri):
    (ax, ay), (bx, by), (cx, cy) = tri
    x, y = p
    return ((bx - ax) * (y - ay) - (x - ax) * (by - ay) >= 0 and
            (cx - bx) * (y - by) - (x - bx) * (cy - by) >= 0 and
            (ax - cx) * (y - cy) - (x - cx) * (ay - cy) >= 0)


def doc_point(doc_id):
    """(lon, lat) of graft.api.Geo.docPoints for one doc_id."""
    lon = MIN_X + ((doc_id * 7919) % 100000) / 100000.0 * (MAX_X - MIN_X)
    lat = MIN_Y + ((doc_id * 104729) % 100000) / 100000.0 * (MAX_Y - MIN_Y)
    return lon, lat


def level12_cell(lon, lat):
    """(x, y) grid index of graft.index.CellIndex at level 12."""
    n = 1 << 12
    return (min(n - 1, max(0, int(np.floor((lon + 180.0) / 360.0 * n)))),
            min(n - 1, max(0, int(np.floor((lat + 90.0) / 180.0 * n)))))


def zipf_shares(hot_share, n_hot, s=1.0):
    w = 1.0 / np.arange(1, n_hot + 1) ** s
    return hot_share * w / w.sum()


def hotspot_docs(out_dir, seed, n_docs, hot_share=0.3, n_hot=4):
    """Write documents.parquet + nation.parquet for the skewed join workload.

    ``hot_share`` of the docs go to ``n_hot`` residues mod 100000 with Zipf(1)
    weights; each hot residue's point lies inside a zone triangle, on its own
    level-12 cell. The remaining docs take distinct ids 0.. skipping the hot
    residues (near-uniform points, as in the reference test data)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    zones = [_zone(k) for k in range(25)]
    hot, cells = [], set()
    while len(hot) < n_hot:
        r = int(rng.integers(0, 100000))
        p = doc_point(r)
        c = level12_cell(*p)
        if c not in cells and any(_in_triangle(p, z) for z in zones):
            hot.append(r)
            cells.add(c)
    shares = zipf_shares(hot_share, n_hot)
    counts = np.floor(shares * n_docs).astype(np.int64)
    n_cold = n_docs - int(counts.sum())
    hot_set = set(hot)
    span = n_cold + n_cold // 100000 * n_hot + n_hot + 1
    cold = np.array([i for i in range(span) if i % 100000 not in hot_set][:n_cold],
                    dtype=np.int64)
    base = (span // 100000 + 1) * 100000
    parts = [cold] + [r + base + 100000 * np.arange(c, dtype=np.int64)
                      for r, c in zip(hot, counts)]
    ids = np.concatenate(parts)
    ids = ids[rng.permutation(len(ids))]
    docs = _documents(rng, ids)
    stats = {
        "documents": {"rows": docs.num_rows,
                      "bytes": _write(docs, os.path.join(out_dir, "documents.parquet"))},
        "nation": {"rows": 25, "bytes": _write(_nation(), os.path.join(out_dir, "nation.parquet"))},
        "hot_residues": hot,
        "hot_docs": [int(c) for c in counts],
        "zipf_share": float(counts.sum()) / n_docs,
        "top_share": float(counts[0]) / n_docs,
    }
    return stats
