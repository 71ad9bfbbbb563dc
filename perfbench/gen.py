"""Seeded input generators for the benchmark workloads.

Everything a workload reads is written here, before the JVM starts, so
generation never competes with the engine for executors. The same seed
always gives byte-identical inputs. Each generator returns a manifest (a
plain dict, written as JSON next to the data) that tells the harness what
was generated and what the correct outputs are.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
BASE_MS = 1704067200000  # 2024-01-01T00:00:00Z

ENVELOPE = pa.schema([
    ("key", pa.string()),
    ("after", pa.struct([("id", pa.int64()), ("user_id", pa.int64()),
                         ("event_type", pa.string()), ("value", pa.float64()),
                         ("props", pa.string())])),
    ("op", pa.string()),
    ("ts_ms", pa.int64()),
    ("offset", pa.int64()),
])


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def customers(rng, n):
    seg = rng.integers(0, len(SEGMENTS), n)
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n), 2)),
        "c_mktsegment": pa.array([SEGMENTS[s] for s in seg]),
    }), seg


# --------------------------------------------------------------------------
# ep2_ingest: CDC envelope files over a customer dimension
# --------------------------------------------------------------------------

def ep2(seed, out, n_customers, files, step_ms=10):
    """CDC-envelope parquet files for the EP2 topology.

    `files` is a list of (role, rows). Event ids are global and
    sequential, so a doc's file (and with it its release time) is found
    from its id alone. The manifest carries, per file, the number of
    docs the keyed index and the unhappy index must receive.
    """
    rng = np.random.default_rng(seed)
    cust, seg = customers(rng, n_customers)
    _write(cust, f"{out}/customer.parquet")
    building = seg == SEGMENTS.index("BUILDING")
    manifest = {"customers": n_customers, "files": []}
    next_id = 1
    for i, (role, rows) in enumerate(files):
        ids = np.arange(next_id, next_id + rows, dtype=np.int64)
        next_id += rows
        # ~4% of events reference a customer that does not exist, so the
        # enrichment join has something to drop
        user = rng.integers(0, int(n_customers * 1.04), rows).astype(np.int64)
        etype = rng.integers(0, len(EVENT_TYPES), rows)
        stars = rng.integers(0, 6, rows).astype(np.float64)
        u = rng.random(rows)
        op = np.where(u < 0.03, "d", np.where(u < 0.13, "u", "c"))
        ts = BASE_MS + ids * step_ms + rng.integers(0, step_ms, rows)
        deleted = op == "d"
        after = pa.StructArray.from_arrays(
            [pa.array(ids), pa.array(user),
             pa.array(np.array(EVENT_TYPES)[etype]), pa.array(stars),
             pa.array(np.char.add(np.char.add('{"k": ', rng.integers(0, 100, rows).astype(str)), "}"))],
            fields=list(ENVELOPE.field("after").type),
            mask=pa.array(deleted))
        table = pa.table({
            "key": pa.array(user.astype(str)), "after": after,
            "op": pa.array(op), "ts_ms": pa.array(ts),
            "offset": pa.array(ids)}, schema=ENVELOPE)
        name = f"f{i:05d}.parquet"
        _write(table, f"{out}/staged/{name}")
        known = user < n_customers
        live = etype != EVENT_TYPES.index("error")
        keyed = (~deleted) & live & known
        unhappy = keyed & (stars < 3) & building[np.minimum(user, n_customers - 1)]
        manifest["files"].append({
            "name": name, "role": role, "rows": rows,
            "id_lo": int(ids[0]), "id_hi": int(ids[-1]),
            "keyed": int(keyed.sum()), "unhappy": int(unhappy.sum())})
    return manifest


# --------------------------------------------------------------------------
# analytics_sweep: the fixture tables the registry queries read
# --------------------------------------------------------------------------

def _vocab(rng, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return ["".join(rng.choice(letters, rng.integers(3, 9))) for _ in range(n)]


def fixtures(seed, out, scale):
    """The registry's fixture tables at `scale` (1.0 = the sf0.01 row
    counts), with the column types of the repository's fixtures."""
    rng = np.random.default_rng(seed)
    n_cust, n_ord, n_li = int(1500 * scale), int(15000 * scale), int(60000 * scale)
    n_part, n_supp, n_ev = int(2000 * scale), max(int(100 * scale), 10), int(10000 * scale)
    n_docs = 500
    cust, _ = customers(rng, n_cust)
    _write(cust, f"{out}/customer.parquet")
    _write(pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))}),
           f"{out}/nation.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2))}),
        f"{out}/supplier.parquet")
    adj = ["small", "red", "large", "blue", "green", "tiny", "shiny", "old"]
    noun = ["ring", "widget", "bolt", "gear", "valve", "panel", "hinge"]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{adj[rng.integers(0, 8)]} {noun[rng.integers(0, 7)]}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM"][t]
                   for t in rng.integers(0, 5, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + np.arange(n_part) * 0.1, 2))}),
        f"{out}/part.parquet")
    day = 86400 * 1000000
    odate = (np.datetime64("1992-01-01").astype("datetime64[us]").astype(np.int64)
             + rng.integers(0, 365 * 10, n_ord) * day)
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": [["F", "O", "P"][s] for s in rng.integers(0, 3, n_ord)],
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": pa.array(odate, type=pa.timestamp("us")),
        "o_orderpriority": [["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"][p]
                            for p in rng.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 3000, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": [["A", "N", "R"][f] for f in rng.integers(0, 3, n_li)],
        "l_linestatus": [["F", "O"][f] for f in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(np.datetime64("1992-01-01").astype("datetime64[us]").astype(np.int64)
                               + rng.integers(0, 365 * 10, n_li) * day, type=pa.timestamp("us"))}),
        f"{out}/lineitem.parquet")
    ev_ts = (BASE_MS * 1000 + np.sort(rng.integers(0, 30 * 86400 * 1000000, n_ev)))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ev_ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, min(n_cust, 150), n_ev).astype(np.int64)),
        "event_type": [EVENT_TYPES[t] for t in rng.integers(0, 5, n_ev)],
        "value": pa.array(np.round(rng.uniform(0.01, 490, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")
    vocab = _vocab(rng, 60)
    texts = []
    for d in range(n_docs):
        if d > 5 and rng.random() < 0.1:
            texts.append(texts[int(rng.integers(0, d))])
        else:
            texts.append(" ".join(vocab[i] for i in rng.integers(0, 60, int(rng.integers(20, 80)))))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": [["en", "de", "fr", "es", "zh"][l] for l in rng.integers(0, 5, n_docs)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))}),
        f"{out}/documents.parquet")
    vecs = rng.normal(0, 0.1, (500, 64)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(500, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, 500).astype(np.int32))}),
        f"{out}/embeddings.parquet")
    return {"scale": scale}


def write_manifest(manifest, path):
    with open(path, "w") as f:
        json.dump(manifest, f)
