"""Seeded input generator for the benchmark.

Writes the star schema the program reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
single-row-group parquet file per table, with the same column names,
types and value distributions as the project's sf0.1 test tables.
Everything is drawn from `numpy.random.default_rng(seed)`, so the same
seed gives byte-identical files.

    python3 perfbench/gen.py <out_dir> <seed> <scale> [documents_only]

`scale` multiplies every row count of sf0.1 (1 -> 600 000 lineitem rows).
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bumped whenever the generated data changes, so cached inputs from an
# older generator are never reused.
GEN_VERSION = 1

BASE_ROWS = {
    "region": 5, "nation": 25, "customer": 15000, "supplier": 1000,
    "part": 20000, "orders": 150000, "lineitem": 600000,
    "events": 100000, "documents": 5000, "embeddings": 2000,
}
FIXED = {"region", "nation"}

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

US_PER_DAY = 86_400_000_000


def _ts_days(rng, n, start, end):
    """Midnight timestamps, uniform over [start, end] (numpy datetime64[D])."""
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    days = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return (lo + days).astype("datetime64[us]")


def _cents(rng, n, lo, hi):
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _permute(rng, t):
    """Seeded row-order permutation (relationally invariant)."""
    return t.take(pa.array(rng.permutation(t.num_rows)))


def gen_region(rng, n):
    return pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})


def gen_nation(rng, n):
    k = np.arange(25, dtype=np.int32)
    return pa.table({"n_nationkey": pa.array(k),
                   "n_name": [f"NATION_{i}" for i in k],
                   "n_regionkey": pa.array(k % 5)})


def gen_customer(rng, n):
    k = np.arange(n, dtype=np.int64)
    seg = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    return _permute(rng, pa.table({
        "c_custkey": k,
        "c_name": [f"Customer#{i:09d}" for i in k],
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": _cents(rng, n, -999.99, 9999.99),
        "c_mktsegment": seg[rng.integers(0, 5, n)]}))


def gen_supplier(rng, n):
    k = np.arange(n, dtype=np.int64)
    return _permute(rng, pa.table({
        "s_suppkey": k,
        "s_name": [f"Supplier#{i:09d}" for i in k],
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": _cents(rng, n, -999.99, 9999.99)}))


def gen_part(rng, n):
    k = np.arange(n, dtype=np.int64)
    adj = np.array("blue cold hot large new old red small".split())
    noun = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    brand = np.array([f"Brand#{i}" for i in range(1, 26)])
    names = np.char.add(np.char.add(adj[rng.integers(0, 8, n)], " "),
                        noun[rng.integers(0, 8, n)])
    return _permute(rng, pa.table({
        "p_partkey": k, "p_name": names,
        "p_brand": brand[rng.integers(0, 25, n)],
        "p_type": types[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 2)}))


def gen_orders(rng, n, ncust):
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    return _permute(rng, pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, ncust, n).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _cents(rng, n, 1000.0, 500000.0),
        "o_orderdate": pa.array(_ts_days(rng, n, "1995-01-01", "2001-08-01")),
        "o_orderpriority": prio[rng.integers(0, 5, n)]}))


def gen_lineitem(rng, n, norders, nparts, nsupp):
    return pa.table({
        "l_orderkey": rng.integers(0, norders, n).astype(np.int64),
        "l_partkey": rng.integers(0, nparts, n).astype(np.int64),
        "l_suppkey": rng.integers(0, nsupp, n).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _cents(rng, n, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(_ts_days(rng, n, "1995-01-02", "2001-11-04"))})


def gen_events(rng, n):
    span = 30 * US_PER_DAY
    offs = np.sort(rng.integers(0, span, n))
    ts = np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]")
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts),
        "user_id": rng.integers(0, 1500, n).astype(np.int64),
        "event_type": kinds[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")})


def gen_documents(rng, n):
    """Random-word documents over the test vocabulary: ~5 % near-duplicates
    (an earlier-drawn text plus " dup") and a few exact duplicate pairs,
    the shapes the dedup and quality-gate stages act on."""
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, n)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    texts, o = [], 0
    for ln in lens:
        texts.append(" ".join(words[o:o + ln]))
        o += ln
    idx = rng.permutation(n)
    n_near, n_exact = n // 20, max(1, n // 600)
    for a, b in zip(idx[:n_near], idx[n_near:2 * n_near]):
        texts[a] = texts[b] + " dup"
    exact = idx[2 * n_near:2 * n_near + 2 * n_exact]
    for a, b in zip(exact[::2], exact[1::2]):
        texts[a] = texts[b]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids, "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": np.char.add("src", (ids % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def gen_embeddings(rng, n):
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32))})


def generate(out_dir, seed, scale, documents_only=False):
    """Write every table into out_dir; returns {table: {rows, bytes}}."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {t: (n if t in FIXED else int(n * scale)) for t, n in BASE_ROWS.items()}
    # one child stream per table: a table's contents do not depend on
    # which other tables are generated
    streams = dict(zip(BASE_ROWS, np.random.SeedSequence(seed).spawn(len(BASE_ROWS))))
    build = {
        "region": lambda r: gen_region(r, 5),
        "nation": lambda r: gen_nation(r, 25),
        "customer": lambda r: gen_customer(r, rows["customer"]),
        "supplier": lambda r: gen_supplier(r, rows["supplier"]),
        "part": lambda r: gen_part(r, rows["part"]),
        "orders": lambda r: gen_orders(r, rows["orders"], rows["customer"]),
        "lineitem": lambda r: gen_lineitem(r, rows["lineitem"], rows["orders"],
                                           rows["part"], rows["supplier"]),
        "events": lambda r: gen_events(r, rows["events"]),
        "documents": lambda r: gen_documents(r, rows["documents"]),
        "embeddings": lambda r: gen_embeddings(r, rows["embeddings"]),
    }
    sizes = {}
    for t in (["documents"] if documents_only else BASE_ROWS):
        table = build[t](np.random.default_rng(streams[t]))
        path = os.path.join(out_dir, f"{t}.parquet")
        tmp = path + ".tmp"
        pq.write_table(table, tmp, row_group_size=max(1, table.num_rows))
        os.replace(tmp, path)
        sizes[t] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    with open(os.path.join(out_dir, "_inputs.json"), "w") as f:
        json.dump({"seed": seed, "scale": scale, "gen_version": GEN_VERSION,
                   "tables": sizes}, f, sort_keys=True)
    return sizes


if __name__ == "__main__":
    out, seed, scale = sys.argv[1], int(sys.argv[2]), float(sys.argv[3])
    print(json.dumps(generate(out, seed, scale, len(sys.argv) > 4)))
