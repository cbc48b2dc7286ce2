"""Seeded input generator for the benchmark.

Writes the ten tables the engine reads (region nation customer supplier
part orders lineitem events documents embeddings), with the column names,
types and value domains of the engine's test tables: a TPC-H-like star
schema, an event stream, a token-soup document corpus in which 5% of the
documents are near-duplicates of another one (its text plus " dup"), and
unit-norm 64-dim embeddings. The same (seed, scale, copies) always gives
byte-identical files.

copies > 1 expands the tables the way the engine's MintScale tool does:
dimension tables are copied through, fact tables get `copies` copies whose
primary keys are shifted by copy * 1e9 (lineitem's l_orderkey moves with
its order), and payload columns are left identical, so every near-duplicate
bucket gets `copies` times denser.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEY_OFFSET = 1_000_000_000
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line data table agg value key stream window a spark "
         "part group big sort query fast the").split()
ADJ = "blue hot small old red new cold large".split()
NOUN = "bolt gear anvil ring widget rod plate gizmo".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _day(s):
    return np.datetime64(s, "us")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(seed, sf):
    """The copies=1 tables at scale factor `sf` (0.01 = 15k orders)."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(100, int(15_000 * sf))
    n_docs = max(100, int(20_000 * sf))
    n_vecs = max(100, int(20_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    keys = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)})
    odate = _day("1995-01-01") + rng.integers(0, 2404, n_ord) * np.timedelta64(1, "D")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    lok = rng.integers(0, n_ord, n_line)
    ship = odate[lok] + rng.integers(1, 96, n_line) * np.timedelta64(1, "D")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": pa.array(ship, pa.timestamp("us"))})
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + _day("2024-01-01")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 101)))
             for _ in range(n_docs)]
    for d in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[d] = texts[rng.integers(0, n_docs)] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    v = rng.standard_normal((n_vecs, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})
    return t


FACT_KEYS = {"orders": ["o_orderkey"], "lineitem": ["l_orderkey"],
             "events": ["event_id"], "documents": ["doc_id"],
             "embeddings": ["vec_id"]}


def expand(tables, copies):
    """MintScale's xK rule: shifted fact keys, identical payloads."""
    out = dict(tables)
    for name, keys in FACT_KEYS.items():
        parts = []
        for c in range(copies):
            tb = tables[name]
            for k in keys:
                i = tb.schema.get_field_index(k)
                shifted = np.asarray(tb.column(k)) + c * KEY_OFFSET
                tb = tb.set_column(i, k, pa.array(shifted, pa.int64()))
            parts.append(tb)
        out[name] = pa.concat_tables(parts)
    return out


def write(seed, sf, copies, out_dir):
    tables = base_tables(seed, sf)
    if copies > 1:
        tables = expand(tables, copies)
    tmp = out_dir + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tb in tables.items():
        pq.write_table(tb, os.path.join(tmp, f"{name}.parquet"))
    # The hourly job's landing directory: the event file as it arrived.
    os.makedirs(os.path.join(tmp, "landing", "events"))
    pq.write_table(tables["events"],
                   os.path.join(tmp, "landing", "events", "part-00000.parquet"))
    os.replace(tmp, out_dir)
