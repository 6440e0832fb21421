"""Seeded star-schema fixture and wire-format responses for the benchmark.

The engine's queries read one parquet file per table from a dataset
directory (region, nation, customer, supplier, part, orders, lineitem,
events, documents, embeddings). This module writes such a directory from
a seed, with the column types and value distributions of the repository's
scale-factor fixtures, so the benchmark never depends on data outside its
own checkout:

- the TPC-H-like tables are independent uniform draws (keys, dates,
  prices, flags) at the scale factor's row counts;
- events are time-ordered over January 2024 with 1500-user-per-sf0.1
  cardinality and exponential values;
- documents draw words from a 30-token vocabulary, and 5% of them are
  near-duplicates (another document's text plus " dup"), which is what
  the dedup and similarity operators find;
- embeddings are unit-norm 64-dimensional float vectors with 10 labels.

`render_wire` writes orders rows as the reference's `{"data": [...]}`
response bodies with raw, spaced, mixed-case keys.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "red", "new", "small", "cold", "old"]
PART_NOUN = ["ring", "bolt", "anvil", "rod", "plate", "gear", "widget", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

ORDER_START = np.datetime64("1995-01-01")
ORDER_DAYS = 2404          # through 2001-08-01
SHIP_START = np.datetime64("1995-01-02")
SHIP_DAYS = 2498           # through 2001-11-04
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_SPAN_US = 30 * 86400 * 1_000_000


def _write(out, name, table):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix, n):
    return [f"{prefix}#{i:09d}" for i in range(n)]


def generate(out, sf, seed):
    """Write every table of scale factor `sf` under `out` from `seed`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(2, int(15_000 * sf))
    n_docs, n_vecs = int(50_000 * sf), int(20_000 * sf)

    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    _write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}))
    _write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}))
    pk = np.arange(n_part)
    _write(out, "part", pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(
            np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(PART_NOUN)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)}))
    _write(out, "orders", orders_table(rng, n_ord, n_cust))
    _write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(
            (SHIP_START + rng.integers(0, SHIP_DAYS + 1, n_line))
            .astype("datetime64[ms]"), pa.timestamp("ms"))}))
    ts = np.sort(rng.integers(0, EVENTS_SPAN_US, n_ev)) + EVENTS_START
    _write(out, "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}))
    _write(out, "documents", documents_table(rng, n_docs))
    emb = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())}))


def orders_table(rng, n_ord, n_cust):
    return pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(
            (ORDER_START + rng.integers(0, ORDER_DAYS + 1, n_ord))
            .astype("datetime64[ms]"), pa.timestamp("ms")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})


def documents_table(rng, n_docs):
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, n_docs)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    dups = rng.choice(n_docs, n_docs // 20, replace=False)
    for i in dups:
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


# Wire keys exactly as an olap-proxy response carries them: spaced and
# mixed-case, so the source's `replace(' ', '_').lower()` is exercised.
WIRE_KEYS = [("Order ID", "o_orderkey"), ("Customer ID", "o_custkey"),
             ("Order Status", "o_orderstatus"), ("Total Price", "o_totalprice"),
             ("Year", None), ("Order Date", "o_orderdate"),
             ("Order Priority", "o_orderpriority")]


def render_wire(out, rows, files, seed):
    """Write a seeded selection of `rows` orders rows as `files` response
    bodies under `out`; returns (source rows as an arrow table, bytes)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    t = orders_table(rng, rows, max(1, rows // 10))
    dates = t.column("o_orderdate").to_numpy().astype("datetime64[D]")
    years = dates.astype("datetime64[Y]").astype(int) + 1970
    cols = {"o_orderkey": t.column("o_orderkey").to_pylist(),
            "o_custkey": t.column("o_custkey").to_pylist(),
            "o_orderstatus": t.column("o_orderstatus").to_pylist(),
            "o_totalprice": t.column("o_totalprice").to_pylist(),
            "o_orderdate": [str(d) for d in dates],
            "o_orderpriority": t.column("o_orderpriority").to_pylist()}
    total = 0
    for f in range(files):
        idx = range(f, rows, files)
        recs = []
        for i in idx:
            rec = {}
            for key, src in WIRE_KEYS:
                rec[key] = int(years[i]) if src is None else cols[src][i]
            recs.append(rec)
        body = json.dumps({"data": recs})
        with open(os.path.join(out, f"response_{f:03d}.json"), "w") as fh:
            fh.write(body)
        total += len(body)
    source = pa.table({
        "order_id": cols["o_orderkey"], "customer_id": cols["o_custkey"],
        "order_status": cols["o_orderstatus"], "total_price": cols["o_totalprice"],
        "year": pa.array(years.astype(np.int64)), "order_date": cols["o_orderdate"],
        "order_priority": cols["o_orderpriority"]})
    return source, total
