"""Seeded input generator for the benchmark.

Two kinds of input:

* `tables(out, scale, seed)` writes the star-schema parquet tables the query
  registry reads (region, nation, customer, supplier, part, orders, lineitem,
  events, documents, embeddings), with the column names, types and value
  ranges of the engine's testdata layout. `scale` is in lineitem rows.
* `etl_batch(out, n_sales, seed)` writes one dirty landing batch for the
  nightly job: `sales.csv` and `customers.csv` carrying the dirt classes the
  cleaning stage exists for (dedup-key duplicates whose other columns differ,
  null customer ids, null and unparseable dates, bad emails, missing region
  and category).

Both are pure functions of their arguments: the same seed gives the same
bytes.
"""
import csv
import io
from datetime import date, datetime, timedelta
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "rod", "widget", "anvil", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

EPOCH = date(1970, 1, 1)


def _days(d):
    return (d - EPOCH).days


def _write(tbl, path):
    pq.write_table(tbl, path, compression="snappy")


def tables(out, scale, seed):
    out = Path(out)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_line = int(scale)
    n_orders = max(n_line // 4, 100)
    n_cust = max(n_line // 40, 50)
    n_part = max(n_line // 30, 64)
    n_supp = max(n_line // 600, 10)
    n_events = max(n_line // 6, 1000)
    n_docs = max(n_line // 120, 200)
    n_vecs = max(n_line // 300, 200)

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), out / "region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           out / "nation.parquet")

    def money(lo, hi, n):
        return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)

    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)}), out / "customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)}), out / "supplier.parquet")
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(0, 25, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)}),
        out / "part.parquet")

    d0, d1 = _days(date(1995, 1, 1)), _days(date(2001, 8, 1))
    odays = rng.integers(d0, d1 + 1, n_orders)
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": money(1000, 500000, n_orders),
        "o_orderdate": pa.array((odays * 86400 * 1_000_000).astype("int64"),
                                pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders)}), out / "orders.parquet")

    okey = rng.integers(0, n_orders, n_line)
    ship = odays[okey] + rng.integers(1, 122, n_line)
    qty = rng.integers(1, 51, n_line).astype("float64")
    _write(pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": money(900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": pa.array((ship * 86400 * 1_000_000).astype("int64"),
                               pa.timestamp("us"))}), out / "lineitem.parquet")

    t0 = int(datetime(2024, 1, 1).timestamp()) * 1_000_000
    span = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(t0, t0 + span, n_events))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_events), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(60.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]}),
        out / "events.parquet")

    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(WORDS, k)))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        out / "documents.parquet")

    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}), out / "embeddings.parquet")
    return {"lineitem": n_line, "orders": n_orders, "customer": n_cust,
            "part": n_part, "supplier": n_supp, "events": n_events,
            "documents": n_docs, "embeddings": n_vecs}


def etl_batch(out, n_sales, seed):
    """One dirty landing batch; returns rows and bytes written."""
    out = Path(out)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(n_sales // 40, 50)
    n_prod = max(n_sales // 200, 20)
    prod_name = [f"{PART_ADJ[i % 8]} {PART_NOUN[(i // 8) % 8]} {i}" for i in range(n_prod)]
    prod_cat = rng.choice(["Electronics", "Home", "Garden", "Toys", "Books", "Sports"], n_prod)
    d0 = _days(date(2023, 1, 1))

    def day(n):
        return (EPOCH + timedelta(days=int(n))).isoformat()

    n_base = int(n_sales * 0.92)
    order = rng.integers(1, max(n_base // 3, 10), n_base)
    prod = rng.integers(0, n_prod, n_base)
    qty = rng.integers(1, 21, n_base)
    cents = rng.integers(99, 50000, n_base)
    cust = rng.integers(1, n_cust + 1, n_base)
    days = rng.integers(d0, d0 + 365, n_base)
    rows = []
    for i in range(n_base):
        rows.append([str(order[i]), str(cust[i]), f"P{prod[i]:05d}", prod_name[prod[i]],
                     str(qty[i]), f"{cents[i] / 100:.2f}", day(days[i]), prod_cat[prod[i]]])
    # dedup-key duplicates whose non-key columns differ: keep-first matters
    for i in rng.integers(0, n_base, n_sales - n_base):
        r = list(rows[i])
        r[1] = str(int(rng.integers(1, n_cust + 1)))
        r[6] = day(int(rng.integers(d0, d0 + 365)))
        r[7] = "Returns"
        rows.append(r)
    perm = rng.permutation(len(rows))
    rows = [rows[i] for i in perm]
    dirt = rng.random((len(rows), 4))
    for r, p in zip(rows, dirt):
        if p[0] < 0.03:
            r[1] = ""                       # null customer_id
        if p[1] < 0.02:
            r[6] = ""                       # null order_date
        elif p[1] < 0.035:
            r[6] = "not-a-date" if p[1] < 0.028 else "N/A"
        if p[2] < 0.04:
            r[7] = ""                       # missing category
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(["order_id", "customer_id", "product_id", "product_name",
                "quantity", "unit_price", "order_date", "category"])
    w.writerows(rows)
    sales = buf.getvalue().encode()
    (out / "sales.csv").write_bytes(sales)

    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(["customer_id", "customer_name", "email", "registration_date", "region"])
    cdirt = rng.random((n_cust, 4))
    for c in range(1, n_cust + 1):
        p = cdirt[c - 1]
        cid = "" if p[0] < 0.02 else str(c)
        email = f"user{c}@example.com" if p[1] >= 0.1 else (
            f"user{c}.example.com" if p[1] < 0.05 else f"user{c}@@bad")
        reg = day(int(d0 - 700 + (c * 37) % 700))
        if p[2] < 0.05:
            reg = "not-a-date"
        region = "" if p[3] < 0.08 else REGIONS[c % 5]
        w.writerow([cid, f"Customer {c}", email, reg, region])
    cust_b = buf.getvalue().encode()
    (out / "customers.csv").write_bytes(cust_b)
    return {"sales_rows": len(rows), "customer_rows": n_cust,
            "bytes": len(sales) + len(cust_b)}
