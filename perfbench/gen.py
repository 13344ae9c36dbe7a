"""Input generators for the benchmark.

`tables(out_dir)` writes a TPC-H-like star schema plus the events,
documents and embeddings tables at scale factor 0.1, with the column
names and types of the engine's query fixtures. The tables are made from
a fixed seed, so every run reads the same data and its DuckDB answers can
be cached; the run seed only orders and parameterises the operations.

`ingest_files(seed, out_dir, ...)` writes the CSV arrivals of the
`ingest_trickle` workload and returns the rows the warehouse must hold
after each one, as the typed load would align them.
"""
import base64
import datetime as dt
import os
import random
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 20240601
SF = 0.1

NOUNS = ["anvil", "widget", "bolt", "ring", "gear", "valve", "spring", "lever"]
ADJS = ["small", "large", "blue", "hot", "red", "cold", "shiny", "old"]
VOCAB = ("a batch row sort query filter hash key group agg join scan order "
         "value window fast slow spark stream merge data table part line "
         "column vector big small index plan").split()


def _write(table, path):
    pq.write_table(table, path)


def _ts(days_or_secs, base, unit):
    origin = np.datetime64(base, "us")
    return (origin + days_or_secs.astype(f"timedelta64[{unit}]")).astype("datetime64[us]")


def tables(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_supp, n_part = int(150000 * SF), int(10000 * SF), int(200000 * SF)
    n_ord, n_li, n_ev = int(1500000 * SF), int(6000000 * SF), int(1000000 * SF)
    n_doc, n_emb = int(50000 * SF), int(20000 * SF)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out_dir}/nation.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}),
        f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out_dir}/supplier.parquet")
    names = np.array([f"{a} {n}" for a in ADJS for n in NOUNS])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part)
    _write(pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)}),
        f"{out_dir}/part.parquet")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(_ts(rng.integers(0, 2405, n_ord), "1995-01-01", "D")),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]}),
        f"{out_dir}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_ts(rng.integers(0, 2499, n_li), "1995-01-02", "D"))}),
        f"{out_dir}/lineitem.parquet")
    secs = np.sort(rng.integers(0, 30 * 86400 * 1000000, n_ev))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(_ts(secs, "2024-01-01", "us")),
        "user_id": pa.array(rng.integers(0, int(15000 * SF), n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.choice(5, n_ev, p=[0.4, 0.05, 0.1, 0.05, 0.4])],
        "value": np.round(rng.exponential(40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out_dir}/events.parquet")
    # documents: word salad with a share of near-duplicates, so the
    # dedup and similarity queries find clusters
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.15:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[w] for w in rng.integers(0, len(VOCAB), int(rng.integers(8, 95)))]
        texts.append(" ".join(words))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, n_doc)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out_dir}/documents.parquet")
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        f"{out_dir}/embeddings.parquet")


# --------------------------------------------------------------- ingest

HEADER = ["CustomerID", "NameStyle", "Title", "FirstName", "MiddleName",
          "LastName", "Suffix", "CompanyName", "SalesPerson", "EmailAddress",
          "Phone", "PasswordHash", "PasswordSalt", "rowguid", "ModifiedDate"]
FIRST = ["Orlando", "Keith", "Donna", "Janet", "Lucy", "Rosmarie", "Dominic",
         "Kathleen", "Katherine", "Johnny", "Christopher", "David", "John"]
LAST = ["Gee", "Harris", "Carreras", "Gates", "Harrington", "Carroll", "Gash",
        "Garza", "Harding", "Caprio", "Beck", "Liu", "Ferrier"]
COMPANY = ["A Bike Store", "Progressive Sports", "Advanced Bike Components",
           "Modular Cycle Systems", "Metropolitan Sports Supply",
           "Aerobic Exercise Company", "Associated Bikes", "Rural Cycle Emporium"]
SALES = ["pamela0", "david8", "jillian0", "garrett1", "jose1", "shu0", "linda3"]
ROWS = 846  # data rows of the reference customers fixture
BAD_SHARE = 0.02


def _b64(rng, n_bytes):
    return base64.b64encode(rng.randbytes(n_bytes)).decode()


def ingest_files(seed, out_dir, n_files):
    """Write `n_files` CSV arrivals; return the aligned rows of each file.

    A `BAD_SHARE` of CustomerID, NameStyle and ModifiedDate values is
    made unparseable for the column's type; the load keeps such a row
    with a NULL in that column."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    expected = []
    cid = 1
    for f in range(n_files):
        lines = [",".join(HEADER)]
        rows_out = []
        for _ in range(ROWS):
            cid += rng.randint(1, 30)
            first, last = rng.choice(FIRST), rng.choice(LAST)
            middle = "" if rng.random() < 0.4 else rng.choice("ABCDEJKLMPRST") + "."
            suffix = "Jr." if rng.random() < 0.01 else ""
            sales = rng.choice(SALES)
            when = dt.datetime(2005, 1, 1) + dt.timedelta(
                days=rng.randint(0, 1500), seconds=rng.randint(0, 86399))
            style = rng.random() < 0.05
            bad_id, bad_style, bad_when = (rng.random() < BAD_SHARE for _ in range(3))
            fields = [
                "N/A" if bad_id else str(cid),
                "maybe" if bad_style else ("TRUE" if style else "FALSE"),
                rng.choice(["Mr.", "Ms.", "Sr.", "Sra."]),
                first, middle, last, suffix, rng.choice(COMPANY),
                "adventure-works\\" + sales,
                f"{first.lower()}{rng.randint(0, 9)}@adventure-works.com",
                f"{rng.randint(100, 999)}-555-{rng.randint(0, 9999):04d}",
                _b64(rng, 32), _b64(rng, 5),
                "{" + str(uuid.UUID(int=rng.getrandbits(128))).upper() + "}",
                "2005-13-45 99:00:00" if bad_when else when.strftime("%Y-%m-%d %H:%M:%S"),
            ]
            lines.append(",".join(fields))
            rows_out.append((
                None if bad_id else cid,
                None if bad_style else style,
                *[v if v != "" else None for v in fields[2:14]],
                None if bad_when else when.strftime("%Y-%m-%d %H:%M:%S"),
            ))
        with open(os.path.join(out_dir, f"arrival_{f:05d}.csv"), "w") as fh:
            fh.write("\n".join(lines) + "\n")
        expected.append(rows_out)
    return expected

