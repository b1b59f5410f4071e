"""Seeded catalog tables with the schemas, sizes and distributions of
the engine's test corpus (TESTDATA.md): the TPC-H-shaped region,
nation, supplier, part, customer, orders and lineitem, and documents,
embeddings and events, written as one parquet file each. Every column
of the corpus is drawn independently and uniformly over its range, and
so is every column here; sizes scale with `sf` as the corpus's do.
"""
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.42, 0.15, 0.15, 0.14, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EPOCH = np.datetime64("1995-01-01", "us")


def days(rng, lo, hi, n):
    """Timestamps at midnight, `lo` to `hi` days after 1995-01-01."""
    return pa.array(EPOCH + rng.integers(lo, hi + 1, n).astype("timedelta64[D]"),
                    pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tpch(out_dir, rng, sf):
    n_supp, n_part, n_cust = int(10000 * sf), int(200000 * sf), int(150000 * sf)
    n_orders, n_lines = int(1500000 * sf), int(6000000 * sf)
    pq.write_table(pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    }), f"{out_dir}/region.parquet")
    pq.write_table(pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }), f"{out_dir}/nation.parquet")
    pq.write_table(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp),
    }), f"{out_dir}/supplier.parquet")
    keys = np.arange(n_part)
    pq.write_table(pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": np.char.add(np.char.add(rng.choice(PART_ADJ, n_part), " "),
                              rng.choice(PART_NOUN, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 1),
    }), f"{out_dir}/part.parquet")
    pq.write_table(pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": money(rng, 1000, 500000, n_orders),
        "o_orderdate": days(rng, 0, 2404, n_orders),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    }), f"{out_dir}/orders.parquet")
    pq.write_table(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_lines), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105000, n_lines),
        "l_discount": np.round(rng.uniform(0, 0.1, n_lines), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_lines), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
        "l_linestatus": rng.choice(["F", "O"], n_lines),
        "l_shipdate": days(rng, 1, 2499, n_lines),
    }), f"{out_dir}/lineitem.parquet")


def write(out_dir, seed, sf=0.1):
    rng = np.random.default_rng(seed)
    write_tpch(out_dir, rng, sf)
    n_cust, n_docs = int(150000 * sf), int(50000 * sf)
    n_vecs, n_events, n_users = int(20000 * sf), int(1000000 * sf), int(15000 * sf)

    pq.write_table(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    }), f"{out_dir}/customer.parquet")

    lengths = rng.integers(10, 101, n_docs)
    words = rng.choice(WORDS, lengths.sum())
    cut = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[cut[i]:cut[i + 1]]) for i in range(n_docs)]
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out_dir}/documents.parquet")

    labels = rng.integers(0, 10, n_vecs)
    centers = rng.uniform(-0.5, 0.5, (10, 64))
    raw = centers[labels] + rng.uniform(-0.4, 0.4, (n_vecs, 64))
    unit = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(unit), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), f"{out_dir}/embeddings.parquet")

    start = dt.datetime(2024, 1, 1)
    micros = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(np.datetime64(start, "us") + micros.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }), f"{out_dir}/events.parquet")
