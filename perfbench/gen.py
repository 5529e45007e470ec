"""Seeded fixture generator for the benchmark.

Writes the ten fixture tables the engine's query packs read (`graft.Tables.names`)
as single-row-group snappy parquet files with the same schemas, key ranges and
value domains as the engine's star-schema test fixture, so every gate query and its
DuckDB oracle run unchanged. The same (seed, sf) always yields the same bytes.

    python3 perfbench/gen.py <out_dir> <sf> <seed> [csv]

With `csv` (the serving workload), generation stops after `orders`, and
customer and orders are also written as header-less CSV for its COPY.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the key agg row scan slow fast table value part hash merge batch spark "
         "line sort window big small data column join order customer query stream "
         "group filter vector").split()
ADJ = "blue hot small old red new cold large".split()
NOUN = "bolt gear anvil widget ring rod plate gizmo".split()
TYPES = "ECONOMY SMALL STANDARD LARGE MEDIUM PROMO".split()
SEGMENTS = "MACHINERY AUTOMOBILE BUILDING HOUSEHOLD FURNITURE".split()
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = "click signup error view purchase".split()
LANGS = ("en",) * 3 + ("fr", "zh", "de", "es")
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def sizes(sf):
    n = lambda k: max(1, int(round(k * sf)))
    return {
        "customer": n(150_000), "supplier": max(10, n(10_000)), "part": n(200_000),
        "orders": n(1_500_000), "events": n(1_000_000),
        "documents": max(500, n(50_000)), "embeddings": max(500, n(20_000)),
    }


def pick(rng, choices, n):
    return np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)]


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy", row_group_size=1 << 30)


def write_csv(out, name, cols):
    """Header-less CSV of a generated table, as COPY ... FORMAT CSV reads it."""
    def cell(v):
        return v.strftime("%Y-%m-%d %H:%M:%S") if hasattr(v, "strftime") else str(v)
    rows = pa.table(cols).to_pylist()
    with open(os.path.join(out, f"{name}.csv"), "w") as f:
        for r in rows:
            f.write(",".join(cell(v) for v in r.values()) + "\n")


def generate(out, sf, seed, csv=False):
    rng = np.random.default_rng(seed)
    z = sizes(sf)
    os.makedirs(out, exist_ok=True)
    write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                          "r_name": [f"REGION_{i}" for i in range(5)]})
    write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                          "n_name": [f"NATION_{i}" for i in range(25)],
                          "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = z["customer"]
    customer = {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": pick(rng, SEGMENTS, nc).tolist()}
    write(out, "customer", customer)
    ns = z["supplier"]
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, ns)})
    npart = z["part"]
    write(out, "part", {
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": (pick(rng, ADJ, npart) + " " + pick(rng, NOUN, npart)).tolist(),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": pick(rng, TYPES, npart).tolist(),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)})
    no = z["orders"]
    odate = EPOCH_1995 + rng.integers(0, 2400, no) * DAY_US
    orders = {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pick(rng, ("O", "F", "P"), no).tolist(),
        "o_totalprice": money(rng, 900.0, 500_000.0, no),
        "o_orderdate": ts(odate),
        "o_orderpriority": pick(rng, PRIORITIES, no).tolist()}
    write(out, "orders", orders)
    if csv:
        # the serving workload reads only these two
        write_csv(out, "customer", customer)
        write_csv(out, "orders", orders)
        return
    per = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no), per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per]) if no else np.zeros(0)
    nl = len(okey)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    write(out, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pick(rng, ("A", "N", "R"), nl).tolist(),
        "l_linestatus": pick(rng, ("O", "F"), nl).tolist(),
        "l_shipdate": ts(np.repeat(odate, per) + rng.integers(1, 122, nl) * DAY_US)})
    ne = z["events"]
    write(out, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": ts(np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, ne))),
        "user_id": pa.array(rng.integers(0, max(150, nc // 10), ne), pa.int64()),
        "event_type": pick(rng, EVENT_TYPES, ne).tolist(),
        "value": money(rng, 0.01, 490.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = z["documents"]
    lens = rng.integers(20, 80, nd)
    words = pick(rng, VOCAB, int(lens.sum()))
    texts, at = [], 0
    for k in lens:
        texts.append(" ".join(words[at:at + k]))
        at += k
    write(out, "documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": pick(rng, LANGS, nd).tolist(),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nv = z["embeddings"]
    labels = rng.integers(0, 10, nv)
    vecs = (rng.normal(0.0, 0.13, (nv, 64)) + rng.normal(0.0, 0.02, (10, 64))[labels])
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]), csv="csv" in sys.argv[4:])
