"""Seeded fixture tables for the registry_heavy workload.

Writes the ten tables the registry reads (the TPC-H-ish star schema plus
events, documents and embeddings), with the column names and types of the
fixtures in TESTDATA.md that the registry was written against. Every value
is drawn from one numpy generator seeded by the benchmark seed, so the same
seed gives the same bytes. Monetary values carry at most two decimals, which
the registry's exact decimal sums rely on.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table. Kept small: at this size an entry's cost is mostly the
# plan build and per-stage scheduling the benchmark wants to weigh, and a
# whole pass over the chosen entries stays within a few seconds.
ROWS = {
    "customer": 150, "supplier": 10, "part": 200, "orders": 1500,
    "events": 1000, "documents": 500, "embeddings": 500,
}
WORDS = ("the stream query row key order table scan merge part window join slow "
         "agg column a vector fast small spark group customer line sort hash "
         "batch dup data filter value big").split()
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng, start, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def tables(seed):
    rng = np.random.default_rng(seed)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = ROWS["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n).tolist()})
    n = ROWS["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = ROWS["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(["cold", "small", "bright", "heavy", "red"], n),
            rng.choice(["widget", "gadget", "bolt", "gear"], n))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": rng.choice(["PROMO", "ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL"],
                             n).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(n) % 200 * 0.1, 2)})
    n = ROWS["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2400, n), pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n).tolist()})
    lines = rng.integers(1, 8, ROWS["orders"])
    n = int(lines.sum())
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(ROWS["orders"]), lines), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]),
                                 pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(float),
        "l_extendedprice": _money(rng, 900.0, 100000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], n).tolist(),
        "l_linestatus": rng.choice(["O", "F"], n).tolist(),
        "l_shipdate": pa.array(_days(rng, "1995-01-01", 2500, n), pa.timestamp("us"))})
    n = ROWS["events"]
    # events spread over thirty days, as in the TESTDATA.md fixtures
    gaps = rng.integers(0, 2 * 30 * 86400 * 10**6 // n, n)
    t["events"] = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + np.cumsum(gaps).astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, n), pa.int64()),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n).tolist(),
        "value": _money(rng, 0.01, 500.0, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    n = ROWS["documents"]
    texts = [" ".join(rng.choice(WORDS, k)) for k in rng.integers(10, 100, n)]
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr", "es", "zh"], n, p=[.4, .15, .15, .15, .15]).tolist(),
        "source": [f"src{i}" for i in rng.integers(0, 17, n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})
    n = ROWS["embeddings"]
    vecs = rng.normal(0.0, 0.125, (n, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})
    return t


def write(seed, out_dir):
    """Write every table as `<out_dir>/<name>.parquet`; idempotent per seed."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
