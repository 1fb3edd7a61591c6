"""Seeded TPC-H-like tables for the query-floor workload.

The tables follow the schema and value domains of graft's harness tables
(FIXTURES.md §B) at sf0.1 row counts, one parquet file per table at
`<dir>/<name>.parquet`, the harness layout. Every column is drawn from
one numpy generator seeded with `--seed`, so a seed always gives the same
files. Money columns are integer cents / 100.0, the correctly rounded
double of the decimal literal, so Spark and DuckDB read identical values.
Timestamps are microsecond TIMESTAMP without time zone, as in the
harness data."""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"region": 5, "nation": 25, "customer": 15000, "supplier": 1000,
        "part": 20000, "orders": 150000, "lineitem": 600000}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _pick(rng, n, choices):
    idx = pa.array(rng.integers(0, len(choices), n).astype(np.int32))
    return pa.DictionaryArray.from_arrays(idx, pa.array(choices)).dictionary_decode()


def _cents(rng, n, lo, hi):
    return pa.array(rng.integers(lo, hi + 1, n) / 100.0)


def _days(rng, n, start, span):
    d = np.datetime64(start, "D") + rng.integers(0, span, n)
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _ints(xs, t=pa.int64()):
    return pa.array(np.asarray(xs), t)


def tables(seed):
    """{name: pyarrow.Table} for the seed."""
    rng = np.random.Generator(np.random.PCG64(seed))
    r = ROWS
    out = {}
    out["region"] = pa.table({"r_regionkey": _ints(range(5), pa.int32()), "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": _ints(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": _ints([i % 5 for i in range(25)], pa.int32())})
    n = r["customer"]
    out["customer"] = pa.table({
        "c_custkey": _ints(np.arange(n)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": _ints(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _cents(rng, n, -99985, 999980),
        "c_mktsegment": _pick(rng, n, SEGMENTS)})
    n = r["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": _ints(np.arange(n)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": _ints(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _cents(rng, n, -97602, 998803)})
    n = r["part"]
    adj = np.array(ADJECTIVES)[rng.integers(0, len(ADJECTIVES), n)]
    noun = np.array(NOUNS)[rng.integers(0, len(NOUNS), n)]
    out["part"] = pa.table({
        "p_partkey": _ints(np.arange(n)),
        "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun).tolist()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, n, TYPES),
        "p_size": _ints(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": pa.array((9000 + np.arange(n) % 1000) / 10.0)})
    n = r["orders"]
    out["orders"] = pa.table({
        "o_orderkey": _ints(np.arange(n)),
        "o_custkey": _ints(rng.integers(0, r["customer"], n)),
        "o_orderstatus": _pick(rng, n, ["F", "O", "P"]),
        "o_totalprice": _cents(rng, n, 100191, 49999318),
        "o_orderdate": _days(rng, n, "1995-01-01", 2404),
        "o_orderpriority": _pick(rng, n, PRIORITIES)})
    n = r["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": _ints(rng.integers(0, r["orders"], n)),
        "l_partkey": _ints(rng.integers(0, r["part"], n)),
        "l_suppkey": _ints(rng.integers(0, r["supplier"], n)),
        "l_linenumber": _ints(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": _cents(rng, n, 90068, 10499991),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, n, ["A", "N", "R"]),
        "l_linestatus": _pick(rng, n, ["F", "O"]),
        "l_shipdate": _days(rng, n, "1995-01-02", 2498)})
    return out


def write(dir_, seed):
    """Write every table to `<dir_>/<name>.parquet`, starting from an
    empty directory."""
    shutil.rmtree(dir_, ignore_errors=True)
    os.makedirs(dir_)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(dir_, f"{name}.parquet"))
