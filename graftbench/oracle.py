"""DuckDB oracle compare for the query-floor workload.

The JVM writes each query's result to `<results>/<query>/` and the
oracle SQL to `<results>/oracle_sql.json`; this runs each oracle in
DuckDB over the same generated parquet tables and compares bit-exactly
(columns sorted by name, rows in order, floats by their IEEE-754 bytes),
the comparison `tools/localcheck.py --exact` makes. That tool itself
cannot be reused here: it opens all ten harness tables, and this
workload generates only the seven it reads."""
import glob
import json
import math
import os
import struct
import sys


def _same(x, y):
    if (x is None or str(x) == "NaT") and (y is None or str(y) == "NaT"):
        return True
    if isinstance(x, float) and isinstance(y, float):
        if math.isnan(x) and math.isnan(y):
            return True
        return struct.pack("d", x) == struct.pack("d", y)
    if isinstance(x, float) or isinstance(y, float):
        return False
    return x == y


def compare(data_dir, results_dir, queries):
    """Names of the queries whose result differs from the oracle (or
    could not be compared). Reasons go to stderr."""
    import duckdb
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        t = os.path.basename(p)[: -len(".parquet")]
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    wrong = set()

    def fail(q, why):
        print(f"oracle: {q}: {why}", file=sys.stderr)
        wrong.add(q)

    for q in queries:
        try:
            files = glob.glob(os.path.join(results_dir, q, "*.parquet"))
            if q not in oracle or not files:
                fail(q, "no result or no oracle")
                continue
            got = con.sql(f"SELECT * FROM '{os.path.join(results_dir, q)}/*.parquet'")
            want = con.sql(oracle[q])
            gc, wc = sorted(got.columns), sorted(want.columns)
            if [c.lower() for c in gc] != [c.lower() for c in wc]:
                fail(q, f"schema {gc} vs {wc}")
                continue
            gdf, wdf = got.df()[gc], want.df()[wc]
            kinds = [(gdf[a].dtype.kind, wdf[b].dtype.kind) for a, b in zip(gc, wc)]
            if any({p, r} == {"i", "f"} for p, r in kinds):
                fail(q, "integer vs float column")
                continue
            grows, wrows = gdf.values.tolist(), wdf.values.tolist()
            if len(grows) != len(wrows):
                fail(q, f"{len(grows)} rows vs {len(wrows)}")
                continue
            for i, (a, b) in enumerate(zip(grows, wrows)):
                if not all(_same(x, y) for x, y in zip(a, b)):
                    fail(q, f"row {i}: {a!r} != {b!r}")
                    break
        except Exception as e:  # a crashed compare is a failed check
            fail(q, f"{type(e).__name__}: {e}")
    return wrong
