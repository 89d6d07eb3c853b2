#!/usr/bin/env python3
"""Output check of a benchmark run: grades the result of every item the
run's check pass wrote, outside the timed region.

- oracle items: the DuckDB oracle SQL over the same input tables must give
  the same columns, dtype kinds and rows, in the same order, after the
  normalization of tools/check_correctness.py;
- shape items (no oracle): row count and schema must match expected.json;
- round-trip items: graded in the JVM (read-back == source).

Usage: python3 perfbench/check.py --expected OUT_DIR NAME... records the
shapes of the named items in expected.json, from a check pass's output
directory (.bench_build/perfbench/run/out after a run).
"""
import datetime
import decimal
import glob
import hashlib
import json
import math
import os
import pickle
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected.json")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def column_values(column):
    """A column's Python values, normalized where the type needs it."""
    import pyarrow as pa
    t, vals = column.type, column.to_pylist()
    if pa.types.is_integer(t) or pa.types.is_boolean(t) or pa.types.is_string(t) \
            or pa.types.is_large_string(t):
        return vals
    return [norm(v) for v in vals]


def read_output(out_dir, name):
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
    if not files:
        raise ValueError("no output written")
    return pq.read_table(files[0])


def shape(table):
    return {"rows": table.num_rows,
            "columns": [[f.name, str(f.type)] for f in table.schema]}


class Oracle:
    """Oracle results over the fixed input tables. A result depends only on
    its SQL text, so it is computed once per build directory and cached."""

    def __init__(self, data_dir, cache_dir):
        self.data_dir, self.cache_dir, self.con = data_dir, cache_dir, None

    def result(self, sql):
        """(sorted column names, normalized rows in that column order,
        pandas dtype kind per column)."""
        path = os.path.join(self.cache_dir, hashlib.sha256(sql.encode()).hexdigest() + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        if self.con is None:
            import duckdb
            self.con = duckdb.connect()
            for t in TABLES:
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                 f"read_parquet('{os.path.join(self.data_dir, t)}.parquet')")
        res = self.con.execute(sql)
        cols = [c[0] for c in res.description]
        rows = res.fetchall()
        # a comparison of pandas frames sees int-vs-float dtype kind
        # differences even where the Python values are equal
        kinds = {c: k.kind for c, k in self.con.execute(sql).df().dtypes.items()}
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = ([cols[i] for i in order],
               [tuple(norm(r[i]) for i in order) for r in rows], kinds)
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".tmp", "wb") as f:
            pickle.dump(out, f)
        os.replace(path + ".tmp", path)
        return out


def oracle_diff(oracle, table, sql):
    """None when `table` equals the oracle's result, else the first difference."""
    ocols, orows, okinds = oracle.result(sql)
    sdf = table.to_pandas()
    kind = {"i": "n", "u": "n", "f": "f"}
    for c in sdf.columns:
        if c in okinds:
            sk, ok = sdf[c].dtype.kind, okinds[c]
            if kind.get(sk, sk) != kind.get(ok, ok) and "O" not in (sk, ok):
                return f"dtype kind of {c}: {sdf[c].dtype} vs oracle kind {ok}"
    scols = sorted(table.column_names)
    srows = list(zip(*[column_values(table.column(c)) for c in scols]))
    if scols != ocols:
        return f"columns {scols} vs oracle {ocols}"
    if len(srows) != len(orows):
        return f"{len(srows)} rows vs oracle {len(orows)}"
    for i, (a, b) in enumerate(zip(srows, orows)):
        if a != b:
            diffs = [(c, x, y) for c, x, y in zip(scols, a, b) if x != y]
            return f"row {i} differs: {diffs[:3]}"
    return None


def grade(checks, data_dir, out_dir, cache_dir):
    """Map item name -> None (passed) or the reason it failed."""
    oracle = Oracle(data_dir, cache_dir)
    with open(EXPECTED) as f:
        expected = json.load(f)
    verdict = {}
    for c in checks:
        name = c["name"]
        try:
            if "error" in c:
                verdict[name] = "check pass threw: " + c["error"]
            elif c["kind"] == "roundtrip":
                verdict[name] = None if c["ok"] else "read-back differs from source"
            elif c["kind"] == "oracle":
                verdict[name] = oracle_diff(oracle, read_output(out_dir, name), c["sql"])
            elif name not in expected:
                verdict[name] = "no expected shape recorded"
            else:
                got = shape(read_output(out_dir, name))
                verdict[name] = None if got == expected[name] else \
                    f"shape {got} vs expected {expected[name]}"
        except Exception as e:  # a grading error fails the item, loudly
            verdict[name] = f"check error: {type(e).__name__}: {e}"
    return verdict


if __name__ == "__main__":
    if len(sys.argv) < 4 or sys.argv[1] != "--expected":
        sys.exit(__doc__)
    with open(EXPECTED) as f:
        shapes = json.load(f)
    for name in sys.argv[3:]:
        shapes[name] = shape(read_output(sys.argv[2], name))
    with open(EXPECTED, "w") as f:
        json.dump(shapes, f, indent=1, sort_keys=True)
        f.write("\n")
