"""Output check against DuckDB, with the rules of tools/compare.py.

Values are rendered type-tagged (so a BIGINT 5 and a DOUBLE 5.0 differ),
floats are rounded to 9 significant digits, and results are compared as
multisets unless the oracle SQL has a top-level ORDER BY, in which case
the row order must match too.

Expected outputs are DuckDB's answer to `SparkEntry.oracleSql(name)` on the
same parquet files. They are cached under the build directory, keyed by a
hash of the oracle SQL and of the data files, so a changed oracle or
changed data is recomputed, never reused.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import re
import threading
import time

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    """tools/compare.py's value rendering."""
    if isinstance(v, bool):
        return "b:" + str(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "dt:" + v.isoformat()
    if isinstance(v, datetime.date):
        return "d:" + v.isoformat()
    if isinstance(v, decimal.Decimal):
        return norm(float(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "f:NaN"
        if math.isinf(v):
            return "f:" + repr(v)
        r = round(v, 9) if abs(v) < 1 else round(v, max(0, 9 - int(math.log10(abs(v)))))
        return "f:" + repr(r)
    if isinstance(v, int):
        return "i:" + str(v)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    if isinstance(v, bytes):
        return v.hex()
    return v


def decode(tv):
    """A `[tag, payload]` value from the harness (perfbench/Rows.scala) as
    the Python value DuckDB's Arrow output gives for the same SQL type."""
    if tv is None:
        return None
    tag, x = tv
    if tag in ("b", "i", "s"):
        return x
    if tag == "f":
        return float(x)
    if tag == "dec":
        return decimal.Decimal(x)
    if tag == "d":
        return datetime.date.fromisoformat(x)
    if tag == "ts":
        return datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=x)
    if tag == "bin":
        return bytes.fromhex(x)
    if tag in ("a", "r"):
        return [decode(e) for e in x]
    if tag == "m":
        return {decode(k): decode(v) for k, v in x}
    raise ValueError(f"unknown value tag {tag!r}")


def freeze(v):
    """JSON round trip turns tuples into lists; turn them back."""
    return tuple(freeze(x) for x in v) if isinstance(v, (list, tuple)) else v


def canonical(columns, rows):
    """(sorted lower-case column names, rows projected in that order)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    cols = [columns[i].lower() for i in order]
    return cols, [tuple(norm(r[i]) for i in order) for r in rows]


def has_top_level_order_by(sql):
    """ORDER BY outside every parenthesis, string literal, quoted
    identifier and comment."""
    s = re.sub(r"--[^\n]*", " ", sql)
    s = re.sub(r"/\*.*?\*/", " ", s, flags=re.S)
    s = re.sub(r"'(?:[^']|'')*'", "''", s)
    s = re.sub(r'"(?:[^"]|"")*"', '""', s)
    depth, out = 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            out.append(ch)
            continue
        out.append(" ")
    return re.search(r"\border\s+by\b", "".join(out), flags=re.I) is not None


def sha256_text(s):
    return hashlib.sha256(s.encode()).hexdigest()


def data_hash(data_dir):
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(data_dir, name + ".parquet"), "rb") as fh:
            h.update(name.encode() + hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_duckdb(sql, data_dir, seconds):
    """DuckDB's answer, interrupted after `seconds`."""
    import duckdb
    con = duckdb.connect()
    timer = threading.Timer(max(0.0, seconds), con.interrupt)
    timer.start()
    try:
        con.execute("SET threads = 4")
        con.execute("SET memory_limit = '3GB'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        tbl = con.sql(sql).fetch_arrow_table()
    finally:
        timer.cancel()
        con.close()
    cols, rows = canonical(tbl.column_names, list(zip(*[c.to_pylist() for c in tbl.columns])))
    return {"columns": cols, "rows": rows}


class Oracle:
    """Expected outputs for one data directory, cached by SQL and data hash.
    DuckDB runs only until `deadline` (a time.monotonic() value)."""

    def __init__(self, data_dir, cache_dir, deadline):
        self.data_dir, self.cache_dir, self.deadline = data_dir, cache_dir, deadline
        self.data_sha = data_hash(data_dir)

    def expected(self, name, sql):
        key = sha256_text(sha256_text(sql) + self.data_sha)[:24]
        path = os.path.join(self.cache_dir, f"{name}-{key}.json")
        if os.path.exists(path):
            with open(path) as fh:
                exp = json.load(fh)
            return {"columns": exp["columns"], "rows": [freeze(r) for r in exp["rows"]]}
        exp = run_duckdb(sql, self.data_dir, self.deadline - time.monotonic())
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".tmp", "w") as fh:
            json.dump(exp, fh)
        os.replace(path + ".tmp", path)
        return exp


def compare(result, expected, ordered):
    """None when `result` (harness columns + tagged rows) matches
    `expected`; otherwise a one-line description of the first difference."""
    cols, rows = canonical(result["columns"], [tuple(decode(v) for v in r) for r in result["rows"]])
    if cols != expected["columns"]:
        return f"columns differ: engine={cols} duckdb={expected['columns']}"
    exp = list(expected["rows"])
    if not ordered:
        rows, exp = sorted(rows, key=repr), sorted(exp, key=repr)
    if rows == exp:
        return None
    diff = f"rows engine={len(rows)} duckdb={len(exp)}"
    for i, (a, b) in enumerate(zip(rows, exp)):
        if a != b:
            return f"{diff}; first difference at row {i}: engine={a} duckdb={b}"
    return diff
