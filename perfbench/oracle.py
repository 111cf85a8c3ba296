"""Checks suite results against their DuckDB oracle SQL.

Each query's Spark result (one parquet directory per query) is compared with
the result of its oracle SQL run by DuckDB over the same generated tables:
column names and types (up to encodings a value hash cannot see), row count,
and the multiset of rows with doubles rounded to 6 places.
"""
import json
import os

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _norm_type(t):
    s = str(t).replace("large_string", "string").replace("large_binary", "binary")
    if s.startswith("timestamp"):
        return "timestamp"
    if s.startswith("decimal"):
        return "decimal(*,%s)" % s[s.index("(") + 1:-1].split(",")[1].strip()
    if s.startswith("list<") or s.startswith("large_list<"):
        inner = s[s.index("<") + 1:-1]
        return "list<%s>" % _norm_type(inner.split(": ", 1)[-1])
    return s


def _canon(table):
    cols = sorted(f.name for f in table.schema)
    types = [_norm_type(table.schema.field(c).type) for c in cols]
    rows = []
    for r in table.to_pylist():
        row = []
        for c in cols:
            v = r[c]
            if isinstance(v, float):
                v = round(v, 6) + 0.0
            row.append(v)
        rows.append(tuple(row))
    rows.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return cols, types, rows


def check(data_dir, out_dir, names):
    """Returns {query: None if it matches its oracle, else the reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle.json")) as fh:
        oracles = json.load(fh)
    verdicts = {}
    for name in names:
        spark_dir = os.path.join(out_dir, "out", name)
        if name not in oracles:
            verdicts[name] = "no oracle SQL"
            continue
        if not os.path.isdir(spark_dir):
            verdicts[name] = "no Spark output"
            continue
        try:
            got = _canon(con.execute(f"SELECT * FROM '{spark_dir}/*.parquet'").arrow())
            want = _canon(con.execute(oracles[name]).arrow())
        except Exception as e:  # a failing oracle or unreadable output fails the query
            verdicts[name] = f"error: {e}"
            continue
        if got[0] != want[0]:
            verdicts[name] = f"columns {got[0]} != {want[0]}"
        elif got[1] != want[1]:
            verdicts[name] = f"types {got[1]} != {want[1]}"
        elif len(got[2]) != len(want[2]):
            verdicts[name] = f"rows {len(got[2])} != {len(want[2])}"
        elif got[2] != want[2]:
            verdicts[name] = "values differ"
        else:
            verdicts[name] = None
    return verdicts
