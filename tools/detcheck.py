#!/usr/bin/env python3
"""Run-to-run determinism check: load the same query's Spark output from
two independent Verify runs (possibly different cpu counts or code
versions) and diff the value multisets, then diff the two runs'
`oracle_sql.json` byte for byte. Catches nondeterministic queries before
the driver's hash compare does, and proves a catalog refactor left every
result and every oracle text unchanged.

Usage: python3 tools/detcheck.py <outDirA> <outDirB>
"""
import json, os, sys
import duckdb


def rows(con, path):
    got = con.execute(f"SELECT * FROM '{path}/*.parquet'")
    cols = [d[0] for d in got.description]
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in got.fetchall():
        rr = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)
                if v == -0.0:
                    v = 0.0
            rr.append(v)
        out.append(tuple(rr))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in idx], out


def oracle_diffs(a, b):
    """Names whose oracle SQL was added, removed or changed between runs."""
    def load(root):
        with open(os.path.join(root, "oracle_sql.json")) as fh:
            return json.load(fh)
    oa, ob = load(a), load(b)
    out = []
    for name in sorted(set(oa) | set(ob)):
        if name not in oa:
            out.append(f"FAIL {name}: oracle added in {b}")
        elif name not in ob:
            out.append(f"FAIL {name}: oracle removed in {b}")
        elif oa[name] != ob[name]:
            out.append(f"FAIL {name}: oracle text changed")
    return len(set(oa) | set(ob)), out


def main(a, b):
    con = duckdb.connect()
    # union of both runs: a query that FAILED in one run (Verify writes
    # no dir for it) must surface as a diff, not be silently skipped
    def dirs(root):
        return {n for n in os.listdir(root)
                if os.path.isdir(os.path.join(root, n))}
    names = sorted(dirs(a) | dirs(b))
    n_pass = n_fail = 0
    for name in names:
        pa, pb = os.path.join(a, name), os.path.join(b, name)
        if not os.path.isdir(pa) or not os.path.isdir(pb):
            missing = a if not os.path.isdir(pa) else b
            print(f"FAIL {name}: missing in {missing}")
            n_fail += 1
            continue
        ca, ra = rows(con, pa)
        cb, rb = rows(con, pb)
        if ca != cb:
            print(f"FAIL {name}: column mismatch {ca} vs {cb}")
            n_fail += 1
        elif ra != rb:
            bad = [(x, y) for x, y in zip(ra, rb) if x != y][:3]
            print(f"FAIL {name}: {len(ra)} vs {len(rb)} rows, first diff: "
                  f"{bad}")
            n_fail += 1
        else:
            n_pass += 1
    print(f"== determinism: {n_pass} identical / {n_fail} differ ==")
    n_oracles, bad = oracle_diffs(a, b)
    for line in bad:
        print(line)
    print(f"== oracles: {n_oracles - len(bad)} identical / {len(bad)} differ ==")
    sys.exit(1 if n_fail or bad else 0)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
