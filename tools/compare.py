#!/usr/bin/env python3
"""Local self-check mirroring the driver's DuckDB-oracle compare.

Usage: python3 tools/compare.py <sfDir> <verifyOutDir>

For each entry of oracle_sql.json in <verifyOutDir>: run the oracle SQL in
DuckDB against the sf parquet tables, load the Spark result parquet, sort
columns by name, sort rows, and compare cell values (exact for non-floats,
tiny epsilon printout for floats to diagnose rounding-boundary flips). An
entry whose query dir the dump does not hold fails without running its
oracle SQL, so a subset dump is checked in seconds. This is a dev tool
only — the driver has its own comparator; NOT part of the Scala library.
"""
import json, math, os, sys
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        rr = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                elif v == 0.0:
                    v = 0.0  # normalize -0.0
            rr.append(v)
        out.append(tuple(rr))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if not os.path.isdir(f"{out_dir}/{name}"):
            print(f"FAIL {name}: no output directory")
            n_fail += 1
            continue
        try:
            o = con.execute(sql)
            ocols = [c[0] for c in o.description]
            orows = o.fetchall()
            sp = duckdb.connect().execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            scols = [c[0] for c in sp.description]
            srows = sp.fetchall()
        except Exception as e:
            print(f"FAIL {name}: exec error {e}")
            n_fail += 1
            continue
        oc, orw = canon(orows, ocols)
        sc, srw = canon(srows, scols)
        if oc != sc:
            print(f"FAIL {name}: schema mismatch oracle={oc} spark={sc}")
            n_fail += 1
            continue
        if len(orw) != len(srw):
            print(f"FAIL {name}: rows oracle={len(orw)} spark={len(srw)}")
            n_fail += 1
            continue
        bad = [(a, b) for a, b in zip(orw, srw) if a != b]
        if bad:
            # Epsilon diagnostic: flag float cells whose abs diff is tiny —
            # those are rounding-boundary flips, not logic errors.
            eps_only = all(
                all((x == y) or (isinstance(x, float) and isinstance(y, float)
                                 and abs(x - y) < 1e-6)
                    for x, y in zip(a, b))
                for a, b in bad)
            tag = " [all diffs are <1e-6 float deltas: rounding boundary]" \
                if eps_only else ""
            print(f"FAIL {name}: {len(bad)} differing rows{tag}; first: "
                  f"oracle={bad[0][0]} spark={bad[0][1]}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(orw)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
