#!/usr/bin/env python3
"""Selftest for compare.py on a two-entry toy dump.

One entry has its output directory and matches its oracle: PASS. The
other has none: it must fail by name without its oracle SQL being run
(the SQL reads a table that does not exist, so running it would report
an exec error instead). One fail means exit code 1.
"""
import os, subprocess, sys, tempfile
import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from compare import TABLES  # noqa: E402

with tempfile.TemporaryDirectory() as d:
    sf, out = os.path.join(d, "sf"), os.path.join(d, "out")
    os.makedirs(sf)
    os.makedirs(os.path.join(out, "q_present"))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"COPY (SELECT range AS k FROM range(3)) "
                    f"TO '{sf}/{t}.parquet' (FORMAT PARQUET)")
    con.execute(f"COPY (SELECT range AS k FROM range(3)) "
                f"TO '{out}/q_present/part-0.parquet' (FORMAT PARQUET)")
    with open(os.path.join(out, "oracle_sql.json"), "w") as f:
        f.write('{"q_present": "SELECT k FROM region", '
                '"q_missing": "SELECT * FROM no_such_table"}')
    res = subprocess.run(
        [sys.executable, os.path.join(HERE, "compare.py"), sf, out],
        capture_output=True, text=True)
    lines = res.stdout.splitlines()
    assert "PASS q_present (3 rows)" in lines, res.stdout + res.stderr
    assert "FAIL q_missing: no output directory" in lines, res.stdout
    assert lines[-1] == "== 1 pass, 1 fail ==", res.stdout
    assert res.returncode == 1, res.returncode

print("selftest_compare: OK")
