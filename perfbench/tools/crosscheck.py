#!/usr/bin/env python3
"""Cross-check the expected catalog digests against the DuckDB oracles.

Usage: python3 perfbench/tools/crosscheck.py DATA_DIR DUMP_DIR

DUMP_DIR is written by `perfbench.Tools digests`, which derives each
expected digest from the same result it dumps there as parquet. For every
oracled query the dumped result must equal the oracle's: the same column
names and DuckDB column types, the same row count, and the same rows as a
multiset, with floats compared at 9 significant digits as in
scripts/check_correctness.py. Integer columns compare by value whatever
their width: q89's oracle sums into HUGEINT and q101/q102's oracles count
into INTEGER where the program returns BIGINT. Every other type must match
exactly, so a float where the oracle has an integer fails. Exits non-zero on
any mismatch.
"""
import json
import os
import re
import sys
from collections import Counter

import duckdb

INT = re.compile(r"\bU?(?:TINY|SMALL|BIG|HUGE)?INT(?:EGER)?\b")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def result(con, sql):
    r = con.sql(sql)
    return [(c, INT.sub("INT", str(t))) for c, t in zip(r.columns, r.types)], r.fetchall()


def rows_by_name(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i][0])
    return Counter("\x01".join(norm(r[i]) for i in order) for r in rows)


def main():
    data, dump = sys.argv[1], sys.argv[2]
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = 0
    for name in sorted(oracles):
        try:
            scols, srows = result(con, f"SELECT * FROM read_parquet('{dump}/{name}/*.parquet')")
            ocols, orows = result(con, oracles[name])
        except duckdb.Error as e:
            print(f"[ERR ] {name}: {str(e).splitlines()[0]}")
            bad += 1
            continue
        problems = []
        if sorted(c for c, _ in scols) != sorted(c for c, _ in ocols):
            problems.append(f"columns {sorted(scols)} vs oracle {sorted(ocols)}")
        elif sorted(scols) != sorted(ocols):
            problems.append(f"types {sorted(scols)} vs oracle {sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} vs oracle {len(orows)}")
        elif not problems and rows_by_name(scols, srows) != rows_by_name(ocols, orows):
            problems.append("values differ")
        print(f"[{'FAIL' if problems else ' OK '}] {name}: {len(srows)} rows " + " | ".join(problems))
        bad += bool(problems)
    print(f"{len(oracles) - bad} of {len(oracles)} oracled queries agree")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
