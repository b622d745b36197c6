#!/usr/bin/env python3
"""Regenerate oracle/digests.json: the DuckDB result digest of every
query in the query_mix workload, on the committed sf0.01 tables.

    python3 perfbench/oracle/make_digests.py      (from the checkout root)

The oracle SQL comes from `SparkEntry.oracleSql` (dumped by the harness's
`perfbench.OracleSql` main); the digest is the one `perfbench.Digest`
computes over Spark's rows: columns in lower-cased name order, one token
per value, rows sorted, SHA-256 over the lines.
"""
import datetime
import decimal
import hashlib
import json
import os
import struct
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
DATA = os.path.join(BENCH, "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)


def flt(x):
    x = float(x)
    if x == 0.0:
        x = 0.0
    if x != x:
        x = float("nan")
    return "f:%016x" % struct.unpack(">Q", struct.pack(">d", x))[0]


def token(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b:true" if v else "b:false"
    if isinstance(v, int):
        return "i:%d" % v
    if isinstance(v, (float, decimal.Decimal)):
        return flt(v)
    if isinstance(v, str):
        return "s:" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "t:%d" % ((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return "d:%d" % (v - EPOCH.date()).days
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x:" + bytes(v).hex()
    if isinstance(v, dict):
        return "r(" + ",".join(token(x) for x in v.values()) + ")"
    if isinstance(v, (list, tuple)):
        return "a[" + ",".join(token(x) for x in v) + "]"
    raise TypeError("no digest token for %r" % type(v))


def digest(con, sql):
    rel = con.sql(sql)
    names = rel.columns
    order = sorted(range(len(names)), key=lambda i: names[i].lower())
    lines = sorted("\x01".join(token(row[i]) for i in order) for row in rel.fetchall())
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return {"rows": len(lines), "sha256": h.hexdigest()}


def main():
    sys.path.insert(0, BENCH)
    import run  # reuse the harness build
    os.chdir(ROOT)
    run.build()
    with open(run.CLASSPATH) as fh:
        cp = fh.read().strip()
    sql_file = os.path.join(run.BUILD, "oracle_sql.json")
    subprocess.run(["java", "-cp", cp, "perfbench.OracleSql", sql_file], check=True)
    with open(sql_file) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    out = {}
    for name, sql in oracle.items():
        out[name] = digest(con, sql)
        print(name, out[name], file=sys.stderr)
    with open(os.path.join(HERE, "digests.json"), "w") as fh:
        json.dump({"duckdb": duckdb.__version__, "tables": "perfbench/data/sf0.01", **out},
                  fh, indent=2, sort_keys=False)
        fh.write("\n")


if __name__ == "__main__":
    main()
