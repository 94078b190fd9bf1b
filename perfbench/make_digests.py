#!/usr/bin/env python3
"""Makes mix_digests.json: the expected result of every llm_query_mix
query, computed by DuckDB from SparkEntry.oracleSql over the
benchmark's copy of the sf0.01 tables. Run once when the mix or its
data changes; the benchmark compares Spark's results against these.

    java ... graft.Verify perfbench/data/sf0.01 OUT <query names,…>
    python3 perfbench/make_digests.py OUT/oracle_sql.json

(graft.Verify writes oracle_sql.json, the oracle SQL of every query.)
Renders cells exactly as perfbench.Mix.digest does.
"""
import datetime
import decimal
import hashlib
import json
import os
import struct
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)


def cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "d%016x" % struct.unpack(">Q", struct.pack(">d", v + 0.0))[0]
    if isinstance(v, decimal.Decimal):
        return "0" if v == 0 else format(v.normalize(), "f")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return "t%d" % ((d.days * 86400 + d.seconds) * 1000000 +
                        d.microseconds)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return str(v)


def digest(columns, rows):
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\t".join(cell(r[i]) for i in idx) for r in rows)
    sha = hashlib.sha256("\t".join(columns[i] for i in idx).encode())
    for line in lines:
        sha.update(b"\n" + line.encode())
    return sha.hexdigest()


def main(oracle_file):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(DATA, t)}.parquet'")
    with open(oracle_file) as f:
        oracles = json.load(f)
    out = {}
    for name, sql in sorted(oracles.items()):
        res = con.execute(sql)
        columns = [d[0] for d in res.description]
        out[name] = digest(columns, res.fetchall())
    with open(os.path.join(HERE, "mix_digests.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(out)} digests")


if __name__ == "__main__":
    main(sys.argv[1])
