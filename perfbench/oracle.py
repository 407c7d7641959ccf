"""Canonical digests of the DuckDB oracles the benchmark checks against.

    python3 perfbench/oracle.py <data_dir> <oracle_sql.json> <out.json>
    python3 perfbench/oracle.py --lines <data_dir> <oracle_sql.json> <query>

Each query's oracle SQL (written by the harness from the engine's
`SparkEntry.oracleSql`) runs in DuckDB over the input tables. The result
is canonicalized exactly as `perfbench.Digest` canonicalizes a Spark
result: columns sorted by name, each value type-tagged, doubles rounded
to 9 decimals (dev/check_oracle.py's comparison), rows sorted, SHA-256.
"""
import datetime
import decimal
import hashlib
import json
import math
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)


def dbl(v):
    if math.isnan(v):
        return "dNaN"
    if math.isinf(v):
        return "dInf" if v > 0 else "d-Inf"
    s = format(v, ".9f")
    return "d" + (s[1:] if s.startswith("-") and float(s) == 0 else s)


def value(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return dbl(v)
    if isinstance(v, decimal.Decimal):
        return "m" + format(v, "f")
    if isinstance(v, str):
        return json.dumps(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "t" + str((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return "D" + v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "b" + v.hex()
    if isinstance(v, dict):
        if set(v) == {"key", "value"} and isinstance(v["key"], list):
            pairs = zip(v["key"], v["value"])
            return "<" + ",".join(sorted(value(k) + "=" + value(w) for k, w in pairs)) + ">"
        return "{" + ",".join(value(w) for w in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(w) for w in v) + "]"
    return json.dumps(str(v))


def lines_of(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(value(r[i]) for i in order) for r in rows)


def digest(cols, rows):
    lines = lines_of(cols, rows)
    h = hashlib.sha256(",".join(sorted(cols)).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return {"digest": h.hexdigest(), "rows": len(rows), "cols": sorted(cols)}


def connect(data):
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def main(data, sql_file, out):
    con = connect(data)
    result = {}
    for name, sql in sorted(json.load(open(sql_file)).items()):
        rel = con.sql(sql)
        result[name] = digest(rel.columns, rel.fetchall())
    with open(out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    if sys.argv[1] == "--lines":
        # python3 perfbench/oracle.py --lines <data_dir> <oracle_sql.json> <query>
        con = connect(sys.argv[2])
        rel = con.sql(json.load(open(sys.argv[3]))[sys.argv[4]])
        print("\n".join(lines_of(rel.columns, rel.fetchall())))
    else:
        main(*sys.argv[1:4])
