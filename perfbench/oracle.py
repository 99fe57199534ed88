"""DuckDB side of the correctness gate.

Runs each query's ``SparkEntry.oracleSql`` twin over the generated corpus
and reduces the result to the order-independent digest that
``graft.bench.Digest`` computes over the Spark result: columns sorted by
name, rows sorted, numbers compared by value (an integral float equals
the same integer, as in ``tools/check.py``), other floats by their IEEE
bits. Digests are cached by the SQL text and the input bytes, so a seed
pays for its oracle once.
"""
import decimal
import hashlib
import json
import math
import os
import struct

TWO_TO_53 = 2.0 ** 53


def cell(v):
    if v is None:
        return "n"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return "i%d" % v
    if isinstance(v, float):
        if math.isnan(v):
            return "dnan"
        if not math.isinf(v) and v == math.floor(v) and abs(v) < TWO_TO_53:
            return "i%d" % int(v)
        return "d" + struct.pack(">d", v).hex()
    if isinstance(v, str):
        return "s" + json.dumps(v)
    if isinstance(v, decimal.Decimal):
        s = format(v.normalize(), "f")
        return "x" + (s if "." not in s else s.rstrip("0").rstrip("."))
    if isinstance(v, dict):
        return "(" + ",".join(cell(x) for x in v.values()) + ")"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return "o" + str(v)


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(cell(r[i]) for i in order) for r in rows)
    text = ",".join(sorted(columns)) + "\n" + "\n".join(lines)
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def _file_hash(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


TABLES = ("documents", "embeddings")


def digests(data_dir, sqls, cache_dir, threads=4):
    """{query: digest} of the oracle twins over the tables in data_dir."""
    key = hashlib.sha256(json.dumps(sqls, sort_keys=True).encode("utf-8"))
    for t in TABLES:
        key.update(_file_hash(os.path.join(data_dir, t + ".parquet")).encode())
    path = os.path.join(cache_dir, key.hexdigest() + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    import duckdb
    con = duckdb.connect()
    con.sql("SET threads TO %d" % threads)
    for t in TABLES:
        con.sql("CREATE TABLE %s AS SELECT * FROM '%s'"
                % (t, os.path.join(data_dir, t + ".parquet")))
    out = {}
    for name in sorted(sqls):
        rel = con.sql(sqls[name])
        cols = [d[0] for d in rel.description]
        out[name] = digest(cols, rel.fetchall())
    con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = path + ".tmp%d" % os.getpid()
    with open(tmp, "w") as f:
        json.dump(out, f, sort_keys=True)
    os.replace(tmp, path)
    return out
