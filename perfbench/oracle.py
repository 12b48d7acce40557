"""DuckDB side of the batch_queries output check: runs the product's
oracle SQL over the generated parquet tables and fingerprints each
result with the canonical form of Fingerprint.scala, so a query's
fingerprint from Spark can be compared with DuckDB's."""
import datetime
import decimal
import glob
import hashlib
import math
import os


def num(d):
    if math.isnan(d):
        return "f:nan"
    if math.isinf(d):
        return "f:inf" if d > 0 else "f:-inf"
    if d == 0.0:
        return "f:0"
    return "f:" + format(d, ".9e")


EPOCH = datetime.datetime(1970, 1, 1)


def canon(v):
    if v is None:
        return "n"
    if isinstance(v, bool):
        return "b:1" if v else "b:0"
    if isinstance(v, int):
        return "i:%d" % v
    if isinstance(v, (float, decimal.Decimal)):
        return num(float(v))
    if isinstance(v, str):
        return "s:" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return "t:%d" % ((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, datetime.date):
        return "d:" + v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "x:" + v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return "?:" + str(v)


def row_string(names, values):
    return "\x1f".join(n + "=" + canon(v) for n, v in sorted(zip(names, values), key=lambda p: p[0]))


def row_hash(s):
    return int.from_bytes(hashlib.sha256(s.encode("utf-8")).digest()[:8], "big", signed=True)


def fingerprint(names, rows):
    total = 0
    n = 0
    for r in rows:
        total = (total + row_hash(row_string(names, r))) & 0xFFFFFFFFFFFFFFFF
        n += 1
    return "%d:%016x" % (n, total)


def check(data_dir, oracle_sql, fingerprints):
    """[(query, ok, detail)] for every query with oracle SQL."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    out = []
    for q, sql in sorted(oracle_sql.items()):
        try:
            cur = con.execute(sql)
            names = [d[0] for d in cur.description]
            fp = fingerprint(names, cur.fetchall())
            out.append((q, fp == fingerprints[q], f"duckdb {fp} vs spark {fingerprints[q]}"))
        except Exception as e:  # a failing oracle query fails the check
            out.append((q, False, f"duckdb error: {e}"))
    return out
