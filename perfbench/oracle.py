"""Expected row counts and content fingerprints from the DuckDB oracles.

`expected(data_dir, sql_dir)` runs each `<sql_dir>/<query>.sql` (the
oracle SQL the engine itself publishes through `SparkEntry.oracleSqlFor`)
in DuckDB over views of the dataset's parquet tables and returns
{query: (rows, fingerprint)}. The fingerprint must agree bit for bit with
`graft.perfbench.Fingerprint`: see that file for the canonical form.
"""
import datetime as dt
import decimal
import hashlib
import math
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

_POW10 = [1.0]
for _ in range(22):
    _POW10.append(_POW10[-1] * 10)
_EPOCH = dt.datetime(1970, 1, 1)


def _scaled(x, e):
    while e > 0:
        s = min(e, 22)
        x /= _POW10[s]
        e -= s
    while e < 0:
        s = min(-e, 22)
        x *= _POW10[s]
        e += s
    return x


def canon_double(x):
    if math.isnan(x):
        return "nan"
    if math.isinf(x):
        return "inf" if x > 0 else "-inf"
    if x == 0.0:
        return "0"
    e = math.floor(math.log10(abs(x))) - 5
    m = math.floor(_scaled(x, e) + 0.5)
    if abs(m) >= 1000000:
        e += 1
        m = math.floor(_scaled(x, e) + 0.5)
    if abs(m) < 100000:
        e -= 1
        m = math.floor(_scaled(x, e) + 0.5)
    return f"{m}e{e}"


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return canon_double(v)
    if isinstance(v, decimal.Decimal):
        return canon_double(float(v))
    if isinstance(v, int):
        return str(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        d = v - _EPOCH
        return str((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, dt.date):
        return str((v - _EPOCH.date()).days * 86400000000)
    if isinstance(v, str):
        return v
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "0x" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    return str(v)


def fingerprint(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        line = "\x1f".join(canon(r[i]) for i in order)
        total = (total + int.from_bytes(hashlib.md5(line.encode("utf-8")).digest()[:8], "big")) % (1 << 64)
    return len(rows), f"{total:016x}"


def expected(data_dir, sql_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for f in sorted(os.listdir(sql_dir)):
        if not f.endswith(".sql"):
            continue
        with open(os.path.join(sql_dir, f)) as fh:
            rel = con.sql(fh.read())
        out[f[:-4]] = fingerprint(list(rel.columns), rel.fetchall())
    return out
