"""Result digests and output checks for the graft benchmark.

`digest_rows` is the Python twin of `src/Digest.scala`: an order-independent
digest (row count, wrapping sum of each row's MD5 prefix over a canonical
text form, column names sorted) so a Spark result and its DuckDB oracle can
be compared without shipping either result across. The column order and
value canonicalization follow tools/compare_oracle.py: columns sorted by
name, 3 and 3.0 equal, floats otherwise exact.
"""
import datetime
import decimal
import hashlib
import math
import struct

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EXACT = 2 ** 53
MASK = 2 ** 64 - 1


def _num(d):
    if math.isnan(d):
        return "NaN"
    if math.isinf(d):
        return "Inf" if d > 0 else "-Inf"
    if d == math.floor(d) and abs(d) < EXACT:
        return str(int(d))
    return "%x" % struct.unpack(">Q", struct.pack(">d", d))[0]


def _stamp(t):
    if t.tzinfo is not None:
        t = t.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    s = t.strftime("%Y-%m-%d %H:%M:%S")
    return f"{s}.{t.microsecond:06d}" if t.microsecond else s


def canon(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v) if abs(v) < EXACT else _num(float(v))
    if isinstance(v, float):
        return _num(v)
    if isinstance(v, decimal.Decimal):
        return _num(float(v))
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        return _stamp(v)
    if isinstance(v, datetime.date):
        return _stamp(datetime.datetime(v.year, v.month, v.day))
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def digest_rows(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    total = 0
    for r in rows:
        s = "\x1f".join(canon(r[i]) for i in order)
        total = (total + int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")) & MASK
    return f"{len(rows)}:{total:016x}:{','.join(names[i] for i in order)}"


def oracle_digests(sf_dir, sql_by_query, threads=1):
    """DuckDB digest of each query's oracle SQL over the fixture tables."""
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for q, sql in sorted(sql_by_query.items()):
        rel = con.sql(sql)
        out[q] = digest_rows(rel.columns, rel.fetchall())
    con.close()
    return out


def warehouse_totals(glob):
    """(row count, sum(traffic)) of a parquet warehouse, read back by DuckDB."""
    con = duckdb.connect()
    n, s = con.execute(
        f"SELECT count(*), sum(traffic) FROM read_parquet('{glob}', hive_partitioning=false)").fetchone()
    con.close()
    return n, (s or 0.0)


def totals_match(got, want):
    """Row counts equal and traffic sums equal up to summation order."""
    (n, s), (wn, ws) = got, want
    return n == wn and math.isclose(s, ws, rel_tol=1e-9, abs_tol=1e-6)


def check_ops(workload, ops, oracle):
    """Per-op verdicts: a query's digest must equal its oracle digest; a
    file op must have committed exactly the file's rows."""
    bad = []
    for op in ops:
        if workload in ("query_mix", "heavy_plans"):
            q = op["name"].split("|")[0]
            ok = op["digest"] == oracle.get(q)
        else:
            ok = op["rows"] == op["expect_rows"]
        bad.append(not ok)
    return bad
