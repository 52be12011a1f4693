"""Reference answers for the query workloads: runs each query's DuckDB
oracle SQL (``SparkEntry.oracleSql``) over the benchmark's tables and
digests the rows with the same canonical rendering as
``harness/Canon.scala``. Equal digests mean the result would pass
``dev/check_oracle.py``: same column names, same rows in the same order,
floats equal as float64.
"""
import calendar
import datetime as dt
import decimal
import glob
import hashlib
import os
import struct

import duckdb


def _float(v):
    if v != v:
        return "f:nan"
    if v == 0.0:
        return "f:0"
    return "f:%x" % struct.unpack(">Q", struct.pack(">d", v))[0]


def render(v, kind=""):
    """Canonical text of one value; ``kind`` is the DuckDB type string."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b:1" if v else "b:0"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        return _float(v)
    if isinstance(v, decimal.Decimal):
        return "m:0" if v == 0 else "m:" + format(v.normalize(), "f")
    if isinstance(v, str):
        return "s:" + v
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return f"t:{calendar.timegm(v.timetuple()) * 1_000_000 + v.microsecond}"
    if isinstance(v, dt.date):
        return f"t:{(v - dt.date(1970, 1, 1)).days * 86_400_000_000}"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x:" + bytes(v).hex()
    if isinstance(v, dict):
        if kind.startswith("MAP("):
            return "<" + ",".join(sorted(f"{render(k)}={render(x)}" for k, x in v.items())) + ">"
        return "{" + ",".join(f"{k}={render(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple)):
        inner = kind[:-2] if kind.endswith("[]") else ""
        return "[" + ",".join(render(x, inner) for x in v) + "]"
    return f"?{type(v).__name__}:{v}"


def digest(columns, kinds, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    md = hashlib.md5(",".join(sorted(columns)).encode())
    for row in rows:
        md.update(b"\n")
        md.update("\x01".join(render(row[i], kinds[i]) for i in order).encode())
    return md.hexdigest()


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def references(data_dir, sqls):
    """{query: digest or "error: ..."} for each {query: oracle SQL}."""
    con = connect(data_dir)
    out = {}
    for name in sorted(sqls):
        try:
            rel = con.sql(sqls[name])
            out[name] = digest(rel.columns, [str(t) for t in rel.types], rel.fetchall())
        except Exception as e:  # an oracle that cannot run fails its query
            out[name] = f"error: {type(e).__name__}: {str(e)[:200]}"
    con.close()
    return out
