"""Expected result digests from the DuckDB oracle.

`canon` and `digest` mirror perfbench/harness/perfbench/Digest.scala: the
same rows give the same md5 on both sides. The oracle SQL texts come from
`SparkEntry.oracleSql` (dumped by `Harness catalog`) and run against views
over the generated parquet inputs.
"""
import datetime
import decimal
import hashlib
import os
import struct

import duckdb

from inputs import TABLES, table_glob

_EPOCH = datetime.datetime(1970, 1, 1)
_EPOCH_TZ = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
_EPOCH_DAY = datetime.date(1970, 1, 1)
_US = datetime.timedelta(microseconds=1)


def canon(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b:1" if v else "b:0"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        if v != v:
            return "f:nan"
        if v == 0.0:
            return "f:0"
        return "f:" + format(struct.unpack("<Q", struct.pack("<d", v))[0], "x")
    if isinstance(v, decimal.Decimal):
        return canon(float(v))
    if isinstance(v, str):
        return "s:" + v
    if isinstance(v, datetime.datetime):
        base = _EPOCH if v.tzinfo is None else _EPOCH_TZ
        return f"t:{(v - base) // _US}"
    if isinstance(v, datetime.date):
        return f"D:{(v - _EPOCH_DAY).days}"
    if isinstance(v, (bytes, bytearray)):
        return "x:" + bytes(v).hex()
    if isinstance(v, dict):
        if set(v) == {"key", "value"} and isinstance(v["key"], list):
            return "{" + ",".join(sorted(canon(k) + "=>" + canon(x)
                                         for k, x in zip(v["key"], v["value"]))) + "}"
        return "(" + ",".join(canon(x) for x in v.values()) + ")"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return f"?:{v}"


def digest(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    md = hashlib.md5("\x1f".join(names[i] for i in order).encode())
    for r in rows:
        md.update(b"\x1e")
        md.update("\x1f".join(canon(r[i]) for i in order).encode())
    return md.hexdigest()


def connect(input_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=4")
    for t in TABLES:
        if not os.path.exists(os.path.join(input_dir, f"{t}.parquet")):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{table_glob(input_dir, t)}')")
    return con


def expected(sql_by_query, input_dir):
    """{query: digest} of each oracle SQL run in DuckDB on `input_dir`."""
    con = connect(input_dir)
    out = {}
    for q, sql in sql_by_query.items():
        cur = con.execute(sql)
        out[q] = digest([d[0] for d in cur.description], cur.fetchall())
    con.close()
    return out
