"""Canonical result digest, the Python twin of perfbench/src/perfbench/Canon.scala.

Both sides write every value in the same typed text form (see Canon.scala
for the table), take columns in name order and hash a header line plus one
line per row with SHA-256. A DuckDB result and a Spark result digest alike
exactly when `scripts/check.py` would call them equal, row order included.
"""
import datetime
import decimal
import hashlib
import struct

_EPOCH_DATE = datetime.date(1970, 1, 1)
_EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def _dbl(x):
    if x != x:
        return "fNaN"
    return "f%016x" % struct.unpack(">Q", struct.pack(">d", x))[0]


def value(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return "i%d" % v
    if isinstance(v, float):
        return _dbl(v)
    if isinstance(v, decimal.Decimal):
        return _dbl(float(v))
    if isinstance(v, str):
        return "s%d:%s" % (len(v.encode("utf-8")), v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        d = v - _EPOCH
        return "T%d" % ((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, datetime.date):
        return "D%d" % (v - _EPOCH_DATE).days
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(value(x) for x in v.values()) + "}"
    raise TypeError("no canonical form for %r" % type(v))


def digest(names, rows, unordered=False):
    """(row count, hex SHA-256) of `rows`, tuples in the order of `names`."""
    order = sorted(range(len(names)), key=lambda i: names[i])
    lines = ["|".join(value(r[i]) for i in order) for r in rows]
    if unordered:
        lines.sort()
    h = hashlib.sha256()
    h.update(("cols:" + ",".join(names[i] for i in order) + "\n").encode("utf-8"))
    for line in lines:
        h.update((line + "\n").encode("utf-8"))
    return len(lines), h.hexdigest()


def duckdb_digest(con, sql):
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    return digest(names, cur.fetchall())
