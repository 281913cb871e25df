"""Order-insensitive result digests, normalized the way the repo's oracle
check compares Spark output with DuckDB: columns sorted by name, rows
sorted, integers and floats kept apart (an int64 result never equals a
float64 one), floats compared bit-exactly, timestamps compared as instants
whatever their unit."""
import datetime as dt
import decimal
import hashlib
import json
import math

EPOCH = dt.datetime(1970, 1, 1)
EPOCH_DATE = dt.date(1970, 1, 1)


def canon(v):
    """One value as a JSON-able tagged tuple."""
    if v is None:
        return ["n"]
    if isinstance(v, bool) or type(v).__name__ == "bool_":
        return ["b", bool(v)]
    if hasattr(v, "dtype") and getattr(v, "shape", None) == ():
        kind = v.dtype.kind
        if kind in "iu":
            return ["i", int(v)]
        if kind == "f":
            return canon(float(v))
        if kind == "M":  # numpy datetime64 of any unit
            return ["t", int(v.astype("datetime64[ns]").astype("int64"))]
    if hasattr(v, "tolist") and hasattr(v, "dtype"):
        return ["l", [canon(x) for x in v.tolist()]]
    if isinstance(v, int):
        return ["i", v]
    if isinstance(v, float):
        if math.isnan(v):
            return ["f", "nan"]
        return ["f", v.hex()]
    if isinstance(v, decimal.Decimal):
        return ["d", format(v, "f")]
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        ns = getattr(v, "nanosecond", 0)  # pandas.Timestamp keeps ns
        d = v.replace(tzinfo=None) - EPOCH
        us = (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
        return ["t", us * 1000 + ns]
    if isinstance(v, dt.date):
        return ["date", (v - EPOCH_DATE).days]
    if isinstance(v, dt.timedelta):
        return ["dur", (v.days * 86400 + v.seconds) * 1_000_000 + v.microseconds]
    if isinstance(v, (bytes, bytearray, memoryview)):
        return ["x", bytes(v).hex()]
    if isinstance(v, (list, tuple)):
        return ["l", [canon(x) for x in v]]
    if isinstance(v, dict):
        return ["m", sorted([[str(k), canon(x)] for k, x in v.items()])]
    return ["s", str(v)]


def digest(columns, rows):
    """sha256 over the normalized result; returns ``(hex, row_count)``."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(json.dumps([canon(r[i]) for i in order], separators=(",", ":"))
                   for r in rows)
    h = hashlib.sha256(json.dumps([columns[i] for i in order]).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return h.hexdigest(), len(lines)


def digest_query(con, sql):
    """Digest of a DuckDB query's result."""
    cur = con.execute(sql)
    cols = [c[0] for c in cur.description]
    return digest(cols, cur.fetchall())
