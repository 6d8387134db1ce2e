"""Python twin of graftbench/src/main/scala/graftbench/Canon.scala.

Digests a DuckDB result in the repo's oracle canonical form (columns sorted
by name, exact values, rows in output order, except that rows tied on a
non-total ORDER BY may come in any order). Both sides must produce the same
digest string for equal results; see Canon.scala for the encoding.
"""
import datetime
import decimal
import hashlib
import math
import struct

B = 0x100000001B3
M = (1 << 64) - 1
EPOCH = datetime.datetime(1970, 1, 1)
EPOCH_DAY = datetime.date(1970, 1, 1)


def _num(x):
    if math.isnan(x):
        return "NaN"
    if not math.isinf(x) and x == math.floor(x) and abs(x) < 9.2e18:
        return f"i{int(x)}"
    return "f" + format(struct.unpack(">Q", struct.pack(">d", x))[0], "x")


def _dec(d):
    if d == d.to_integral_value():
        return f"i{int(d)}"
    f = float(d)
    if not math.isinf(f) and decimal.Decimal(f) == d:
        return _num(f)
    return "d" + format(d.normalize(), "f")


def _value(v):
    if v is None:
        s = "N"
    elif isinstance(v, bool):
        s = "i1" if v else "i0"
    elif isinstance(v, int):
        s = f"i{v}"
    elif isinstance(v, float):
        s = _num(v)
    elif isinstance(v, decimal.Decimal):
        s = _dec(v)
    elif isinstance(v, str):
        s = f"s{len(v.encode('utf-16-le')) // 2}:{v}"
    elif isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        s = f"t{(v - EPOCH) // datetime.timedelta(microseconds=1)}"
    elif isinstance(v, datetime.date):
        s = f"D{(v - EPOCH_DAY).days}"
    elif isinstance(v, list):
        return "[" + "".join(_value(e) for e in v) + "]|"
    elif isinstance(v, dict):
        return "{" + "".join(_value(e) for e in v.values()) + "}|"
    else:
        s = f"?{v}"
    return s + "|"


def _hash(row, cols):
    enc = "".join(_value(row[i]) for i in cols)
    return int.from_bytes(hashlib.md5(enc.encode("utf-8")).digest()[:8], "big")


def digest(columns, rows, ties=()):
    """Digest rows (tuples in `columns` order) after sorting columns by name.

    `ties` names the sort columns of a result whose ORDER BY is not total:
    their order is checked, and the rest of each row as a multiset."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    tie_cols = [columns.index(c) for c in ties]
    h = s = 0
    for r in rows:
        if tie_cols:
            h = (h * B + _hash(r, tie_cols)) & M
            s = (s + _hash(r, order)) & M
        else:
            h = (h * B + _hash(r, order)) & M
    return f"{len(rows)}:{h:016x}" + (f":{s:016x}" if tie_cols else "")
