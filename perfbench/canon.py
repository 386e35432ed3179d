"""Order-free result digest, byte-compatible with ``jvm/Canon.scala``.

Columns are sorted by name and rows form a multiset, as in the oracle
compare of ``tools/parity.py``; values compare exactly. See Canon.scala for
the cell encoding.
"""
import datetime as dt
import decimal
import hashlib
import math
import struct

_EPOCH = dt.datetime(1970, 1, 1)
_EPOCH_TZ = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def _dbl(x: float) -> str:
    if math.isnan(x):
        return "N"
    if x == 0.0:
        return "f0"
    return "f" + str(struct.unpack("<q", struct.pack("<d", x))[0])


def cell(v) -> str:
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return "i" + str(v)
    if isinstance(v, float):
        return _dbl(v)
    if isinstance(v, decimal.Decimal):
        return _dbl(float(v))
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, dt.datetime):
        base = _EPOCH_TZ if v.tzinfo is not None else _EPOCH
        return "t" + str((v - base) // dt.timedelta(microseconds=1))
    if isinstance(v, dt.date):
        return "t" + str((v - dt.date(1970, 1, 1)).days * 86_400_000_000)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    if isinstance(v, dict):
        if set(v.keys()) == {"key", "value"} and isinstance(v["key"], list):
            return "{" + ",".join(sorted(cell(k) + ":" + cell(w)
                                         for k, w in zip(v["key"], v["value"]))) + "}"
        return "{" + ",".join(cell(w) for w in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(w) for w in v) + "]"
    return "s" + str(v)


def digest(columns, rows) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for r in rows:
        s = "\u0001".join(cell(r[i]) for i in order)
        total += int.from_bytes(hashlib.sha256(s.encode("utf-8")).digest()[:8], "little")
        n += 1
    header = ",".join(sorted(columns))
    return f"{n}:{total % (1 << 64)}:" + hashlib.sha256(header.encode("utf-8")).digest()[:4].hex()
