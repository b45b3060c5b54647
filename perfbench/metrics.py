"""Pure arithmetic of the benchmark: percentiles, geometric means, span
self time, and the order-insensitive result digest that `pins.py` computes
for DuckDB rows and `src/perfbench/Digest.scala` for Spark rows.
"""
import datetime
import decimal
import hashlib
import math
import struct

# A percentile is reported only when at least this many samples lie beyond it.
MIN_BEYOND = 10


def median(values):
    v = sorted(values)
    if not v:
        raise ValueError("median of no values")
    n = len(v)
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2


def percentile(values, q):
    """Nearest-rank q-quantile (0 < q < 1), or None when fewer than
    MIN_BEYOND samples lie strictly beyond the chosen rank."""
    v = sorted(values)
    rank = math.ceil(q * len(v))
    if rank < 1 or len(v) - rank < MIN_BEYOND:
        return None
    return v[rank - 1]


def geomean(values):
    v = list(values)
    if not v or any(x <= 0 for x in v):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in v) / len(v))


def self_times(spans):
    """Self time per span id: its duration minus the part of its interval
    that its child spans cover (children clipped to the parent, overlaps
    between children counted once)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        start, end = s["start_ns"], s["end_ns"]
        ivs = sorted((max(c["start_ns"], start), min(c["end_ns"], end))
                     for c in children.get(s["id"], []))
        covered, cur_s, cur_e = 0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (end - start) - covered
    return out


def self_seconds_by_name(spans):
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]] / 1e9
    return out


# ---- result digest ----------------------------------------------------

_EPOCH = datetime.date(1970, 1, 1)
_EPOCH_DT = datetime.datetime(1970, 1, 1)


def render(v):
    """Canonical text of one value; mirrors Digest.render in Scala."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return "I%d" % v
    if isinstance(v, float):
        d = 0.0 if v == 0.0 else v
        if math.isnan(d):
            d = float("nan")
        return "F" + struct.pack(">d", d).hex()
    if isinstance(v, decimal.Decimal):
        return "D" + format(v, "f")
    if isinstance(v, str):
        return "S%d:%s" % (len(v.encode("utf-8")), v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        delta = v - _EPOCH_DT
        return "t%d" % ((delta.days * 86400 + delta.seconds) * 1000000 + delta.microseconds)
    if isinstance(v, datetime.date):
        return "d%d" % (v - _EPOCH).days
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "B" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(render(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(x) for x in v) + "]"
    raise TypeError("no canonical form for %r" % type(v))


def row_hash(canonical):
    return int.from_bytes(hashlib.sha256(canonical.encode("utf-8")).digest()[:8], "big")


def digest_canonical(rows):
    """(row count, digest) of rows given as canonical strings."""
    total, n = 0, 0
    for r in rows:
        total = (total + row_hash(r)) % (1 << 64)
        n += 1
    return n, "%016x" % total


def digest_rows(columns, rows):
    """(row count, digest) of result rows, columns taken in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return digest_canonical("|".join(render(r[i]) for i in order) for r in rows)
