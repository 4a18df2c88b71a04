"""The benchmark's arithmetic: order statistics, idle-core accounting and
the order-insensitive result digest. Self-tested by test_measure.py."""
import datetime
import decimal
import hashlib
import math


def percentile(values, q):
    """q-th percentile (0..100) with linear interpolation between the
    closest ranks, as numpy's default method."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def geomean(values):
    xs = list(values)
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def idle_core_s(cores, wall_s, task_s):
    """Core-seconds the phase left idle: cores x wall - task time."""
    return cores * wall_s - task_s


def busy_pct(cores, wall_s, task_s):
    """Share of the phase's core-seconds spent in tasks."""
    return 100.0 * task_s / (cores * wall_s) if wall_s > 0 else 0.0


def canon_value(v):
    """One value as a type-tagged string. Numbers compare by value, as
    tools/check.py's oracle comparison does (5 == 5.0), so integral
    numbers of any type render alike and decimals drop trailing zeros."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, (int, float, decimal.Decimal)):
        if isinstance(v, float) and math.isnan(v):
            return "n:nan"
        if not (isinstance(v, float) and math.isinf(v)) and v == int(v):
            return f"n:{int(v)}"
        if isinstance(v, decimal.Decimal):
            return f"n:{v.normalize()}"
        return f"n:{v!r}"
    if isinstance(v, (datetime.datetime, datetime.date, datetime.time)):
        return f"t:{v.isoformat()}"
    if isinstance(v, (list, tuple)):
        return "l:[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "m:{" + ",".join(f"{canon_value(k)}={canon_value(x)}"
                                for k, x in sorted(v.items(), key=str)) + "}"
    return f"s:{v}"


def digest(columns, rows):
    """Order-insensitive digest of a result: columns sorted by name, each
    row rendered in that column order, rows sorted. Returns
    (row_count, hex digest)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(canon_value(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return len(lines), h.hexdigest()
