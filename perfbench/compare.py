"""Pure helpers of the benchmark: output comparison, percentiles, job-interval
union. Kept free of Spark so `selftest.py` can check them on their own."""
import csv
import json
import math
import re
from decimal import Decimal, InvalidOperation

_NUMERIC = re.compile(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$")


def canon(v):
    """One canonical text per value, whatever file format carried it.

    CSV hands every value back as text, NDJSON parses numbers itself and
    parquet keeps the engine's types, so numbers of every kind (and text that
    spells a number) are reduced to the shortest exact decimal. Float values
    go through `repr`, the shortest text that reads back to the same double,
    so two doubles compare equal only when they are the same double."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            return repr(v)
        return _dec(Decimal(repr(v)))
    if isinstance(v, (int, Decimal)):
        return _dec(Decimal(v))
    s = str(v)
    if _NUMERIC.match(s):
        try:
            return _dec(Decimal(s))
        except InvalidOperation:
            pass
    return s


def _dec(d):
    d = d.normalize()
    return "0" if d.is_zero() else format(d, "f")


def normalise(columns, rows):
    """check.py's rule: columns sorted by name, rows sorted, values exact."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = sorted(tuple(canon(r[i]) for i in order) for r in rows)
    return [columns[i] for i in order], out


def same_result(got, expected):
    """`got` and `expected` are (columns, rows); returns (equal, reason)."""
    gc, gr = normalise(*got)
    ec, er = normalise(*expected)
    if gc != ec:
        return False, f"columns {gc} != {ec}"
    if len(gr) != len(er):
        return False, f"{len(gr)} rows != {len(er)} rows"
    for a, b in zip(gr, er):
        if a != b:
            return False, f"first differing row {a} != {b}"
    return True, ""


def read_export(path, duck):
    """(columns, rows) of one exported file, by its extension."""
    if path.endswith(".csv"):
        with open(path, newline="") as f:
            rows = list(csv.reader(f))
        return rows[0], [tuple(r) for r in rows[1:]]
    if path.endswith(".json"):
        with open(path) as f:
            objs = [json.loads(line, parse_float=Decimal) for line in f if line.strip()]
        cols = list(objs[0]) if objs else []
        return cols, [tuple(o.get(c) for c in cols) for o in objs]
    rel = duck.sql(f"SELECT * FROM read_parquet('{path}')")
    return rel.columns, rel.fetchall()


def percentile(values, p):
    """Linear-interpolated p-th percentile (0-100) of a non-empty sample."""
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n, wanted=90, beyond=10):
    """Highest whole percentile <= `wanted` that leaves at least `beyond`
    samples above it in a sample of `n`; None when not even one does."""
    for p in range(wanted, 0, -1):
        if n * (100 - p) / 100.0 >= beyond:
            return p
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(wall_start, wall_end, job_intervals):
    """Wall time of [wall_start, wall_end] during which no job ran."""
    clipped = [(max(s, wall_start), min(e, wall_end)) for s, e in job_intervals]
    return (wall_end - wall_start) - union_length(clipped)
