"""Order-insensitive comparison of engine rows with oracle rows, and the
rounding digest used to compare two runs of one statement."""
import datetime
import decimal
import hashlib
import json


def canon(v, digits=9):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        return float("%.*g" % (digits, f)) if f == f else "NaN"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return str(v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x, digits)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(canon(x, digits) for x in v)
    return str(v)


def _key(row):
    return json.dumps(row, default=str, sort_keys=True)


def same_rows(got, expected):
    """(ok, why): the same multiset of rows, cell values compared after
    rounding numbers to nine significant digits. Row order is not compared,
    like the engine's catalog oracle gate."""
    g = sorted((canon(list(r)) for r in got), key=_key)
    e = sorted((canon(list(r)) for r in expected), key=_key)
    if len(g) != len(e):
        return False, "rows %d != %d" % (len(g), len(e))
    for a, b in zip(g, e):
        if a != b:
            return False, "row %s != %s" % (a, b)
    return True, ""


def digest(rows):
    """Stable across runs: numbers rounded to six significant digits."""
    text = "\n".join(sorted(_key(canon(list(r), 6)) for r in rows))
    return hashlib.sha256(text.encode()).hexdigest()[:16]
