"""Plain-Python model of what the facade should return.

The model knows the generated points and recomputes every read from
them, independently of the program's bucket math: relative buckets are
``ts // step * step``, daily buckets start at UTC midnight, and weekly
buckets follow kairos's ``%Y%U`` code with the bucket time Jan 1 +
week * 7 days.
"""

from __future__ import annotations

import bisect
import datetime as dt
import math
from collections import Counter

from .gen import type_value

HOUR, MINUTE = 3600, 60

EMPTY = {"series": [], "count": 0, "gauge": 0, "histogram": {}, "set": set()}
COLLAPSE_TRANSFORM = {
    "series": ["min", "max", "count"],
    "histogram": ["count", "max"],
    "set": ["count", "max"],
    "count": None,
    "gauge": None,
}


def container(typ: str, values: list):
    """The container one bucket holds, ``values`` in insert order."""
    if typ == "series":
        return list(values)
    if typ == "count":
        return float(sum(values))
    if typ == "gauge":
        return values[-1] if values else 0
    if typ == "histogram":
        return dict(Counter(values))
    return set(values)


def transformed(typ: str, values: list, names: list[str]) -> dict:
    members = sorted(set(values)) if typ == "set" else values
    out = {}
    for t in names:
        if t == "count":
            out[t] = len(members)
        elif t == "min":
            out[t] = min(members) if members else 0
        elif t == "max":
            out[t] = max(members) if members else 0
    return out


def gregorian_key(step: str, ts: int) -> tuple[int, int]:
    """(bucket code, bucket time) of a timestamp for a Gregorian step."""
    d = dt.datetime.fromtimestamp(ts, dt.timezone.utc)
    if step == "daily":
        return int(d.strftime("%Y%m%d")), ts // 86400 * 86400
    week = int(d.strftime("%U"))
    jan1 = dt.datetime(d.year, 1, 1, tzinfo=dt.timezone.utc)
    return int(d.strftime("%Y%U")), int((jan1 + dt.timedelta(weeks=week)).timestamp())


class ReadModel:
    """Expected results of the ts_facade reads over the ingested events."""

    def __init__(self, per_name: dict):
        # per_name: {name: (sorted ts list, raw values)}
        self.per_name = per_name

    def _points(self, typ, name, lo, hi):
        """(ts, value) of ``name`` with lo <= ts < hi, in insert order."""
        ts, vals = self.per_name.get(name, ([], []))
        a, b = bisect.bisect_left(ts, lo), bisect.bisect_left(ts, hi)
        return [(ts[i], type_value(typ, vals[i])) for i in range(a, b)]

    def _by(self, pts, key):
        out: dict[int, list] = {}
        for t, v in pts:
            out.setdefault(key(t), []).append(v)
        return out

    def expected(self, typ: str, call: dict):
        kind, name, t = call["kind"], call["name"], call["ts"]
        if kind == "get":
            h = t // HOUR * HOUR
            pts = self._points(typ, name, h, h + HOUR)
            return {k: container(typ, v) for k, v in sorted(self._by(pts, lambda x: x // MINUTE * MINUTE).items())}
        if kind == "get_condensed":
            h = t // HOUR * HOUR
            pts = self._points(typ, name, h, h + HOUR)
            return {h: container(typ, [v for _, v in pts]) if pts else EMPTY[typ]}
        if kind == "series_coarse":
            end = t // MINUTE * MINUTE
            lo = end - 29 * MINUTE
            grouped = self._by(self._points(typ, name, lo, end + MINUTE), lambda x: x // MINUTE * MINUTE)
            return {k: container(typ, grouped[k]) if k in grouped else EMPTY[typ] for k in range(lo, end + 1, MINUTE)}
        if kind == "series_fine":
            end = t // HOUR * HOUR
            pts = self._points(typ, name, end - HOUR, end + HOUR)
            out: dict = {}
            for ts_, v in pts:
                out.setdefault(ts_ // HOUR * HOUR, {}).setdefault(ts_ // MINUTE * MINUTE, []).append(v)
            return {i: {r: container(typ, vs) for r, vs in sorted(inner.items())} for i, inner in sorted(out.items())}
        if kind == "series_collapse":
            end = t // HOUR * HOUR
            lo = end - 5 * HOUR
            vals = [v for _, v in self._points(typ, name, lo, end + HOUR)]
            if not vals:
                return {}
            tr = COLLAPSE_TRANSFORM[typ]
            return {lo: transformed(typ, vals, tr) if tr else container(typ, vals)}
        if kind == "series_gregorian":
            step = call["gregorian"]
            span = 7 if step == "daily" else 3
            day = 86400 if step == "daily" else 7 * 86400
            wanted = [gregorian_key(step, t - k * day) for k in range(span - 1, -1, -1)]
            lo = min(w[1] for w in wanted) - 7 * 86400
            grouped = self._by(self._points(typ, name, lo, t + 7 * 86400), lambda x: gregorian_key(step, x)[0])
            return {key: container(typ, grouped[code]) if code in grouped else EMPTY[typ] for code, key in wanted}
        if kind == "multi_name":
            h = t // HOUR * HOUR
            names = call["names"]
            tagged = []
            for prio, nm in enumerate(names):
                tagged += [(ts_ // MINUTE, prio, ts_, v) for ts_, v in self._points(typ, nm, h, h + HOUR)]
            tagged.sort(key=lambda x: x[:3])
            if not tagged:
                return {h: None if typ == "gauge" else EMPTY[typ]}
            return {h: container(typ, [x[3] for x in tagged])}
        if kind == "iterate":
            ts, _ = self.per_name[call["burst"]]
            pts = self._points(typ, call["burst"], ts[0], ts[-1] + 1)
            return [(k, container(typ, v)) for k, v in sorted(self._by(pts, lambda x: x // MINUTE * MINUTE).items())]
        raise ValueError(kind)


class WriteModel:
    """Expected minute buckets of the ts_facade write stores."""

    def __init__(self):
        self.buckets: dict[tuple, list] = {}

    def add(self, typ: str, name: str, ts: float, value: float):
        self.buckets.setdefault((typ, name, int(ts) // MINUTE * MINUTE), []).append(value)

    def fresh(self, typ: str, name: str, ts: float):
        k = int(ts) // MINUTE * MINUTE
        vals = self.buckets.get((typ, name, k), [])
        return {k: container(typ, vals) if vals else EMPTY[typ]}


def same(a, b, rel: float = 1e-9) -> bool:
    """Structural equality with a relative tolerance on floats (sums
    and means may add in another order)."""
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=rel, abs_tol=1e-12)
    if isinstance(a, dict) and isinstance(b, dict):
        if len(a) != len(b):
            return False
        bn = {_num_key(k): v for k, v in b.items()}
        return all(_num_key(k) in bn and same(v, bn[_num_key(k)], rel) for k, v in a.items())
    if isinstance(a, (set, frozenset)) and isinstance(b, (set, frozenset)):
        return {_num_key(x) for x in a} == {_num_key(x) for x in b}
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y, rel) for x, y in zip(a, b))
    return a == b


def _num_key(k):
    return float(k) if isinstance(k, (int, float)) and not isinstance(k, bool) else k
