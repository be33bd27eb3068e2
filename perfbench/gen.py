"""Seeded input generators for the benchmark.

Every input of every workload comes from here, so the same ``--seed``
always gives the same inputs. Hashing for subset selection is md5, as
everywhere else in the project. Sizes and skew parameters live in the
``*_PARAMS`` dicts next to each generator; README.md restates them.
"""

from __future__ import annotations

import hashlib
import itertools
import math
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ANCHOR = 1704067200  # 2024-01-01T00:00:00Z
DAY = 86400

# Interval layout shared by the facade workloads. No interval sets
# ``steps``: with steps, writes older than now - steps*step are dropped
# at write time, and every generated timestamp lies in 2024.
INTERVALS = {
    "minute": {"step": 60},
    "hour": {"step": 3600, "resolution": 60},
    "daily": {"step": "daily"},
    "weekly": {"step": "weekly"},
}
TYPES = ("series", "count", "gauge", "histogram", "set")


def stat_names(n: int) -> list[str]:
    return [f"stat{i:02d}" for i in range(n)]


def zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def md5_keep(seed: int, key: int, share: float) -> bool:
    """True for a ``share`` of keys, chosen by md5(seed, key)."""
    h = hashlib.md5(f"{seed}:{key}".encode()).digest()
    return int.from_bytes(h[:8], "big") < share * 2**64


def type_value(typ: str, raw: float) -> float:
    """The stored value of one point for a series type: counts add small
    integers, histograms and sets hold small integer members, series and
    gauges keep the raw reading."""
    if typ == "count":
        return float(1 + int(raw) % 3)
    if typ in ("histogram", "set"):
        return float(int(raw) % 20)
    return raw


# ------------------------------------------------------------------ facade

FACADE_PARAMS = {
    "events": 20_000,
    "names": 50,
    "name_zipf_s": 1.1,
    "days": 30,
    "value_scale": 10.0,  # exponential readings, 2 decimals
    "burst_names": 3,  # short-lived stats, the targets of iterate()
    "burst_events": 40,
    "burst_hours": 3,
    "recent_share": 0.8,  # reads asking for the last day
    "late_share": 0.05,  # written points stamped 1 min .. 1 h in the past
    "gap_s": 2,  # mean seconds between consecutive written points
}


def facade_events(seed: int, p: dict = FACADE_PARAMS) -> dict:
    """Events for the read store: {name: (ts_sec list, raw value list)},
    each list in time order, plus the flat columns for ingest.

    Timestamps are whole seconds, so the Spark bucketing (second
    resolution) and the Python model agree by construction.
    """
    rng = np.random.default_rng([seed, 1])
    names = stat_names(p["names"])
    n = p["events"]
    idx = rng.choice(len(names), size=n, p=zipf_weights(len(names), p["name_zipf_s"]))
    ts = ANCHOR + rng.integers(0, p["days"] * DAY, size=n)
    val = np.round(rng.exponential(p["value_scale"], size=n), 2) + 0.01
    ev_names = [names[i] for i in idx]
    ev_ts = ts.tolist()
    ev_val = val.tolist()
    burst_lo = ANCHOR + (p["days"] - 1) * DAY
    for b in range(p["burst_names"]):
        start = burst_lo + int(rng.integers(0, 20)) * 3600
        k = p["burst_events"]
        ev_names += [f"burst{b}"] * k
        ev_ts += (start + rng.integers(0, p["burst_hours"] * 3600, size=k)).tolist()
        ev_val += (np.round(rng.exponential(p["value_scale"], size=k), 2) + 0.01).tolist()
    order = sorted(range(len(ev_ts)), key=lambda i: (ev_ts[i], i))
    cols = {
        "name": [ev_names[i] for i in order],
        "ts": [int(ev_ts[i]) for i in order],
        "value": [float(ev_val[i]) for i in order],
    }
    per_name: dict[str, tuple[list, list]] = {}
    for nm, t, v in zip(cols["name"], cols["ts"], cols["value"]):
        ts_l, v_l = per_name.setdefault(nm, ([], []))
        ts_l.append(t)
        v_l.append(v)
    return {"cols": cols, "per_name": per_name, "end": ANCHOR + p["days"] * DAY}


# One cycle of the facade call stream: (kind, calls per cycle). Reads
# come first; a fresh read of the bucket just written follows the
# cycle's last write. Batch size 0 is a point ``insert``. The workload
# description names these read kinds and write sizes but gives no
# weights, so each weighs the same: one call of each per cycle. The
# gated metrics are read and write latency apart, so the read:write
# ratio of the cycle sets only how many samples of each a run takes.
READ_KINDS = (
    ("get", 1),
    ("get_condensed", 1),
    ("series_fine", 1),
    ("series_collapse", 1),
    ("multi_name", 1),
    ("series_coarse", 1),
    ("series_gregorian", 1),
    ("iterate", 1),
)
WRITE_SIZES = (0, 1, 10, 100, 1000)
CYCLE = sum(c for _, c in READ_KINDS) + len(WRITE_SIZES) + 1


def facade_calls(seed: int, p: dict = FACADE_PARAMS):
    """The ts_facade call stream, an endless generator of whole cycles.
    The mix is fixed per cycle (shuffled within it), so every run weighs
    the call kinds the same. Series types follow a fixed rotation, not
    the seed: reads of one type can cost twice those of another, and a
    run holds only a few cycles. Read kind j of cycle c asks the store of
    type c + j (mod 5); writes go to their own empty stores, one per type
    in turn. Names, times and values are drawn per call, with write time
    advancing from a fixed anchor."""
    rng = random.Random(f"facade:{seed}")
    names = stat_names(p["names"])
    w = zipf_weights(len(names), p["name_zipf_s"]).tolist()
    end = ANCHOR + p["days"] * DAY
    now = float(ANCHOR + 10 * DAY)
    cycle = [k for k, c in READ_KINDS for _ in range(c)] + [("write", s) for s in WRITE_SIZES]
    n_writes = 0
    read_index = {k: j for j, (k, _) in enumerate(READ_KINDS)}
    for c in itertools.count():
        out = []
        kinds = cycle[:]
        rng.shuffle(kinds)
        last_write = max(i for i, k in enumerate(kinds) if isinstance(k, tuple))
        kinds.insert(last_write + 1, "fresh_read")
        for kind in kinds:
            if isinstance(kind, tuple):
                typ = TYPES[n_writes % len(TYPES)]
                n_writes += 1
                points = []
                for _ in range(max(kind[1], 1)):
                    now += rng.randint(0, 2 * p["gap_s"])
                    ts = now - rng.randint(60, 3600) if rng.random() < p["late_share"] else now
                    raw = round(rng.expovariate(1 / p["value_scale"]), 2) + 0.01
                    points.append((rng.choices(names, weights=w)[0], ts, type_value(typ, raw)))
                out.append({"kind": "insert" if kind[1] == 0 else "bulk_insert", "type": typ, "points": points})
                continue
            if kind == "fresh_read":
                prev = out[-1]
                name, ts, _ = prev["points"][-1]
                out.append({"kind": kind, "type": prev["type"], "name": name, "ts": ts})
                continue
            if rng.random() < p["recent_share"]:
                t = end - rng.randrange(1, DAY)
            else:
                t = ANCHOR + rng.randrange(0, p["days"] * DAY)
            if kind == "series_gregorian":
                # keep whole weeks of 2024 in range: the %Y%U week that
                # straddles a new year is reference-quirk territory
                t = max(t, ANCHOR + 21 * DAY)
            a, b = rng.choices(names, weights=w, k=2)
            if a == b:
                b = names[(names.index(a) + 1) % len(names)]
            out.append(
                {
                    "kind": kind,
                    "type": TYPES[(c + read_index[kind]) % len(TYPES)],
                    "name": a,
                    "names": [a, b],
                    "burst": f"burst{rng.randrange(p['burst_names'])}",
                    "ts": t,
                    "gregorian": ("daily", "weekly")[c % 2],
                }
            )
        yield from out


# ---------------------------------------------------------- batch tables

ROLLUP_PARAMS = {
    "events": 100_000,
    "users": 1_500,
    "user_zipf_s": 1.05,
    # skewed mix of the 5 event types
    "type_weights": {"view": 0.45, "click": 0.25, "purchase": 0.12, "signup": 0.10, "error": 0.08},
    "days": 30,
    "value_scale": 50.0,
    "props_keys": 100,
    # ingest_df calls per pass, each of the events with
    # event_id % ingest_chunks == k, named by event_type
    "ingest_chunks": 4,
}


def events_table(seed: int, p: dict = ROLLUP_PARAMS) -> pa.Table:
    """Events with the schema of the project's ``events`` table:
    event_id int64, ts timestamp[us], user_id int64, event_type string,
    value double (2 decimals), props string."""
    rng = np.random.default_rng([seed, 2])
    n = p["events"]
    users = rng.choice(p["users"], size=n, p=zipf_weights(p["users"], p["user_zipf_s"]))
    kinds = list(p["type_weights"])
    kw = np.array([p["type_weights"][k] for k in kinds])
    etype = rng.choice(len(kinds), size=n, p=kw / kw.sum())
    ts_us = np.sort(ANCHOR * 1_000_000 + rng.integers(0, p["days"] * DAY * 1_000_000, size=n))
    value = np.maximum(np.round(rng.exponential(p["value_scale"], size=n), 2), 0.01)
    props = rng.integers(0, p["props_keys"], size=n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts_us, type=pa.timestamp("us")),
            "user_id": pa.array(users.astype(np.int64)),
            "event_type": pa.array([kinds[i] for i in etype], type=pa.string()),
            "value": pa.array(value, type=pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in props], type=pa.string()),
        }
    )


CORPUS_PARAMS = {
    "base_seed": 20240101,  # the base corpus is fixed; seeds pick subsets
    "documents": 300,
    "embeddings": 300,
    "keep_share": 0.9,  # md5(seed, id) keeps this share of each table
    "dim": 64,
    "labels": 10,
    "near_dup_share": 0.15,  # copies of an earlier doc with a few edits
    "exact_dup_share": 0.03,
    "words": (40, 80),  # words per document
    "vocabulary": 400,  # Zipf(1.0) word frequencies
    "events": 10_000,  # co-activity graph input (triangles, BFS)
    "event_users": 150,
}

_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]


def _vocabulary(rng: random.Random, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(1, 3))))
    return sorted(words)


_LANGS = (("en", 0.5), ("de", 0.15), ("fr", 0.12), ("es", 0.12), ("zh", 0.11))


def _base_documents(p: dict) -> list[tuple]:
    rng = random.Random(p["base_seed"])
    vocab = _vocabulary(rng, p["vocabulary"])
    word_w = zipf_weights(len(vocab), 1.0).tolist()
    docs: list[list[str]] = []
    rows = []
    for doc_id in range(p["documents"]):
        r = rng.random()
        if docs and r < p["exact_dup_share"]:
            words = list(rng.choice(docs))
        elif docs and r < p["exact_dup_share"] + p["near_dup_share"]:
            words = list(rng.choice(docs))
            for _ in range(rng.randint(1, 3)):
                words[rng.randrange(len(words))] = rng.choices(vocab, weights=word_w)[0]
        else:
            words = rng.choices(vocab, weights=word_w, k=rng.randint(*p["words"]))
        docs.append(words)
        text = " ".join(words)
        lang = rng.choices([l for l, _ in _LANGS], weights=[w for _, w in _LANGS])[0]
        rows.append((doc_id, text, lang, f"src{rng.randrange(20)}", len(text)))
    return rows


def _base_embeddings(p: dict) -> list[tuple]:
    rng = np.random.default_rng(p["base_seed"])
    centers = rng.normal(size=(p["labels"], p["dim"]))
    rows = []
    for vec_id in range(p["embeddings"]):
        label = int(rng.integers(0, p["labels"]))
        v = centers[label] + 0.6 * rng.normal(size=p["dim"])
        v = v / math.sqrt(float((v * v).sum()))
        rows.append((vec_id, v.astype(np.float32).tolist(), label))
    return rows


def corpus_tables(seed: int, p: dict = CORPUS_PARAMS) -> dict[str, pa.Table]:
    """The md5(seed, id)-selected share of the fixed base corpus, plus
    the fixed events table that the graph operators read."""
    docs = [r for r in _base_documents(p) if md5_keep(seed, r[0], p["keep_share"])]
    embs = [r for r in _base_embeddings(p) if md5_keep(seed, r[0], p["keep_share"])]
    ev_params = dict(ROLLUP_PARAMS, events=p["events"], users=p["event_users"], user_zipf_s=0.0)
    return {
        "documents": pa.table(
            {
                "doc_id": pa.array([r[0] for r in docs], type=pa.int64()),
                "text": pa.array([r[1] for r in docs], type=pa.string()),
                "lang": pa.array([r[2] for r in docs], type=pa.string()),
                "source": pa.array([r[3] for r in docs], type=pa.string()),
                "n_chars": pa.array([r[4] for r in docs], type=pa.int64()),
            }
        ),
        "embeddings": pa.table(
            {
                "vec_id": pa.array([r[0] for r in embs], type=pa.int64()),
                "embedding": pa.array([r[1] for r in embs], type=pa.list_(pa.float32())),
                "label": pa.array([r[2] for r in embs], type=pa.int32()),
            }
        ),
        "events": events_table(p["base_seed"], ev_params),
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    for name, table in tables.items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")
