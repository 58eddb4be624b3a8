"""Seeded input generators. The same seed always gives the same bytes.

- ``RetailSource``: the ``source_transaction_lion_parcel`` table
  (FIXTURES.md §1) as one parquet snapshot per hour. Hour 0 is the
  initial load; every later hour moves ~1% of ids one lifecycle step
  (Created → On Way → Delivered → DONE, sometimes back out of DONE),
  adds ~1% new ids, drops a few ids from the source and leaves some
  ``created_at`` values null.
- ``write_bonus_docs``: metrics JSON documents (FIXTURES.md §5) with a
  few ``MetricDataResults`` entries of 300–600 points, ~2% null values,
  ~1% truncated (corrupt) files and mixed ``Messages``.
- ``write_query_tables``: the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` that ``plans.queries`` reads, with the
  column shapes of the repository's synthetic test tables.

All randomness comes from ``numpy.random.default_rng`` seeded by
(seed, stream, step), so any hour or document can be rebuilt alone.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = datetime(2025, 10, 4, tzinfo=timezone.utc)
STATUSES = np.array(["Created", "On Way", "Delivered", "DONE"], dtype=object)
POS = np.array([f"POS-{c}-{i:02d}" for c in ("JKT", "BDG", "SUB", "SMG", "DPS", "MDN") for i in range(8)], dtype=object)


def rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def run_ts(hour: int) -> str:
    """Injected run timestamp of ``hour``: the end of its interval."""
    return (EPOCH + timedelta(hours=hour + 1)).strftime("%Y-%m-%d %H:%M:%S")


def _us(dt: datetime) -> int:
    return int(dt.timestamp()) * 1_000_000


class RetailSource:
    """Stateful hourly source. ``advance()`` moves to the next hour and
    ``snapshot()`` returns that hour's full source table."""

    def __init__(self, seed: int, n_ids: int, change_share: float = 0.01,
                 new_share: float = 0.01, drop_share: float = 0.0005,
                 null_created_share: float = 0.02):
        self.seed, self.hour = seed, 0
        self.change_share, self.new_share, self.drop_share = change_share, new_share, drop_share
        self.null_created_share = null_created_share
        r = rng(seed, 1, 0)
        self.next_id = n_ids + 1
        self.id = np.arange(1, n_ids + 1, dtype=np.int64)
        self.customer_id = r.integers(1, max(2, n_ids // 5), n_ids, dtype=np.int64)
        self.status = r.choice(4, n_ids, p=[0.4, 0.3, 0.2, 0.1]).astype(np.int8)
        self.origin = r.integers(0, len(POS), n_ids).astype(np.int16)
        self.dest = r.integers(0, len(POS), n_ids).astype(np.int16)
        start = _us(EPOCH - timedelta(days=30))
        self.created = start + r.integers(0, 30 * 86400, n_ids) * 1_000_000
        self.created_null = r.random(n_ids) < null_created_share
        self.updated = self.created + r.integers(0, 86400, n_ids) * 1_000_000
        self.updated = np.minimum(self.updated, _us(EPOCH) - 1_000_000)

    def advance(self) -> None:
        self.hour += 1
        r = rng(self.seed, 1, self.hour)
        n = len(self.id)
        lo = _us(EPOCH + timedelta(hours=self.hour))
        # lifecycle step for ~1% of ids; DONE sometimes reopens to On Way
        chg = np.flatnonzero(r.random(n) < self.change_share)
        st = self.status[chg]
        reopen = (st == 3) & (r.random(len(chg)) < 0.5)
        st = np.where(st < 3, st + 1, st)
        st = np.where(reopen, 1, st)
        moved = st != self.status[chg]
        # a share of the changes re-route instead (the other tracked columns)
        reroute = r.random(len(chg)) < 0.2
        self.dest[chg[reroute]] = r.integers(0, len(POS), int(reroute.sum()))
        self.status[chg] = st
        touched = chg[moved | reroute]
        self.updated[touched] = lo + r.integers(0, 3600, len(touched)) * 1_000_000
        # a few ids disappear from the source
        keep = r.random(n) >= self.drop_share
        for name in ("id", "customer_id", "status", "origin", "dest", "created", "created_null", "updated"):
            setattr(self, name, getattr(self, name)[keep])
        # ~1% new ids arrive as Created
        k = int(round(n * self.new_share))
        ts = lo + r.integers(0, 3600, k) * 1_000_000
        self.id = np.concatenate([self.id, np.arange(self.next_id, self.next_id + k, dtype=np.int64)])
        self.next_id += k
        self.customer_id = np.concatenate([self.customer_id, r.integers(1, max(2, n // 5), k, dtype=np.int64)])
        self.status = np.concatenate([self.status, np.zeros(k, np.int8)])
        self.origin = np.concatenate([self.origin, r.integers(0, len(POS), k).astype(np.int16)])
        self.dest = np.concatenate([self.dest, r.integers(0, len(POS), k).astype(np.int16)])
        self.created = np.concatenate([self.created, ts])
        self.created_null = np.concatenate([self.created_null, r.random(k) < self.null_created_share])
        self.updated = np.concatenate([self.updated, ts])

    def snapshot(self) -> pa.Table:
        tz = pa.timestamp("us", tz="UTC")
        return pa.table({
            "id": pa.array(self.id, pa.int64()),
            "customer_id": pa.array(self.customer_id, pa.int64()),
            "last_status": pa.array(STATUSES[self.status], pa.string()),
            "pos_origin": pa.array(POS[self.origin], pa.string()),
            "pos_destination": pa.array(POS[self.dest], pa.string()),
            "created_at": pa.array(self.created, tz, mask=self.created_null),
            "updated_at": pa.array(self.updated, tz),
        })

    def write(self, path: str) -> pa.Table:
        table = self.snapshot()
        pq.write_table(table, path)
        return table


# ---------------------------------------------------------------------------
# bonus_test: metrics JSON documents
# ---------------------------------------------------------------------------

_LABELS = ["VisualLoadTime", "FirstByte", "DomReady", "ApiLatency"]
_MESSAGES = [
    "Partial data", "Throttled", "High Priority Access",
    {"Description": "High Priority Access"}, {"Message": "Backfilled"},
    {"code": 429, "text": "Rate limited"}, {"text": None, "retry": True},
]


def bonus_doc(seed: int, doc: int, n_ids: int) -> str:
    """One metrics document as JSON text (possibly truncated)."""
    r = rng(seed, 2, doc)
    t0 = EPOCH + timedelta(minutes=5 * doc)
    entries = []
    for _ in range(int(r.integers(2, 5))):
        n = int(r.integers(300, 601))
        offs = np.sort(r.integers(0, 7 * 86400, n))
        vals = np.round(r.gamma(2.0, 900.0, n), 3)
        null = r.random(n) < 0.02
        entries.append({
            "Id": f"m{int(r.integers(0, n_ids))}",
            "Label": _LABELS[int(r.integers(0, len(_LABELS)))],
            "Timestamps": [(t0 + timedelta(seconds=int(s))).isoformat() for s in offs],
            "Values": [None if z else float(v) for v, z in zip(vals, null)],
            "StatusCode": "Complete",
        })
    kind = r.random()
    if kind < 0.4:
        messages = []
    elif kind < 0.55:
        messages = [""]
    else:
        pick = r.choice(len(_MESSAGES), int(r.integers(1, 3)), replace=False)
        messages = [_MESSAGES[i] for i in pick]
    text = json.dumps({"MetricDataResults": entries, "Messages": messages})
    if r.random() < 0.01:  # truncated upload: a corrupt document
        text = text[: int(len(text) * r.uniform(0.2, 0.9))]
    return text


def write_bonus_docs(seed: int, folder: str, first: int, count: int, n_ids: int) -> int:
    """Land documents ``first .. first+count-1``; returns bytes written."""
    os.makedirs(folder, exist_ok=True)
    size = 0
    for d in range(first, first + count):
        text = bonus_doc(seed, d, n_ids)
        with open(os.path.join(folder, f"result-json-{d:06d}.json"), "w") as f:
            f.write(text)
        size += len(text)
    return size


# ---------------------------------------------------------------------------
# query_mix: the tables plans.queries reads
# ---------------------------------------------------------------------------

_WORDS = ("join hash row batch scan column customer filter small slow merge order "
          "vector line table data agg value key stream window a spark part group "
          "big sort query fast the").split()
_PART_WORDS = ["small", "red", "blue", "hot", "big", "green", "cold", "old"]
_PART_NOUNS = ["ring", "widget", "bolt", "gear", "pipe", "valve", "nut", "plate"]


def _ts_us(r, start: datetime, span_s: int, n: int, unit_s: int = 1) -> np.ndarray:
    return _us(start) + r.integers(0, span_s // unit_s, n) * unit_s * 1_000_000


def write_query_tables(seed: int, out: str, n_orders: int = 15000, n_docs: int = 500) -> dict[str, int]:
    """Write every table of ``plans.queries.TABLES`` under ``out``;
    returns table → row count."""
    os.makedirs(out, exist_ok=True)
    n_cust, n_part, n_supp = max(150, n_orders // 10), max(200, n_orders // 7), 100
    n_events, n_users = max(1000, n_orders * 2 // 3), max(15, n_orders // 100)
    tabs: dict[str, pa.Table] = {}
    ts = pa.timestamp("us")
    r = rng(seed, 3, 0)
    tabs["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tabs["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tabs["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": r.choice(["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"], n_cust),
    })
    tabs["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
    })
    tabs["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{_PART_WORDS[a]} {_PART_NOUNS[b]}" for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(["ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD", "PROMO"], n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    start = datetime(1995, 1, 1)
    tabs["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": r.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": pa.array(_ts_us(r, start, 2404 * 86400, n_orders, 86400), ts),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders),
    })
    lines = r.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_orders), lines)
    lnum = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = r.integers(1, 51, n_li).astype(float)
    flag = r.choice(["A", "N", "R"], n_li)
    tabs["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(r.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(r.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": flag,
        "l_linestatus": r.choice(["O", "F"], n_li),
        "l_shipdate": pa.array(_ts_us(r, datetime(1995, 1, 2), 2498 * 86400, n_li, 86400), ts),
    })
    ev_ts = np.sort(_ts_us(r, datetime(2024, 1, 1), 30 * 86400, n_events)) + r.integers(0, 1_000_000, n_events)
    tabs["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(np.sort(ev_ts), ts),
        "user_id": pa.array(r.integers(0, n_users, n_events), pa.int64()),
        "event_type": r.choice(["view", "click", "purchase", "signup", "error"], n_events, p=[0.4, 0.3, 0.1, 0.1, 0.1]),
        "value": np.round(r.exponential(50.0, n_events) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in r.integers(0, 100, n_events)],
    })
    texts = []
    for i in range(n_docs):
        if i >= 20 and r.random() < 0.05:  # near-duplicate of an earlier doc
            base = texts[int(r.integers(0, i))].split()
            j = int(r.integers(0, len(base)))
            texts.append(" ".join(base[:j] + ["dup"] + base[j + 1:]))
        else:
            texts.append(" ".join(r.choice(_WORDS, int(r.integers(10, 100)))))
    tabs["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": r.choice(["en", "zh", "es", "de", "fr"], n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = r.integers(0, 10, n_docs)
    centers = r.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + r.normal(0.0, 1.2, (n_docs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tabs["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_docs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, t in tabs.items():
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tabs.items()}
