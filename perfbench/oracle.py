"""Independent reference computations the benchmark checks every batch
against. Nothing here imports the engine: the retail and bonus
references are pandas/plain Python over the generated inputs, and the
query references are each query's DuckDB oracle SQL."""

from __future__ import annotations

import json
import math
import os
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq

TRACKED = ["customer_id", "last_status", "pos_origin", "pos_destination", "deleted_at"]


def _us(s: pd.Series) -> np.ndarray:
    """Timestamps as int64 microseconds, NaT as INT64_MIN."""
    s = pd.to_datetime(s, utc=True).dt.tz_localize(None).astype("datetime64[us]")
    return s.to_numpy().astype(np.int64)


def _read(path: str) -> pd.DataFrame:
    return ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pandas()


class RetailReference:
    """Expected state of both retail marts after each hourly snapshot:
    the merge/soft-delete mart row by row, and for the SCD2 mart the
    version count and current attributes of every id."""

    def __init__(self):
        self.mart: pd.DataFrame | None = None
        self.cur: pd.DataFrame | None = None  # id → tracked attrs, valid_from, versions
        self.prev_snapshot: pd.DataFrame | None = None

    def apply(self, snap, run_ts: str) -> int:
        """Advance by one snapshot (a pyarrow table); returns the number
        of source rows that differ from the previous snapshot (new,
        changed or gone)."""
        run = pd.Timestamp(run_ts, tz="UTC")
        s = snap.to_pandas().set_index("id")
        s["customer_id"] = s["customer_id"].astype(str)
        done = s["last_status"] == "DONE"
        new = pd.DataFrame({
            "customer_id": s["customer_id"],
            "last_status": s["last_status"],
            "pos_origin": s["pos_origin"],
            "pos_destination": s["pos_destination"],
            "created_at": s["created_at"].fillna(run),
            "updated_at": run,
        }, index=s.index)
        prior = (self.mart["deleted_at"].reindex(s.index) if self.mart is not None
                 else pd.Series(pd.NaT, index=s.index, dtype="datetime64[us, UTC]"))
        new["deleted_at"] = prior.fillna(run).where(done, pd.NaT)
        if self.mart is None:
            self.mart = new
        else:
            kept = self.mart[~self.mart.index.isin(s.index)]
            self.mart = pd.concat([kept, new])

        snap_attrs = pd.DataFrame({
            "customer_id": s["customer_id"],
            "last_status": s["last_status"],
            "pos_origin": s["pos_origin"],
            "pos_destination": s["pos_destination"],
            "deleted_at": s["updated_at"].where(done, pd.NaT),
            "valid_from": s["updated_at"],
        }, index=s.index)
        if self.cur is None:
            self.cur = snap_attrs.assign(versions=1)
        else:
            old = self.cur.reindex(snap_attrs.index)
            present = snap_attrs.index.isin(self.cur.index)
            differs = np.zeros(len(snap_attrs), bool)
            for c in TRACKED:
                a, b = snap_attrs[c], old[c]
                differs |= ~((a == b) | (a.isna() & b.isna())).to_numpy()
            bump = ~present | differs
            upd = snap_attrs[bump].assign(
                versions=old["versions"][bump].fillna(0).astype(int) + 1)
            self.cur = pd.concat([self.cur[~self.cur.index.isin(upd.index)], upd])

        changed = len(s)
        if self.prev_snapshot is not None:
            p = self.prev_snapshot
            both = s.index.intersection(p.index)
            same = np.ones(len(both), bool)
            for c in s.columns:
                a, b = s.loc[both, c], p.loc[both, c]
                same &= ((a == b) | (a.isna() & b.isna())).to_numpy()
            changed = int((~same).sum()) + len(s.index.difference(p.index)) + len(p.index.difference(s.index))
        self.prev_snapshot = s
        return changed

    def check(self, mart_dir: str, scd_dir: str) -> list[str]:
        """Problems found in the written marts; empty when correct."""
        problems = []
        got = _read(mart_dir).set_index("id").sort_index()
        exp = self.mart.sort_index()
        if not got.index.equals(exp.index):
            problems.append(f"retail_transactions ids differ: {len(got)} rows vs {len(exp)} expected")
        else:
            for c in ["customer_id", "last_status", "pos_origin", "pos_destination"]:
                if not (got[c].astype(str).to_numpy() == exp[c].to_numpy()).all():
                    problems.append(f"retail_transactions.{c} differs")
            for c in ["created_at", "updated_at", "deleted_at"]:
                if not np.array_equal(_us(got[c]), _us(exp[c])):
                    problems.append(f"retail_transactions.{c} differs")

        scd = _read(scd_dir)
        is_cur = scd["is_current"].astype(str).str.lower() == "true"
        versions = scd.groupby("id").size()
        n_current = is_cur.groupby(scd["id"]).sum()
        exp = self.cur.sort_index()
        if not versions.sort_index().index.equals(exp.index):
            problems.append("retail_transactions_scd ids differ")
            return problems
        if not (versions.sort_index().to_numpy() == exp["versions"].to_numpy()).all():
            problems.append("retail_transactions_scd version counts differ")
        if not (n_current == 1).all():
            problems.append(f"{int((n_current != 1).sum())} ids without exactly one current row")
        cur = scd[is_cur].set_index("id").sort_index()
        if cur.index.equals(exp.index):
            for c in ["customer_id", "last_status", "pos_origin", "pos_destination"]:
                if not (cur[c].astype(str).to_numpy() == exp[c].to_numpy()).all():
                    problems.append(f"retail_transactions_scd current {c} differs")
            for c in ["deleted_at", "valid_from"]:
                if not np.array_equal(_us(cur[c]), _us(exp[c])):
                    problems.append(f"retail_transactions_scd current {c} differs")
        return problems


# ---------------------------------------------------------------------------
# bonus_test reference (FIXTURES.md §5-7 semantics)
# ---------------------------------------------------------------------------


def _normalize(msgs) -> str:
    if not isinstance(msgs, list):
        msgs = [msgs]
    out = []
    for m in msgs:
        if isinstance(m, str):
            out.append(m)
        elif isinstance(m, dict):
            val = m.get("Message") or m.get("message") or m.get("text")
            out.append(val if isinstance(val, str) else json.dumps(m))
        else:
            out.append(str(m))
    return "; ".join(out)


class BonusReference:
    """Per-document detail rows, folded into the expected final table.
    Documents are parsed once, as they land."""

    def __init__(self):
        self.detail: dict[str, list[tuple]] = {}  # file → [(id, runtime_date, sum, cnt, msg)]
        self.values: dict[str, int] = {}  # file → metric values parsed (0 when corrupt)

    def add_folder(self, folder: str) -> int:
        """Parse newly landed documents; returns their detail-row count."""
        added = 0
        for name in sorted(os.listdir(folder)):
            if name in self.detail:
                continue
            with open(os.path.join(folder, name)) as f:
                try:
                    doc = json.load(f)
                except ValueError:
                    self.detail[name], self.values[name] = [], 0
                    continue
            msg = _normalize(doc.get("Messages", []))
            rows, nvals = [], 0
            for m in doc.get("MetricDataResults") or []:
                vals = m.get("Values") or []
                nvals += len(vals)
                if m.get("Id") is None:
                    continue
                s, cnt = 0.0, 0
                for v in vals:
                    if v is not None and not math.isnan(v):
                        s += v
                        cnt += 1
                ts = m.get("Timestamps") or []
                rows.append((m["Id"], max(ts) if ts else None, s, cnt, msg))
            self.detail[name], self.values[name] = rows, nvals
            added += len(rows)
        return added

    def values_parsed(self) -> int:
        return sum(self.values.values())

    def final(self) -> dict[str, tuple]:
        """id → (runtime_date, load_time, Message)."""
        acc: dict[str, list] = {}
        for name in sorted(self.detail):
            for mid, rd, s, cnt, msg in self.detail[name]:
                a = acc.setdefault(mid, [None, [], 0, set()])
                if rd is not None:
                    t = datetime.fromisoformat(rd)
                    a[0] = t if a[0] is None else max(a[0], t)
                a[1].append(s)
                a[2] += cnt
                if msg is not None and msg.strip() != "":
                    a[3].add(msg)
        out = {}
        for mid, (rd, sums, cnt, msgs) in acc.items():
            out[mid] = (
                rd.strftime("%Y-%m-%dT%H:%M:%S+00:00") if rd is not None else None,
                math.fsum(sums) / cnt / 60000.0 if cnt > 0 else None,
                "; ".join(sorted(msgs)),
            )
        return out

    def check(self, prod_dir: str) -> list[str]:
        exp = self.final()
        got = pq.read_table(prod_dir).to_pylist()
        problems = []
        if len(got) != len(exp):
            problems.append(f"lion_parcell_bonus_test has {len(got)} rows, expected {len(exp)}")
        for row in got:
            e = exp.get(row["id"])
            if e is None:
                problems.append(f"unexpected id {row['id']!r}")
                continue
            lt = row["load_time"]
            if (row["runtime_date"], row["Message"]) != (e[0], e[2]) or (lt is None) != (e[1] is None) or (
                lt is not None and not math.isclose(lt, e[1], rel_tol=1e-12)
            ):
                problems.append(f"id {row['id']!r}: got {(row['runtime_date'], lt, row['Message'])}, expected {e}")
            if len(problems) > 5:
                break
        return problems


def query_rowset(cols: list[str], rows: list[tuple]) -> tuple:
    """Column names plus the sorted canonical rows, using the value
    canonicalisation of ``tools/check_oracles.py``."""
    from check_oracles import rowset

    return tuple(sorted(cols)), tuple(rowset(cols, rows))
