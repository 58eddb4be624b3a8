"""Traced mode: spans around the engine's public layer calls, plus Spark
execution metrics per span from job groups and the Spark UI REST API.

Spans are kept in memory and written out when the run ends. Layer calls
are wrapped from here, by replacing the module attributes the pipelines
look up (``Warehouse.overwrite``/``read``, ``catalog.swap_dir``,
``RunMetrics.record_write``, the operators the DAG tasks call and the
metrics JSON source) for the duration of the traced phase only.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

# (module, attribute, span name). Class attributes are patched on the
# class; module functions on the module that CALLS them, since the
# pipelines import them by name.
_TARGETS = [
    ("lion_parcel_etl_spark.catalog", "Warehouse.overwrite", "catalog.overwrite"),
    ("lion_parcel_etl_spark.catalog", "Warehouse.read", "catalog.read"),
    ("lion_parcel_etl_spark.catalog", "swap_dir", "catalog.swap"),
    ("lion_parcel_etl_spark.metrics", "RunMetrics.record_write", "metrics.record_write"),
    ("lion_parcel_etl_spark.pipelines.retail", "merge_upsert", "merge_upsert.plan"),
    ("lion_parcel_etl_spark.pipelines.dags", "scd2_apply", "scd2_apply.plan"),
    ("lion_parcel_etl_spark.pipelines.dags", "run_checks", "checks.run_checks"),
    ("lion_parcel_etl_spark.pipelines.bonus", "read_metrics_docs", "metrics_json.read"),
]


def _folder_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._saved: list[tuple] = []
        self.batch: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "batch": self.batch, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def _wrap(self, fn, name):
        tracer = self

        def traced(*args, **kwargs):
            attrs = {}
            if name == "metrics_json.read":
                attrs["input_bytes"] = _folder_bytes(args[1])
            with tracer.span(name, **attrs):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        import importlib

        for mod_name, attr, span in _TARGETS:
            owner = importlib.import_module(mod_name)
            parts = attr.split(".")
            for p in parts[:-1]:
                owner = getattr(owner, p)
            orig = owner.__dict__[parts[-1]]
            self._saved.append((owner, parts[-1], orig))
            setattr(owner, parts[-1], self._wrap(orig, span))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def batch_totals(self, batch: str) -> dict[str, float]:
        """Per-batch span counts, total seconds and counters by name."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["batch"] != batch:
                continue
            out[f"{s['name']}.n"] = out.get(f"{s['name']}.n", 0) + 1
            out[f"{s['name']}.s"] = out.get(f"{s['name']}.s", 0.0) + (s["end"] - s["start"])
            if "input_bytes" in s:
                out[f"{s['name']}.input_bytes"] = out.get(f"{s['name']}.input_bytes", 0) + s["input_bytes"]
        return out


# ---------------------------------------------------------------------------
# Spark execution metrics via the UI REST API
# ---------------------------------------------------------------------------


def _get(spark, path: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _epoch(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(tzinfo=timezone.utc).timestamp()


def fetch_exec(spark) -> tuple[list[dict], dict[int, dict]]:
    """(jobs, stageId → summed stage metrics) for the whole application."""
    jobs = _get(spark, "jobs")
    stages: dict[int, dict] = {}
    for st in _get(spark, "stages"):
        if st.get("status") == "SKIPPED":
            continue
        acc = stages.setdefault(st["stageId"], {
            "task_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
            "input_bytes": 0, "spill_bytes": 0, "attempts": 0})
        acc["task_s"] += st.get("executorRunTime", 0) / 1e3
        acc["cpu_s"] += st.get("executorCpuTime", 0) / 1e9
        acc["gc_s"] += st.get("jvmGcTime", 0) / 1e3
        acc["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
        acc["input_bytes"] += st.get("inputBytes", 0)
        acc["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
        acc["attempts"] += 1
    for j in jobs:
        j["submitted"] = _epoch(j.get("submissionTime"))
    return jobs, stages


EXEC_FIELDS = ["task_s", "cpu_s", "gc_s", "shuffle_write_bytes", "input_bytes", "spill_bytes", "stages"]


def exec_totals(jobs: list[dict], stages: dict[int, dict]) -> dict[str, float]:
    """Summed execution metrics of ``jobs``; ``stages`` counts the stages
    that ran (skipped ones excluded)."""
    out = {f: 0 for f in EXEC_FIELDS}
    seen = set()
    for j in jobs:
        for sid in j.get("stageIds", []):
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            for f in EXEC_FIELDS[:-1]:
                out[f] += stages[sid][f]
            out["stages"] += 1
    return out


def skipped_share(jobs: list[dict]) -> float:
    total = sum(len(j.get("stageIds", [])) for j in jobs)
    return sum(j.get("numSkippedStages", 0) for j in jobs) / total if total else 0.0
