"""The three workloads. Each prepares its seeded inputs, warms a fresh
session up, then runs checked batches until the timed work reaches the
requested seconds.

A batch is one hourly DAG run (``retail_hourly``, ``bonus_ingest``) or
one query (``query_mix``); every batch is checked against the
independent reference in ``oracle.py``. Input generation and checks
happen between batches, outside the timed region.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import gen
import oracle

# Sizes. A run has to fit the benchmark's budget (start, warm up, then
# ``--seconds`` of batches, within ~40 s on four cores), so the
# inputs are far smaller than production; the ratios that matter are
# kept: the retail mart is ~50x the hourly change, and the bonus folder
# is ~20x each hourly increment.
RETAIL_IDS = 40_000
BONUS_IDS = 200
BONUS_FIRST_DOCS = 60
BONUS_DOCS_PER_HOUR = 3
# Anchor queries (bench.py ANCHOR) whose compile-and-run cost fits a run;
# see README.md for the ones left out.
QUERY_MIX = ["pricing_summary", "merge_upsert", "softdelete_mart", "window_running", "text_analysis"]
QUERY_ORDERS = 5000
# A measurement has at least two batches: with one, a run whose first
# batch alone reaches ``--seconds`` reports that batch instead of a median.
MIN_BATCHES = 2
# Never start a batch after this much wall time in one measurement, so a
# slow machine still exits well inside its limit.
MEASURE_WALL_CAP_S = 90.0


class Batch(dict):
    """One batch's record: ``s`` (timed seconds), ``ok``, ``problems``,
    plus workload counters."""


class Workload:
    name = ""
    dag: str | None = None

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.batches: list[Batch] = []

    def prepare(self) -> None:
        """Generate the seeded inputs (before any session starts)."""

    def batch(self, spark) -> Batch:
        """Run and check one batch; ``s`` is the timed part only."""
        raise NotImplementedError

    def warm_up_batches(self, first: bool) -> int:
        """Batches to run untimed after a session (re)start."""
        return 2 if first else 1

    def at_boundary(self) -> bool:
        """Whether a measurement may stop after the last batch."""
        return True

    def run(self, spark, phase: str, seconds: float = 0.0, count: int = 0, tracer=None) -> list[Batch]:
        """Run ``count`` batches, or at least ``MIN_BATCHES`` batches until
        their timed seconds reach ``seconds`` (ending on a boundary)."""
        out: list[Batch] = []
        wall0 = time.perf_counter()
        while True:
            if count:
                if len(out) >= count:
                    break
            elif (sum(b["s"] for b in out) >= seconds and len(out) >= MIN_BATCHES and self.at_boundary()) or \
                    time.perf_counter() - wall0 > MEASURE_WALL_CAP_S:
                break
            idx = len(self.batches)
            if tracer is not None:
                tracer.batch = f"{phase}:{idx}"
                spark.sparkContext.setJobGroup(tracer.batch, self.name)
            try:
                b = self.batch(spark)
            except Exception as e:  # a failed batch is counted, not fatal
                b = Batch(s=0.0, ok=False, problems=[f"{type(e).__name__}: {e}"],
                          trace=traceback.format_exc(limit=5))
            b["phase"], b["index"] = phase, idx
            if tracer is not None:
                b["span_batch"] = tracer.batch
                tracer.batch = None
                spark.sparkContext.setJobGroup("untimed", "between batches")
            print(f"perfbench: {self.name} {phase} batch {idx}: {b['s']:.3f} s ok={b['ok']}",
                  file=sys.stderr, flush=True)
            self.batches.append(b)
            out.append(b)
            if not b["ok"] and b["s"] == 0.0:
                break
        return out


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _written(report: dict) -> tuple[int, int, int]:
    rows = size = files = 0
    for r in report.values():
        for w in r["writes"]:
            rows, size, files = rows + w["rows"], size + w["bytes"], files + w["files"]
    return rows, size, files


class RetailHourly(Workload):
    """``retail_hourly_etl`` once per hour over a seeded source snapshot.
    Hour 0 is the full refresh; it and hour 1 are the warm-up."""

    name = "retail_hourly"
    dag = "retail_hourly_etl"

    def prepare(self):
        from lion_parcel_etl_spark.catalog import Warehouse
        from lion_parcel_etl_spark.pipelines.dags import build_retail_pipeline

        self.pipeline = build_retail_pipeline()
        self.source = gen.RetailSource(self.seed, RETAIL_IDS)
        self.ref = oracle.RetailReference()
        self.wh = Warehouse(os.path.join(self.work, "warehouse"))
        self.src_dir = os.path.join(self.work, "src")
        os.makedirs(self.src_dir, exist_ok=True)
        self.hour = -1

    def batch(self, spark):
        self.hour += 1
        if self.hour:
            self.source.advance()
        hour, wh = self.hour, self.wh
        path = os.path.join(self.src_dir, f"hour-{hour:04d}.parquet")
        table = self.source.write(path)
        changed = self.ref.apply(table, gen.run_ts(hour))
        start = time.time()

        def run():
            ctx = {"spark": spark, "warehouse": wh, "run_ts": gen.run_ts(hour),
                   "source_df": spark.read.parquet(path)}
            return self.pipeline.run_with_metrics(ctx)

        s, report = _timed(run)
        rows, size, files = _written(report)
        problems = self.ref.check(wh.table_path("retail_transactions"), wh.table_path("retail_transactions_scd"))
        b = Batch(s=s, ok=not problems, problems=problems, start=start, hour=hour,
                  rows=table.num_rows, input_bytes=os.path.getsize(path), changed_rows=changed,
                  rows_written=rows, bytes_written=size, files_written=files,
                  tasks={t: r["wall_s"] for t, r in report.items()})
        os.remove(path)
        return b


class BonusIngest(Workload):
    """``bonus_test`` once per hourly increment of a growing JSON folder.
    Hour 0 lands the first documents; it and hour 1 are the warm-up."""

    name = "bonus_ingest"
    dag = "bonus_test"

    def prepare(self):
        from lion_parcel_etl_spark.catalog import Warehouse
        from lion_parcel_etl_spark.pipelines.dags import build_bonus_pipeline

        self.pipeline = build_bonus_pipeline()
        self.folder = os.path.join(self.work, "json")
        self.ref = oracle.BonusReference()
        self.wh = Warehouse(os.path.join(self.work, "warehouse"))
        self.hour, self.next_doc = -1, 0

    def batch(self, spark):
        self.hour += 1
        hour, wh, folder = self.hour, self.wh, self.folder
        count = BONUS_FIRST_DOCS if hour == 0 else BONUS_DOCS_PER_HOUR
        gen.write_bonus_docs(self.seed, folder, self.next_doc, count, BONUS_IDS)
        self.next_doc += count
        new_rows = self.ref.add_folder(folder)
        start = time.time()

        def run():
            ctx = {"spark": spark, "warehouse": wh, "run_ts": gen.run_ts(hour), "json_dir": folder}
            return self.pipeline.run_with_metrics(ctx)

        s, report = _timed(run)
        rows, size, files = _written(report)
        problems = self.ref.check(wh.table_path("lion_parcell_bonus_test"))
        in_bytes = sum(os.path.getsize(os.path.join(folder, f)) for f in os.listdir(folder))
        return Batch(s=s, ok=not problems, problems=problems, start=start, hour=hour,
                     rows=self.ref.values_parsed(), input_bytes=in_bytes, changed_rows=new_rows,
                     rows_written=rows, bytes_written=size, files_written=files,
                     tasks={t: r["wall_s"] for t, r in report.items()})


class QueryMix(Workload):
    """Read-only analytic queries from ``plans.queries`` over seeded
    tables, each to the noop sink, in a seeded order per pass. One pass
    is the warm-up; measurements end on a pass boundary."""

    name = "query_mix"

    def prepare(self):
        import duckdb

        from lion_parcel_etl_spark.plans.queries import QUERIES, TABLES

        self.queries = QUERIES
        self.tables = os.path.join(self.work, "tables")
        self.table_rows = gen.write_query_tables(self.seed, self.tables, n_orders=QUERY_ORDERS)
        self.table_files = {os.path.realpath(os.path.join(self.tables, f"{t}.parquet")): t for t in TABLES}
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.tables}/{t}.parquet'")
            self.expected = {}
            for name in QUERY_MIX:
                res = con.execute(self.queries[name][1])
                self.expected[name] = oracle.query_rowset([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()
        self.rng = gen.rng(self.seed, 4, 0)
        self.pending: list[str] = []
        self.input_rows: dict[str, int] = {}

    def warm_up_batches(self, first: bool) -> int:
        return len(QUERY_MIX)

    def at_boundary(self) -> bool:
        return not self.pending

    def _evict_stores(self, spark):
        # Session stores memoize shared builds per session; evicting them
        # before every query makes each batch pay its own build.
        from lion_parcel_etl_spark.plans import queries as Q

        app = spark.sparkContext.applicationId
        for key in [k for k in Q._SIG_STORE_MEMO if k[0] == app]:
            Q._evict_session_store(spark, key[1], key[2])

    def batch(self, spark):
        if not self.pending:
            self.pending = [QUERY_MIX[i] for i in self.rng.permutation(len(QUERY_MIX))]
        name = self.pending.pop(0)
        fn = self.queries[name][0]
        self._evict_stores(spark)
        start = time.time()

        def run():
            df = fn(spark, self.tables)
            df.write.format("noop").mode("overwrite").save()
            return df

        s, df = _timed(run)
        spark.sparkContext.setJobGroup("untimed", "check")
        if name not in self.input_rows:
            files = [os.path.realpath(f.removeprefix("file://")) for f in df.inputFiles()]
            self.input_rows[name] = sum(self.table_rows[self.table_files[f]] for f in files)
        got = oracle.query_rowset(df.columns, [tuple(r) for r in df.collect()])
        problems = [] if got == self.expected[name] else [f"{name}: result differs from its DuckDB oracle"]
        return Batch(s=s, ok=not problems, problems=problems, start=start, query=name,
                     rows=self.input_rows[name], input_bytes=0, changed_rows=0,
                     rows_written=0, bytes_written=0, files_written=0, tasks={})


WORKLOADS = {w.name: w for w in (RetailHourly, BonusIngest, QueryMix)}
