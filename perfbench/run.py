"""Repository benchmark: the two hourly DAGs and an analytic query mix.

Run from the repository root:

    python3 perfbench/run.py --workload retail_hourly --seed 1 --seconds 6 --trace 0

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json, measured
with tracing off. ``--trace 1`` measures an untraced phase and then a
traced phase in a fresh session, half of ``--seconds`` each, and prints
the per-layer metrics plus the tracing overhead (traced minus untraced
``batch_p50_s``). The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The line before it
carries the figures that are not metrics (error rate, write
amplification, peak memory, machine state), and a full record with every batch and
span is written to ``.perfbench_out/`` in the repository root.

Everything the run creates lives under ``.perfbench_work/`` in the
repository root and is removed at the end. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 5


def cores() -> int:
    return len(os.sched_getaffinity(0))


def machine_state() -> dict:
    state = {"unix_time": round(time.time(), 3), "nproc": cores()}
    with open("/proc/loadavg") as f:
        state["loadavg"] = f.read().strip()
    with open("/proc/meminfo") as f:
        mem = dict(line.split(":", 1) for line in f if ":" in line)
    state["mem_available_mb"] = int(mem["MemAvailable"].split()[0]) // 1024
    with open("/proc/stat") as f:
        # user nice system idle iowait irq softirq steal, in clock ticks:
        # the end-minus-start steal shows time the host took away
        state["cpu_ticks"] = f.readline().split()[1:9]
    return state


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this process plus all its descendants:
    the JVM and the Python workers it forks."""
    kids, total, todo = _children(), 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


def start_session(app: str, ui: bool):
    from lion_parcel_etl_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if ui:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    spark = get_spark(app_name=app, master=f"local[{cores()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then end the JVM and wait for it to exit (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=60)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def end_to_end(batches, setup_s) -> dict:
    timed = sum(b["s"] for b in batches) or float("nan")  # nan when every batch failed
    return {
        "setup_s": (median(setup_s), "s"),
        "batch_p50_s": (median(b["s"] for b in batches), "s"),
        "batches_per_min": (60.0 * len(batches) / timed, "1/min"),
        "rows_per_s": (sum(b["rows"] for b in batches) / timed, "1/s"),
    }


def per_layer(wl, untraced, traced, tracer, jobs, stages) -> dict:
    import tracing

    dags = {"retail_hourly_etl": ("retail", ["stage", "retail_transactions", "retail_transactions_scd", "checks"]),
            "bonus_test": ("bonus", ["bonus_stg", "bonus_prod", "checks"])}
    by_group: dict[str, list[dict]] = {}
    for j in jobs:
        by_group.setdefault(j.get("jobGroup") or "", []).append(j)

    rows: list[dict[str, float]] = []  # one dict of per-batch values per traced batch
    for b in traced:
        spans = tracer.batch_totals(b["span_batch"])
        v = {
            "catalog.overwrite.n": spans.get("catalog.overwrite.n", 0),
            "catalog.overwrite.s": spans.get("catalog.overwrite.s", 0.0),
            "catalog.swap.s": spans.get("catalog.swap.s", 0.0),
            "catalog.rows_written": b["rows_written"],
            "catalog.bytes_written": b["bytes_written"],
            "catalog.files_written": b["files_written"],
            "catalog.rows_written_per_changed_row": b["rows_written"] / b["changed_rows"] if b["changed_rows"] else 0.0,
            "catalog.write_amp": b["bytes_written"] / b["input_bytes"] if b["input_bytes"] else 0.0,
            "metrics.record_write.s": spans.get("metrics.record_write.s", 0.0),
            "merge_upsert.plan_s": spans.get("merge_upsert.plan.s", 0.0),
            "scd2_apply.plan_s": spans.get("scd2_apply.plan.s", 0.0),
            "checks.run_checks.s": spans.get("checks.run_checks.s", 0.0),
            "metrics_json.input_bytes": spans.get("metrics_json.read.input_bytes", 0),
        }
        for dag, (short, tasks) in dags.items():
            for t in tasks:
                v[f"runner.{dag}.{t}.s"] = b["tasks"].get(t, 0.0) if wl.dag == dag else 0.0
        batch_jobs = by_group.get(b["span_batch"], [])
        if wl.dag:
            # tasks run one after another: attribute each job to the task
            # whose wall-clock window it was submitted in
            short, tasks = dags[wl.dag]
            bounds, t0 = [], b["start"]
            for t in tasks:
                bounds.append((t, t0))
                t0 += b["tasks"].get(t, 0.0)
            per_task: dict[str, list[dict]] = {t: [] for t in tasks}
            for j in batch_jobs:
                owner = tasks[0]
                for t, lo in bounds:
                    if j["submitted"] is not None and j["submitted"] >= lo - 0.002:
                        owner = t
                per_task[owner].append(j)
            for t in tasks:
                for f, x in tracing.exec_totals(per_task[t], stages).items():
                    v[f"exec.{short}.{t}.{f}"] = x
        else:
            for f, x in tracing.exec_totals(batch_jobs, stages).items():
                v[f"exec.query_mix.{f}"] = x
            v[f"query.{b['query']}.s"] = b["s"]
            v[f"query.{b['query']}.shuffle_write_bytes"] = tracing.exec_totals(batch_jobs, stages)["shuffle_write_bytes"]
        rows.append(v)

    out = {}
    for name, unit in per_layer_names():
        vals = [r[name] for r in rows if name in r]
        out[name] = (median(vals), unit)
    traced_jobs = [j for b in traced for j in by_group.get(b["span_batch"], [])]
    cpu = tracing.exec_totals(traced_jobs, stages)["cpu_s"]
    busy = sum(b["s"] for b in traced) * cores()
    out["exec.cpu_busy_share"] = (cpu / busy if busy else 0.0, "share")
    out["exec.skipped_stage_share"] = (tracing.skipped_share(traced_jobs), "share")
    out["trace.overhead_s"] = (median(b["s"] for b in traced) - median(b["s"] for b in untraced), "s")
    return out


def per_layer_names() -> list[tuple[str, str]]:
    from tracing import EXEC_FIELDS
    from workloads import QUERY_MIX

    names = [(f"runner.retail_hourly_etl.{t}.s", "s") for t in
             ["stage", "retail_transactions", "retail_transactions_scd", "checks"]]
    names += [(f"runner.bonus_test.{t}.s", "s") for t in ["bonus_stg", "bonus_prod", "checks"]]
    names += [("catalog.overwrite.n", "count"), ("catalog.overwrite.s", "s"), ("catalog.swap.s", "s"),
              ("catalog.rows_written", "count"), ("catalog.bytes_written", "bytes"),
              ("catalog.files_written", "count"), ("catalog.rows_written_per_changed_row", "ratio"),
              ("catalog.write_amp", "ratio"), ("metrics.record_write.s", "s"),
              ("merge_upsert.plan_s", "s"), ("scd2_apply.plan_s", "s"), ("checks.run_checks.s", "s"),
              ("metrics_json.input_bytes", "bytes")]
    units = {"task_s": "s", "cpu_s": "s", "gc_s": "s", "shuffle_write_bytes": "bytes",
             "input_bytes": "bytes", "spill_bytes": "bytes", "stages": "count"}
    spans = [f"retail.{t}" for t in ["stage", "retail_transactions", "retail_transactions_scd", "checks"]]
    spans += [f"bonus.{t}" for t in ["bonus_stg", "bonus_prod", "checks"]] + ["query_mix"]
    names += [(f"exec.{s}.{f}", units[f]) for s in spans for f in EXEC_FIELDS]
    names += [("exec.cpu_busy_share", "share"), ("exec.skipped_stage_share", "share")]
    for q in QUERY_MIX:
        names += [(f"query.{q}.s", "s"), (f"query.{q}.shuffle_write_bytes", "bytes")]
    names.append(("trace.overhead_s", "s"))
    return names


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "lion_parcel_etl_spark")):
        print(f"perfbench: no lion_parcel_etl_spark package next to {HERE}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # keep every file the run writes (Spark shuffle/spill files, session
    # stores, JVM temp files) inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData' pyspark-shell")
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    machine = {"start": machine_state()}
    wl = WORKLOADS[args.workload](work, args.seed)
    spark = None
    record: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace}
    try:
        wl.prepare()
        # set-up: start the session and run its first job; the first start
        # launches the JVM, the others restart the context inside it
        setup_s = []
        for _ in range(1 if args.trace else SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(f"perfbench-{args.workload}", ui=False)
            spark.range(1000).count()
            setup_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.run(spark, "warmup", count=wl.warm_up_batches(first=True))
        record["warmup_s"] = time.perf_counter() - t0
        # a traced run splits its time between an untraced and a traced phase
        seconds = args.seconds / 2 if args.trace else args.seconds
        first = wl.run(spark, "untraced" if args.trace else "main", seconds=seconds)
        if args.trace:
            import tracing

            spark.stop()
            spark = start_session(f"perfbench-{args.workload}-traced", ui=True)
            wl.run(spark, "warmup", count=wl.warm_up_batches(first=False))
            tracer = tracing.Tracer()
            tracer.install()
            try:
                traced = wl.run(spark, "traced", seconds=seconds, tracer=tracer)
            finally:
                tracer.uninstall()
            jobs, stages = tracing.fetch_exec(spark)
            metrics = per_layer(wl, first, traced, tracer, jobs, stages)
            record["spans"] = tracer.spans
        else:
            metrics = end_to_end(first, setup_s)
    finally:
        record["peak_rss_mb"] = peak_rss_mb()
        if spark is not None:
            stop_jvm(spark)
        machine["end"] = machine_state()
        shutil.rmtree(work, ignore_errors=True)

    checked = wl.batches
    failed = sum(1 for b in checked if not b["ok"])
    measured = [b for b in checked if b["phase"] != "warmup"]
    in_bytes = sum(b["input_bytes"] for b in measured)
    info = {
        "error_rate": failed / len(checked) if checked else 1.0,
        "write_amp": sum(b["bytes_written"] for b in measured) / in_bytes if in_bytes else None,
        "batches": len(measured),
        "setup_s": setup_s,
        "warmup_s": record["warmup_s"],
        "peak_rss_mb": record["peak_rss_mb"],
        "machine": machine,
        "problems": [p for b in checked for p in b["problems"]][:10],
    }
    record.update(info, batches=checked, metrics={k: v for k, (v, _) in metrics.items()})
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"info": info}, default=str))
    print(json.dumps({
        "correct": failed == 0 and bool(checked),
        "attempted": max(1, len(checked)),
        "failed": failed if checked else 1,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
