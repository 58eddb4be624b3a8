"""Retail pipeline: staging load + merge/soft-delete mart + SCD2 mart.

Re-expresses the reference's two-task hourly DAG
(``dags/retail_hourly_etl.py:17-39``):

1. ``stage_source`` — extract-project-load with an injected run
   timestamp (reference ``public/source_transaction_lion_parcel.py:27-68``:
   7-column projection + ``current_timestamp as loaded_at``,
   truncate-reload staging).
2. ``retail_transactions_model`` — the merge + soft-delete mart
   (reference ``dbt/models/marts/retail_transactions.sql:21-49``):
   ``created_at`` coalesced to run ts, ``updated_at`` = run ts,
   ``deleted_at`` = run ts when ``last_status='DONE'`` and *preserved*
   once set via a left join to the previous target (J1).
3. The SCD2 mart is ``operators.scd2.scd2_apply`` over the same staging
   snapshot (see that module).

All run-time expressions take ``run_ts`` (deterministic, testable)
instead of ``current_timestamp`` — SURVEY.md §7 hard part 6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lion_parcel_etl_spark.operators.merge_upsert import merge_upsert

SOURCE_COLS = [
    "id",
    "customer_id",
    "last_status",
    "pos_origin",
    "pos_destination",
    "created_at",
    "updated_at",
]


def stage_source(source: DataFrame, run_ts: str) -> DataFrame:
    """Project the 7 source columns and stamp ``loaded_at`` (S1/P1/K1)."""
    return source.select(*SOURCE_COLS, F.to_timestamp(F.lit(run_ts)).alias("loaded_at"))


def retail_snapshot(staging: DataFrame, run_ts: str) -> DataFrame:
    """Typed snapshot with soft-delete semantics, shared by both marts
    (reference retail_transactions_scd.sql:9-24 casts + :19-22 deleted_at)."""
    run = F.to_timestamp(F.lit(run_ts))
    return staging.select(
        F.col("id").cast("long").alias("id"),
        F.col("customer_id").cast("string").alias("customer_id"),
        F.col("last_status").cast("string").alias("last_status"),
        F.col("pos_origin").cast("string").alias("pos_origin"),
        F.col("pos_destination").cast("string").alias("pos_destination"),
        F.coalesce(F.col("created_at").cast("timestamp"), run).alias("created_at"),
        F.col("updated_at").cast("timestamp").alias("updated_at"),
        F.when(F.col("last_status") == "DONE", F.col("updated_at").cast("timestamp"))
        .otherwise(F.lit(None).cast("timestamp"))
        .alias("deleted_at"),
    )


def retail_transactions_model(
    target: DataFrame | None, staging: DataFrame, run_ts: str
) -> DataFrame:
    """Merge + soft delete mart (K6/J1/F1-F5), upsert by ``id``.

    deleted_at: run ts when status is DONE, preserving any earlier value
    from the target (``coalesce(t.deleted_at, now())``, reference :37-44);
    null otherwise.
    """
    run = F.to_timestamp(F.lit(run_ts))
    src = retail_snapshot(staging, run_ts).select(
        "id",
        "customer_id",
        "last_status",
        "pos_origin",
        "pos_destination",
        "created_at",
        run.alias("updated_at"),
    )
    if target is not None:
        # Tiny key-value side of a broadcast left join: the previous
        # deleted_at per id (J1, reference :46-48).
        prior = F.broadcast(target.select("id", F.col("deleted_at").alias("__prior_deleted")))
        src = src.join(prior, on="id", how="left")
    else:
        src = src.withColumn("__prior_deleted", F.lit(None).cast("timestamp"))
    updates = src.select(
        "id",
        "customer_id",
        "last_status",
        "pos_origin",
        "pos_destination",
        "created_at",
        "updated_at",
        F.when(
            F.col("last_status") == "DONE",
            F.coalesce(F.col("__prior_deleted"), run),
        )
        .otherwise(F.lit(None).cast("timestamp"))
        .alias("deleted_at"),
    )
    return merge_upsert(target, updates, keys=["id"])


def bonus_prod_model(target: DataFrame | None, staging: DataFrame) -> DataFrame:
    """lion_parcell_bonus_test prod projection + upsert by id (K8/P3,
    reference dbt/models/marts/lion_parcell_bonus_test.sql:7-12).
    Column case preserved exactly, including quoted ``Message``."""
    updates = staging.select("id", "runtime_date", "load_time", "Message")
    return merge_upsert(target, updates, keys=["id"])
