"""Gold layer: generated dimensions, aggregate views, materialized views.

The reference's Gold layer is pre-aggregated analytics views plus
materialized views refreshed on schedule (`REFRESH MATERIALIZED VIEW ...
CONCURRENTLY`, docs/03_Data_Warehouse_Layers.md:442-511,749-757). OSS Spark
has no MV object, so a "materialized view" here is an aggregate DataFrame
persisted to parquet and atomically swapped on refresh — readers of the
published path never see a half-written refresh (the CONCURRENTLY analog).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trialsync_etl_spark.catalog import load_table
from trialsync_etl_spark.transforms import WarehouseContext, transform

GOLD_CHAIN = "refresh_gold_views"


def date_dimension(spark: SparkSession, start: str, end: str) -> DataFrame:
    """populate_dw_dim_date analog (docs/03:389-422): one row per calendar
    day, generated with sequence+explode — no source scan, perfectly
    parallel, deterministic."""
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(start).cast("date"),
                F.lit(end).cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("date")
    )
    d = F.col("date")
    return days.select(
        d,
        # F7 get_date_key: TO_CHAR(d,'YYYYMMDD')::INT (docs/03:717-727)
        (F.year(d) * 10000 + F.month(d) * 100 + F.dayofmonth(d)).cast("int").alias("date_key"),
        F.year(d).cast("int").alias("year"),
        F.quarter(d).cast("int").alias("quarter"),
        F.month(d).cast("int").alias("month"),
        F.dayofmonth(d).cast("int").alias("day"),
        # ISO weekday 0=Monday..6=Sunday (portable across engines)
        F.weekday(d).cast("int").alias("weekday"),
        (F.weekday(d) >= 5).alias("is_weekend"),
        F.date_format(d, "MMMM").alias("month_name"),
    )


def enrollment_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v_enrollment_summary analog (docs/03:442-460): per-month ×
    market-segment funnel over orders/customer — distinct "subjects",
    order counts, value totals, and the NULLIF-guarded urgent ratio."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    month = F.date_format("o_orderdate", "yyyy-MM").alias("order_month")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(month, "c_mktsegment")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_value"),
            F.round(
                F.lit(100.0)
                * F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1))
                / F.nullif(F.count(F.lit(1)), F.lit(0)),
                2,
            ).alias("pct_urgent"),
        )
    )


def subject_status_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v_subject_status_summary analog (docs/03:462-482): current-status
    rollup grouped on a JSON-extracted path (the data->>'status' idiom).

    n_tags exercises the F2 jsonb_array_length idiom (docs/03:168-172):
    a JSON array is built per group and measured with json_array_length —
    the oracle derives the expected count arithmetically, so the whole
    build→serialize→measure pipeline is independently verified."""
    e = load_table(spark, sf_dir, "events")
    k_value = F.get_json_object("props", "$.k").cast("int").alias("k_value")
    # pmod, not %: Spark's % is sign-preserving, and array_repeat with a
    # negative count silently yields [] while the oracle computes the
    # arithmetic value — a negative k would hash-mismatch (recorded pitfall)
    tags_json = F.to_json(
        F.array_repeat(
            F.col("event_type"), (F.pmod(F.col("k_value"), F.lit(3)) + 1).cast("int")
        )
    )
    return (
        e.groupBy("event_type", k_value)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "event_type",
            "k_value",
            "n_events",
            F.json_array_length(tags_json).cast("int").alias("n_tags"),
        )
    )


# ---------------------------------------------------------------------------
# materialized-view mechanics
# ---------------------------------------------------------------------------
def materialize(df: DataFrame, publish_path: str) -> int:
    """Refresh a materialized aggregate atomically (REFRESH ... CONCURRENTLY
    analog — readers keep a consistent snapshot; parquet readers hold the
    old file listing for in-flight queries). Returns the published row
    count, observed on the publish write itself (no read-back job)."""
    from trialsync_etl_spark.storage import swap_publish

    return swap_publish(df, publish_path, return_count=True)


def read_materialized(spark: SparkSession, publish_path: str) -> DataFrame:
    return spark.read.parquet(publish_path)


@transform("refresh_mv_enrollment_summary", chain=GOLD_CHAIN)
def refresh_mv_enrollment_summary(spark: SparkSession, ctx: WarehouseContext) -> int:
    return materialize(
        enrollment_summary(spark, ctx.sf_dir),
        ctx.table_path("mv_enrollment_summary"),
    )


@transform("refresh_mv_subject_status", chain=GOLD_CHAIN)
def refresh_mv_subject_status(spark: SparkSession, ctx: WarehouseContext) -> int:
    return materialize(
        subject_status_summary(spark, ctx.sf_dir),
        ctx.table_path("mv_subject_status"),
    )


def visit_arm_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-arm visit rollup over the fact_visit path (docs/03 gold-view
    shape applied to the round-4 visit facts): counts, completion/skip
    totals, duration minutes — the same derived-measure chain
    load_fact_visit lands, value-verified by the gold_visit_arm_summary
    oracle query."""
    from trialsync_etl_spark.plans.warehouse import gold_visit_arm_summary

    return gold_visit_arm_summary(spark, sf_dir)


@transform("refresh_mv_visit_arm_summary", chain=GOLD_CHAIN)
def refresh_mv_visit_arm_summary(spark: SparkSession, ctx: WarehouseContext) -> int:
    return materialize(
        visit_arm_summary(spark, ctx.sf_dir),
        ctx.table_path("mv_visit_arm_summary"),
    )


@transform("refresh_sketch_rollup_events", chain=GOLD_CHAIN)
def refresh_sketch_rollup_events(spark: SparkSession, ctx: WarehouseContext) -> int:
    """Maintain the events distinct-count rollup alongside the gold MVs —
    the continuous-aggregate companion the MVs can't provide (COUNT
    (DISTINCT) doesn't decompose into partition aggregates; HLL sketches
    do). Folds the event stream into per-(event_type, event_date)
    sketches under ``sketch_events``; any later range/regroup estimate —
    GET-dashboard "distinct users this week" class questions — reads
    kilobyte sketch rows via ``estimate_rollup``, never the raw stream.

    The fold uses a FIXED batch_id: this transform is the full-refresh
    cadence (cf. the MVs), so a re-run REPLACES the batch partition and
    stays idempotent. Incremental per-ingest folds append under their own
    run ids via the `sketch` CLI. Returns the
    rollup rows the refresh wrote (observed on the write; no read-back)."""
    from trialsync_etl_spark.operators.sketch_store import (
        FULL_REFRESH_BATCH,
        append_sketch_rollup,
    )

    ev = load_table(spark, ctx.sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.to_date("ts").alias("event_date")
    )
    return append_sketch_rollup(
        ev,
        ctx.table_path("sketch_events"),
        ["event_type", "event_date"],
        ["user_id", "event_id"],
        batch_id=FULL_REFRESH_BATCH,
    )


@transform("refresh_freq_rollup_events", chain=GOLD_CHAIN)
def refresh_freq_rollup_events(spark: SparkSession, ctx: WarehouseContext) -> int:
    """The frequency twin of the distinct-count rollup: fold the event
    stream's per-user activity counts into the ``freq_events`` count-min
    store (operators/freq.py) — "which users are hot / is a key skewing
    the next join" is then a kilobyte cell read (``cm_store_estimate`` /
    the `freq` CLI), never an events rescan. Same full-refresh cadence
    and idempotence contract as ``refresh_sketch_rollup_events`` (the
    fixed batch_id REPLACES its partition on re-run).

    Cadence contract: CM cells are ADDITIVE, so rows this full refresh
    covers must not ALSO fold under per-ingest ids into the same store —
    unlike the HLL twin (idempotent union; only the auxiliary n_rows
    inflates), a double fold here doubles the primary estimate. A
    deployment that folds at ingest cadence (`freq append`) should drop
    this transform from its chain or point it at a separate store; reads
    can also exclude a window via ``where`` (e.g. ``batch_id !=
    'full-refresh'``). The nightly
    ``maintain_compact_freq_store`` folds finished ingest ids into
    ``__base`` exactly either way. Returns the cells the refresh wrote."""
    from trialsync_etl_spark.operators.freq import append_cm_rollup
    from trialsync_etl_spark.operators.sketch_store import FULL_REFRESH_BATCH

    ev = load_table(spark, ctx.sf_dir, "events").select("user_id")
    return append_cm_rollup(
        ev,
        ctx.table_path("freq_events"),
        "user_id",
        batch_id=FULL_REFRESH_BATCH,
    )


@transform("refresh_hot_keys", chain=GOLD_CHAIN)
def refresh_hot_keys(spark: SparkSession, ctx: WarehouseContext) -> int:
    """Detect→mitigate, the detect half MATERIALIZED: the event stream's
    exact heavy hitters (``freq.heavy_hitters`` — two bounded passes,
    never a distinct-key shuffle) published as the ``hot_keys`` table
    ``(user_id, n_rows, share, detected_at)``. This is the list
    ``skew.targeted_salted_join`` / ``salted_join`` consume, so the skew
    decision is a warehouse artifact refreshed with the gold chain, not
    something each job re-derives. An empty table is a real verdict (no
    key owns ≥ phi of events) — the targeted join degrades to the plain
    plan on it. ``ctx.options['hot_key_phi']`` tunes the share cutoff."""
    from trialsync_etl_spark.operators.freq import heavy_hitters
    from trialsync_etl_spark.reports import HOT_KEYS
    from trialsync_etl_spark.storage import swap_publish

    ev = load_table(spark, ctx.sf_dir, "events").select("user_id")
    phi = float(ctx.options.get("hot_key_phi", 0.01))
    hot = heavy_hitters(ev, "user_id", phi=phi).withColumn(
        "detected_at", F.current_timestamp()
    )
    return swap_publish(hot, ctx.table_path(HOT_KEYS.table), return_count=True)


@transform("refresh_mv_enrollment_summary_incremental", chain=None)
def refresh_mv_enrollment_summary_incremental(
    spark: SparkSession, ctx: WarehouseContext
) -> int:
    """Incremental MV refresh (the Spark-first upgrade of the reference's
    scheduled full `REFRESH MATERIALIZED VIEW`, docs/03:749-757): only
    orders at or after the stored watermark are sliced, the months they
    touch are re-aggregated FROM THE FULL month (late rows merge
    correctly; o_orderdate is date-grained, so the boundary date must be
    rescanned, and the full-month re-aggregation makes that idempotent),
    and only those month partitions of the MV are replaced by dynamic
    partition overwrite — untouched months are never recomputed or
    rewritten. Same cadence pattern as
    load_fact_daily_events_incremental (streaming.incremental
    .run_incremental); converges to the full `enrollment_summary`
    (pinned by test).

    The watermark and the listing fingerprint cover ``orders`` only: a
    change to ``customer`` alone does not refresh the MV (the full
    refresh does).

    Returns the rows written (the touched months' rows), counted during
    the write.

    ctx.options: {"watermark_store": WatermarkStore} (required).
    """
    from trialsync_etl_spark.storage import write_counted
    from trialsync_etl_spark.streaming.incremental import run_incremental

    month = F.date_format("o_orderdate", "yyyy-MM").alias("order_month")

    def reaggregate(new, full):
        touched = new.select(month).distinct()
        o = full.withColumn("order_month", month)
        c = load_table(spark, ctx.sf_dir, "customer")
        mv = (
            o.join(F.broadcast(touched), "order_month", "left_semi")
            .join(c, o.o_custkey == c.c_custkey)
            .groupBy("order_month", "c_mktsegment")
            .agg(
                F.countDistinct("o_custkey").alias("n_customers"),
                F.count(F.lit(1)).alias("n_orders"),
                F.round(F.sum("o_totalprice"), 2).alias("total_value"),
                F.round(
                    F.lit(100.0)
                    * F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1))
                    / F.nullif(F.count(F.lit(1)), F.lit(0)),
                    2,
                ).alias("pct_urgent"),
            )
        )
        return write_counted(
            mv, ctx.table_path("mv_enrollment_summary_inc"),
            partition_by=("order_month",), dynamic=True,
        )

    return run_incremental(
        spark, ctx.options["watermark_store"], "mv_enrollment_summary",
        ctx.sf_dir, "orders", "o_orderdate", reaggregate,
    )
