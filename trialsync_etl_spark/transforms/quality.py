"""Post-load warehouse verification — the declared DQ suite as a chain step.

The reference treats post-load verification as operational practice: its
docs prescribe checking duplicate business keys, orphaned fact rows, and
negative measures after every warehouse load
(ref: docs/03_Data_Warehouse_Layers.md:775-814 — "Data Quality Checks"
verification queries). Here that practice is a DECLARED suite compiled by
`operators.quality`: every per-table check collapses into one aggregate
per table and every fact→dim orphan check into one lazy anti-join count,
all unioned into a single report DataFrame — collecting it runs the whole
suite as ONE Spark action, never a job per check.

The suite runs as a registered transformation (`run_quality_checks`,
chain ``verify_warehouse``) after the dim/fact/gold chains; the report is
atomically published as a warehouse table (``dq_report``) so the control
plane (GET /quality) and CLI (``quality`` subcommand) serve the landed
verdicts without re-running checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trialsync_etl_spark.operators import quality as Q
from trialsync_etl_spark.reports import DQ_REPORT
from trialsync_etl_spark.transforms import WarehouseContext, transform

QUALITY_CHAIN = "verify_warehouse"


def _read(spark: SparkSession, ctx: WarehouseContext, name: str) -> DataFrame:
    import os

    path = ctx.table_path(name)
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"quality suite needs table '{name}' — run the dim/fact chains first"
        )
    return spark.read.parquet(path)


def warehouse_quality_report(spark: SparkSession, ctx: WarehouseContext) -> DataFrame:
    """The declared suite over the built warehouse: business-key
    not-null/unique on all 10 dims, fact→dim referential checks on all 6
    facts, and non-negative-measure guards — one LAZY report DataFrame
    (table, check, column, n_violations, passed)."""
    from concurrent.futures import ThreadPoolExecutor

    from trialsync_etl_spark.operators.scd2 import read_scd2

    # the 16 table opens are independent driver-side footer/schema reads
    # (~70-130 ms each, sequential ≈ 1.2 s of the suite's build time);
    # a small thread pool overlaps them (guide-§2.6 shape: independent
    # driver work belongs on threads). Existence still errors clearly.
    names = [
        "dim_customer", "dim_users", "dim_date", "dim_site", "dim_staff",
        "dim_sponsor", "dim_element", "dim_patient", "dim_study",
        "dim_visit", "fact_orders", "fact_daily_events",
        "fact_element_completions", "fact_subject_status_change",
        "fact_visit", "fact_subject_arm",
    ]
    with ThreadPoolExecutor(max_workers=8) as pool:
        tbl = dict(zip(names, pool.map(lambda n: _read(spark, ctx, n), names)))
    dim_customer = tbl["dim_customer"]
    dim_users = read_scd2(spark, ctx.table_path("dim_users"))
    dim_date = tbl["dim_date"]
    dim_site = tbl["dim_site"]
    dim_staff = tbl["dim_staff"]
    dim_sponsor = tbl["dim_sponsor"]
    dim_element = tbl["dim_element"]
    dim_patient = tbl["dim_patient"]
    dim_study = tbl["dim_study"]
    dim_visit = tbl["dim_visit"]
    fact_orders = tbl["fact_orders"]
    fact_daily_events = tbl["fact_daily_events"]
    fact_completions = tbl["fact_element_completions"]
    fact_status_change = tbl["fact_subject_status_change"]
    fact_visit = tbl["fact_visit"]
    fact_subject_arm = tbl["fact_subject_arm"]

    users_current = dim_users.filter("is_current")

    suite: dict[str, tuple[DataFrame, list[Q.Check]]] = {
        # dims — duplicate business keys are the reference's first
        # verification query (docs/03:779-787)
        "dim_customer": (
            dim_customer,
            [Q.not_null("customer_id"), Q.unique("customer_id"), Q.unique("customer_key")],
        ),
        "dim_users": (dim_users, [Q.not_null("user_id"), Q.unique("dim_key")]),
        # SCD2 invariant: exactly one current version per business key
        "dim_users#current": (users_current, [Q.unique("user_id")]),
        "dim_date": (dim_date, [Q.not_null("date_key"), Q.unique("date_key")]),
        "dim_site": (dim_site, [Q.not_null("site_id"), Q.unique("site_id")]),
        "dim_staff": (dim_staff, [Q.not_null("staff_id"), Q.unique("staff_id")]),
        "dim_sponsor": (dim_sponsor, [Q.not_null("sponsor_name"), Q.unique("sponsor_name")]),
        "dim_element": (
            dim_element,
            [
                Q.not_null("element_id"),
                Q.unique("element_id"),
                Q.expression("budget IS NULL OR budget >= 0", "non_negative(budget)"),
                Q.expression("cost IS NULL OR cost >= 0", "non_negative(cost)"),
            ],
        ),
        "dim_patient": (dim_patient, [Q.not_null("patient_id"), Q.unique("patient_id")]),
        "dim_study": (dim_study, [Q.not_null("study_id"), Q.unique("study_id")]),
        "dim_visit": (
            dim_visit,
            [Q.not_null("patient_visit_id"), Q.unique("patient_visit_id")],
        ),
        # facts — negative measures (docs/03:803-810) plus fact→dim orphan
        # checks (docs/03:789-801). Broadcast-class parents (date /
        # customer / element / staff dims) fold into the fact's SINGLE
        # aggregate scan via Q.foreign_key — one scan per fact no matter
        # how many FKs it declares; NULL keys are excluded (not_null
        # covers mandatory keys).
        "fact_orders": (
            fact_orders,
            [
                Q.not_null("order_id"),
                Q.unique("order_id"),
                Q.expression("total_price >= 0", "non_negative(total_price)"),
                Q.foreign_key("customer_key", dim_customer, "customer_key"),
                Q.foreign_key("order_date_key", dim_date, "date_key"),
            ],
        ),
        "fact_daily_events": (
            fact_daily_events,
            [
                Q.unique("date_key", "event_type"),
                Q.expression("n_events >= 1", "positive(n_events)"),
                Q.foreign_key("date_key", dim_date, "date_key"),
            ],
        ),
        "fact_element_completions": (
            fact_completions,
            [
                Q.not_null("completion_id"),
                Q.unique("completion_id"),
                Q.expression("quantity >= 0", "non_negative(quantity)"),
                Q.foreign_key("element_key", dim_element, "element_key"),
                Q.foreign_key("staff_key", dim_staff, "staff_key"),
                Q.foreign_key("completion_date_key", dim_date, "date_key"),
            ],
        ),
        "fact_subject_status_change": (
            fact_status_change,
            [
                Q.not_null("subject_id"),
                Q.expression(
                    "days_in_prev_status >= 0", "non_negative(days_in_prev_status)"
                ),
                Q.foreign_key("change_date_key", dim_date, "date_key"),
            ],
        ),
        "fact_visit": (
            fact_visit,
            [
                Q.not_null("patient_visit_id"),
                Q.expression(
                    "duration_minutes IS NULL OR duration_minutes >= 0",
                    "non_negative(duration_minutes)",
                ),
                Q.foreign_key("scheduled_date_key", dim_date, "date_key"),
            ],
        ),
        "fact_subject_arm": (
            fact_subject_arm,
            [
                Q.unique("patient_study_id", "arm_uid"),
                Q.expression("n_visits >= 1", "positive(n_visits)"),
                Q.foreign_key("assignment_date_key", dim_date, "date_key"),
            ],
        ),
    }

    # fact-sized parents stay ANTI-JOIN refs: dim_visit is visit-grain and
    # the current dim_users slice is subject-grain — neither broadcasts at
    # 100 TB, so these two run as co-partitionable anti-join counts
    # (still lazy, still one action for the whole suite).
    refs = [
        ("fact_subject_status_change", fact_status_change, "user_key", users_current, "dim_key"),
        ("fact_visit", fact_visit, "visit_key", dim_visit, "visit_key"),
    ]
    return Q.run_suite(suite, refs)


@transform("run_quality_checks", chain=QUALITY_CHAIN)
def run_quality_checks(spark: SparkSession, ctx: WarehouseContext) -> int:
    """Run the declared suite over the built warehouse and atomically
    publish the report as the ``dq_report`` table. Returns the number of
    report rows (= checks run). With ``ctx.options['fail_on_violation']``
    truthy, a red report raises instead — the CI/strict-pipeline mode.

    The report is stamped with a run timestamp column so operators can
    distinguish a stale report from the current build's. Reports publish
    with version retention (``ctx.options['dq_keep_reports']``, default 5)
    so the last N verification verdicts stay time-travelable — the
    quality TREND the reference's ops docs review after each load, served
    by ``GET /quality/history``."""
    from trialsync_etl_spark.storage import swap_publish

    report = warehouse_quality_report(spark, ctx).withColumn(
        "checked_at", F.current_timestamp()
    )
    # the row count rides the publish write via an Observation — the
    # whole suite stays ONE Spark action (the old read-back count was a
    # second job re-reading the just-landed report)
    n = swap_publish(
        report,
        ctx.table_path(DQ_REPORT.table),
        keep_versions=int(ctx.options.get("dq_keep_reports", 5)),
        return_count=True,
    )
    if ctx.options.get("fail_on_violation"):
        landed = spark.read.parquet(ctx.table_path(DQ_REPORT.table))
        bad = landed.filter(~F.col("passed")).collect()
        if bad:
            failed = ", ".join(f"{r['table']}.{r['check']}({r['column']})" for r in bad[:10])
            raise ValueError(f"quality suite failed: {len(bad)} red checks — {failed}")
    return n
