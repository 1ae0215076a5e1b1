"""Silver-layer transformations: Bronze JSON staging → typed dims + facts.

Each function is the Spark rewrite of one reference stored procedure
(`load_dw_dim_*` / `load_dw_fact_*`, transformation_procedures.txt:3-275,
sql/silver/create_dim_patients.sql:131-322): JSON-path projection, typed
casts with implicit null-guarding, SCD2 versioning, surrogate keys, and
truncate-reload facts. Writes are parquet-per-table in the warehouse dir.

Scale notes: dims write partitioned by `is_current` (the reference's
partial index WHERE is_current, create_dim_patients.sql:106-114) so the
current slice prunes to a handful of files; facts shuffle once on their
grain keys with map-side partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trialsync_etl_spark.bronze import stamp_lineage
from trialsync_etl_spark.catalog import load_table
from trialsync_etl_spark.operators.scd2 import scd2_rebuild, surrogate_key
from trialsync_etl_spark.transforms import WarehouseContext, transform

DIM_CHAIN = "load_all_new_dimensions"
FACT_CHAIN = "load_all_new_facts"


# ---------------------------------------------------------------------------
# Bronze staging builders — the landed-JSON shape (docs/03:92-113)
# ---------------------------------------------------------------------------
def bronze_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simulate the landed Bronze staging table: each source row serialized
    to a JSON `data` payload + lineage envelope — the exact shape the
    reference's DataLoader writes (src/db/loader.py:151-225)."""
    c = load_table(spark, sf_dir, "customer")
    payload = F.to_json(
        F.struct(
            F.col("c_custkey").alias("id"),
            F.col("c_name").alias("name"),
            F.col("c_nationkey").alias("nationKey"),
            F.col("c_acctbal").alias("accountBalance"),
            F.col("c_mktsegment").alias("marketSegment"),
        )
    )
    stamped = stamp_lineage(
        c.select(
            payload.alias("data"),
            F.col("c_custkey").cast("string").alias("source_id"),
            F.lit(1).alias("source_instance_id"),
        ),
        job_id=3,
        run_id=1,
        loaded_at="2024-01-01 00:00:00",
    )
    return stamped


def project_dim_customer(bronze: DataFrame) -> DataFrame:
    """P1+P2: JSON-path projection with typed casts — the ~50-column
    extraction block of create_dim_patients.sql:224-297, expressed as
    codegen'd `get_json_object` + `cast` (null-guard implicit: cast(NULL)
    is NULL)."""
    d = F.col("data")
    return bronze.select(
        F.get_json_object(d, "$.id").cast("bigint").alias("customer_id"),
        F.get_json_object(d, "$.name").alias("customer_name"),
        F.get_json_object(d, "$.nationKey").cast("int").alias("nation_key"),
        F.get_json_object(d, "$.accountBalance").cast("double").alias("account_balance"),
        F.get_json_object(d, "$.marketSegment").alias("market_segment"),
        F.col("loaded_at"),
    )


# ---------------------------------------------------------------------------
# dimension loads (SCD2 where the source is a change stream)
# ---------------------------------------------------------------------------
@transform("load_dim_customer", chain=DIM_CHAIN)
def load_dim_customer(spark: SparkSession, ctx: WarehouseContext) -> int:
    """Type-1-shaped dim from Bronze JSON (single snapshot → one current
    version per key), with a stable surrogate key."""
    bronze = bronze_customers(spark, ctx.sf_dir)
    dim = project_dim_customer(bronze).withColumn(
        "customer_key", surrogate_key(["customer_id"], "loaded_at")
    )
    from trialsync_etl_spark.storage import write_counted

    return write_counted(dim, ctx.table_path("dim_customer"))


@transform("load_dim_users", chain=DIM_CHAIN)
def load_dim_users(spark: SparkSession, ctx: WarehouseContext) -> int:
    """SCD2 dim from the events change stream (the dim_patients analog):
    every tracked status/value change becomes a version with chained
    effective dates. Partitioned by is_current — the merge/read hot path
    only touches the current slice."""
    events = load_table(spark, ctx.sf_dir, "events").select(
        "user_id", F.col("event_type").alias("status"), "value", "ts", "event_id"
    )
    dim = scd2_rebuild(
        events,
        key_cols=["user_id"],
        tracked_cols=["status", "value"],
        ts_col="ts",
        tiebreak_cols=["event_id"],
    )
    from trialsync_etl_spark.storage import write_counted

    return write_counted(
        dim.drop("event_id"),
        ctx.table_path("dim_users"),
        partition_by=("is_current",),
    )


@transform("load_dim_date", chain=DIM_CHAIN)
def load_dim_date(spark: SparkSession, ctx: WarehouseContext) -> int:
    """Date dimension via sequence+explode (populate_dw_dim_date analog,
    docs/03:389-422) — generated, never scanned from source."""
    from trialsync_etl_spark.gold import date_dimension

    # spans both the order/lineitem history (1995-2001) and the event
    # stream (2024) so every fact date key resolves — the quality suite's
    # referential checks (transforms/quality.py) hold by construction
    dim = date_dimension(spark, "1992-01-01", "2024-12-31")
    from trialsync_etl_spark.storage import write_counted

    return write_counted(dim, ctx.table_path("dim_date"))


# ---------------------------------------------------------------------------
# entity-pinned dimension loads — the rest of the reference's 10-dim master
# chain (update_load_all_new_dimensions.sql:12-84: site, monitor,
# medical_code, patient_engagement, patient, study, subject, visit,
# visit_element, study_arm). Each parses Bronze JSON against the pinned
# OpenAPI StructType (entities.py) and projects a typed Type-1 dim with a
# stable surrogate key; all are broadcast-class relative to the facts.
# ---------------------------------------------------------------------------
_DIM_LOAD_TS = "2024-01-01 00:00:00"


def _write_dim(spark: SparkSession, ctx: WarehouseContext, name: str, dim: DataFrame) -> int:
    from trialsync_etl_spark.storage import write_counted

    return write_counted(dim, ctx.table_path(name))


@transform("load_dim_site", chain=DIM_CHAIN)
def load_dim_site(spark: SparkSession, ctx: WarehouseContext) -> int:
    """load_dw_dim_site analog (master chain step 1): Bronze JSON parsed
    against the pinned SiteModel, Type-1 dim (docs/03: dim_sites, ~320
    rows — tiny, always broadcast)."""
    from trialsync_etl_spark.entities import parse_entity
    from trialsync_etl_spark.plans.entities import bronze_sites

    e = bronze_sites(spark, ctx.sf_dir).select(
        parse_entity(F.col("data"), "Site").alias("e"),
        F.lit(_DIM_LOAD_TS).cast("timestamp").alias("loaded_at"),
    )
    dim = e.select(
        F.col("e.id").cast("int").alias("site_id"),
        F.col("e.uid").alias("site_uid"),
        F.col("e.name").alias("site_name"),
        F.col("e.active").alias("active"),
        F.col("e.city").alias("city"),
        F.col("e.organization").alias("organization"),
        F.col("e.timeZone").alias("time_zone"),
        F.col("loaded_at"),
    ).withColumn("site_key", surrogate_key(["site_id"], "loaded_at"))
    return _write_dim(spark, ctx, "dim_site", dim)


@transform("load_dim_staff", chain=DIM_CHAIN)
def load_dim_staff(spark: SparkSession, ctx: WarehouseContext) -> int:
    """dim_staff analog (docs/03: Type 1, ~2,600 rows): StaffViewModel
    parse incl. first staffRoles array element's role columns."""
    from trialsync_etl_spark.entities import parse_entity
    from trialsync_etl_spark.plans.entities import bronze_staff

    e = bronze_staff(spark, ctx.sf_dir).select(
        parse_entity(F.col("data"), "Staff").alias("e"),
        F.lit(_DIM_LOAD_TS).cast("timestamp").alias("loaded_at"),
    )
    role = F.try_element_at("e.staffRoles", F.lit(1))
    dim = e.select(
        F.col("e.id").cast("int").alias("staff_id"),
        F.col("e.displayName").alias("staff_name"),
        F.col("e.isStatusActive").alias("is_active"),
        F.col("e.profession").alias("profession"),
        role.getField("siteId").cast("int").alias("site_id"),
        role.getField("roleName").alias("role_name"),
        role.getField("principalInvestigator").alias("is_pi"),
        F.col("loaded_at"),
    ).withColumn("staff_key", surrogate_key(["staff_id"], "loaded_at"))
    return _write_dim(spark, ctx, "dim_staff", dim)


@transform("load_dim_sponsor", chain=DIM_CHAIN)
def load_dim_sponsor(spark: SparkSession, ctx: WarehouseContext) -> int:
    """dim_sponsors analog (docs/03: Type 1, ~800 rows): the distinct
    sponsor list — a DISTINCT projection, not a scan-heavy dim."""
    c = load_table(spark, ctx.sf_dir, "customer")
    dim = (
        c.select(F.col("c_mktsegment").alias("sponsor_name"))
        .distinct()
        .withColumn("loaded_at", F.lit(_DIM_LOAD_TS).cast("timestamp"))
        .withColumn("sponsor_key", surrogate_key(["sponsor_name"], "loaded_at"))
    )
    return _write_dim(spark, ctx, "dim_sponsor", dim)


@transform("load_dim_element", chain=DIM_CHAIN)
def load_dim_element(spark: SparkSession, ctx: WarehouseContext) -> int:
    """load_dw_dim_visit_element analog: ElementViewModel parse (budget/
    cost doubles, roomAssignment + study sub-objects) plus the
    get_element_category classification (docs/03:730-747) as a native
    expression chain."""
    from trialsync_etl_spark.entities import parse_entity
    from trialsync_etl_spark.functions import ELEMENT_CATEGORIES, category_from_keywords
    from trialsync_etl_spark.plans.entities import bronze_elements

    e = bronze_elements(spark, ctx.sf_dir).select(
        parse_entity(F.col("data"), "Element").alias("e"),
        F.lit(_DIM_LOAD_TS).cast("timestamp").alias("loaded_at"),
    )
    dim = e.select(
        F.col("e.id").cast("int").alias("element_id"),
        F.col("e.name").alias("element_name"),
        F.col("e.type").alias("element_type"),
        category_from_keywords(F.col("e.name"), ELEMENT_CATEGORIES).alias(
            "element_category"
        ),
        F.col("e.study.id").cast("int").alias("study_id"),
        F.col("e.roomAssignment.name").alias("room_name"),
        F.col("e.budget").alias("budget"),
        F.col("e.cost").alias("cost"),
        F.col("e.standardTimeMinutes").alias("standard_time_minutes"),
        F.col("loaded_at"),
    ).withColumn("element_key", surrogate_key(["element_id"], "loaded_at"))
    return _write_dim(spark, ctx, "dim_element", dim)


@transform("load_dim_patient", chain=DIM_CHAIN)
def load_dim_patient(spark: SparkSession, ctx: WarehouseContext) -> int:
    """load_dw_dim_patient analog (the reference's flagship procedure,
    create_dim_patients.sql:131-322): PatientViewModel parse with nested
    sub-object paths and the activeStudies array."""
    from trialsync_etl_spark.entities import parse_entity
    from trialsync_etl_spark.plans.entities import bronze_patients

    e = bronze_patients(spark, ctx.sf_dir).select(
        parse_entity(F.col("data"), "Patient").alias("e"),
        F.lit(_DIM_LOAD_TS).cast("timestamp").alias("loaded_at"),
    )
    dim = e.select(
        F.col("e.id").cast("int").alias("patient_id"),
        F.col("e.displayName").alias("display_name"),
        F.col("e.status").alias("status"),
        F.col("e.primarySite.id").cast("int").alias("primary_site_id"),
        F.col("e.primarySite.name").alias("primary_site_name"),
        F.col("e.primaryEmail.email").alias("primary_email"),
        F.size("e.activeStudies").alias("n_active_studies"),
        F.col("loaded_at"),
    ).withColumn("patient_key", surrogate_key(["patient_id"], "loaded_at"))
    return _write_dim(spark, ctx, "dim_patient", dim)


@transform("load_dim_study", chain=DIM_CHAIN)
def load_dim_study(spark: SparkSession, ctx: WarehouseContext) -> int:
    """load_dw_dim_study analog: StudyViewModel parse — sponsor sub-object,
    launchYear int cast, studyTypes array size."""
    from trialsync_etl_spark.entities import parse_entity
    from trialsync_etl_spark.plans.entities import bronze_studies

    e = bronze_studies(spark, ctx.sf_dir).select(
        parse_entity(F.col("data"), "Study").alias("e"),
        F.lit(_DIM_LOAD_TS).cast("timestamp").alias("loaded_at"),
    )
    dim = e.select(
        F.col("e.id").cast("int").alias("study_id"),
        F.col("e.name").alias("study_name"),
        F.col("e.status").alias("status"),
        F.col("e.sponsor.id").cast("int").alias("sponsor_id"),
        F.col("e.sponsor.name").alias("sponsor_name"),
        F.col("e.launchYear").alias("launch_year"),
        F.col("e.phase").alias("phase"),
        F.col("loaded_at"),
    ).withColumn("study_key", surrogate_key(["study_id"], "loaded_at"))
    return _write_dim(spark, ctx, "dim_study", dim)


@transform("load_dim_visit", chain=DIM_CHAIN)
def load_dim_visit(spark: SparkSession, ctx: WarehouseContext) -> int:
    """load_dw_dim_visit analog: PascalCase PatientVisit parse (status
    mapping, scheduled-date string kept for the silver cast contract).

    Staging can repeat a business key (re-observed visits); the reference's
    ON CONFLICT upsert keeps one row per key, so the dim applies a
    deterministic last-wins dedup (W1 shape: one partitioned row_number,
    latest scheduled_date then status as tiebreak) before keying."""
    from pyspark.sql import Window

    from trialsync_etl_spark.entities import parse_entity
    from trialsync_etl_spark.plans.entities import bronze_patient_visits

    e = bronze_patient_visits(spark, ctx.sf_dir).select(
        parse_entity(F.col("data"), "PatientVisit").alias("e"),
        F.lit(_DIM_LOAD_TS).cast("timestamp").alias("loaded_at"),
    )
    # the tiebreak chain covers every dim attribute, so the winner is a
    # total order — identical across runs even for fully tied duplicates
    w = Window.partitionBy("patient_visit_id").orderBy(
        F.desc("scheduled_date"),
        F.desc("status"),
        F.desc("sequence"),
        F.desc("visit_name"),
        F.desc("post_protocol"),
    )
    dim = (
        e.select(
            F.col("e.PatientVisitId").cast("int").alias("patient_visit_id"),
            F.col("e.Sequence").alias("sequence"),
            F.col("e.VisitName").alias("visit_name"),
            F.col("e.Status").alias("status"),
            F.col("e.ScheduledDate").cast("date").alias("scheduled_date"),
            F.col("e.PostProtocol").alias("post_protocol"),
            F.col("loaded_at"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .withColumn("visit_key", surrogate_key(["patient_visit_id"], "loaded_at"))
    )
    return _write_dim(spark, ctx, "dim_visit", dim)


@transform("load_dim_users_incremental")
def load_dim_users_incremental(spark: SparkSession, ctx: WarehouseContext) -> int:
    """The incremental cadence of load_dim_users (I1 + SCD2 merge): only
    events at or after the stored watermark are merged into the persisted
    dim; the watermark then advances to the max merged timestamp. At scale
    this reads a sliver of the change stream (pushdown via
    load_table_since) and rewrites only the current slice logic — the
    full rebuild stays the weekly/backfill path (I6 dual cadence). An
    unchanged ``events`` listing returns 0 with no Spark job
    (streaming.incremental.run_incremental).

    The rescan of the boundary instant is safe: scd2_merge no-ops re-seen
    rows (null-safe tracked-change check) and its same-timestamp rule
    replaces rather than duplicates.

    ctx.options: {"watermark_store": WatermarkStore} (required).
    """
    import os

    from trialsync_etl_spark.operators.scd2 import read_scd2, scd2_merge
    from trialsync_etl_spark.storage import swap_publish
    from trialsync_etl_spark.streaming.incremental import run_incremental

    path = ctx.table_path("dim_users")

    def merge(new, _full):
        staging = new.select(
            "user_id", F.col("event_type").alias("status"), "value", "ts", "event_id"
        )
        dim = read_scd2(spark, path) if os.path.exists(path) else None
        if dim is not None and "event_id" in dim.columns:
            dim = dim.drop("event_id")
        merged = scd2_merge(
            dim,
            staging,
            key_cols=["user_id"],
            tracked_cols=["status", "value"],
            ts_col="ts",
            tiebreak_cols=["event_id"],
        )
        return swap_publish(
            merged, path, partition_by=("is_current",), return_count=True
        )

    return run_incremental(
        spark, ctx.options["watermark_store"], "dim_users", ctx.sf_dir,
        "events", "ts", merge,
    )


# ---------------------------------------------------------------------------
# fact loads (truncate-reload, docs/03:652-712)
# ---------------------------------------------------------------------------
@transform("load_fact_orders", chain=FACT_CHAIN)
def load_fact_orders(spark: SparkSession, ctx: WarehouseContext) -> int:
    """fact_enrollment analog: one row per order, surrogate-keyed to
    dim_customer and dim_date. Dim lookups are broadcast hash probes; the
    fact side never shuffles for the join."""
    orders = load_table(spark, ctx.sf_dir, "orders")
    dim_customer = spark.read.parquet(ctx.table_path("dim_customer"))
    fact = (
        orders.join(
            F.broadcast(dim_customer.select("customer_id", "customer_key")),
            orders.o_custkey == F.col("customer_id"),
            "left",
        )
        .select(
            F.col("o_orderkey").alias("order_id"),
            F.col("customer_key"),
            (
                F.year("o_orderdate") * 10000
                + F.month("o_orderdate") * 100
                + F.dayofmonth("o_orderdate")
            )
            .cast("int")
            .alias("order_date_key"),
            F.col("o_orderstatus").alias("order_status"),
            F.col("o_orderpriority").alias("order_priority"),
            F.col("o_totalprice").alias("total_price"),
        )
    )
    from trialsync_etl_spark.storage import write_counted

    return write_counted(fact, ctx.table_path("fact_orders"))


@transform("load_fact_daily_events", chain=FACT_CHAIN)
def load_fact_daily_events(spark: SparkSession, ctx: WarehouseContext) -> int:
    """fact_study_performance analog (docs/03:298-341): daily snapshot
    grain (date_key × event_type) with additive counts, distincts, and
    non-additive averages. Partitioned by date_key prefix for pruning."""
    e = load_table(spark, ctx.sf_dir, "events")
    date_key = (
        (F.year("ts") * 10000 + F.month("ts") * 100 + F.dayofmonth("ts"))
        .cast("int")
        .alias("date_key")
    )
    fact = e.groupBy(date_key, "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("value").alias("total_value"),
        F.avg("value").alias("avg_value"),
    )
    # partitioned by day so (a) gold reads prune and (b) the incremental
    # cadence below can replace touched days via dynamic overwrite
    from trialsync_etl_spark.storage import write_counted

    return write_counted(
        fact, ctx.table_path("fact_daily_events"), partition_by=("date_key",)
    )


@transform("load_fact_element_completions", chain=FACT_CHAIN)
def load_fact_element_completions(spark: SparkSession, ctx: WarehouseContext) -> int:
    """fact_element_completions analog (docs/03:233-241: one row per visit
    element completion — study, element, staff dims; completion_date,
    duration_minutes measures). Each lineitem is a completed element: the
    fact side streams through two broadcast hash probes (dim_element,
    dim_staff) — the J1 star shape.

    The source can repeat (l_orderkey, l_linenumber) — re-observed
    completions — so the primary key disambiguates with an occurrence
    number from a window PARTITIONED BY the business key (one shuffle on
    the high-cardinality grain key, never a global sort; the DQ suite's
    unique(completion_id) check pins the invariant)."""
    from pyspark.sql import Window

    occ_w = Window.partitionBy("l_orderkey", "l_linenumber").orderBy(
        "l_shipdate", "l_quantity", "l_extendedprice", "l_suppkey", "l_partkey"
    )
    li = load_table(spark, ctx.sf_dir, "lineitem").withColumn(
        "__occ", F.row_number().over(occ_w)
    )
    dim_element = spark.read.parquet(ctx.table_path("dim_element"))
    dim_staff = spark.read.parquet(ctx.table_path("dim_staff"))
    fact = (
        li.join(
            F.broadcast(
                dim_element.select(
                    "element_id", "element_key", "study_id", "standard_time_minutes"
                )
            ),
            li.l_partkey == F.col("element_id"),
            "left",
        )
        .join(
            F.broadcast(dim_staff.select("staff_id", "staff_key")),
            li.l_suppkey == F.col("staff_id"),
            "left",
        )
        .select(
            # occurrence number in the HIGH 16 bits: a (l_orderkey,
            # l_linenumber) pair re-observed any number of times < 2^16
            # can never collide with a neighboring pair's id space
            # (low-order *100 packing collided at occ >= 100). Low 47
            # bits hold l_orderkey*10+l_linenumber — orderkey < ~1.4e13,
            # i.e. TPC-H SF ~2M, far past the 100 TB design point. The DQ
            # suite's unique(completion_id) check pins the invariant.
            (
                F.shiftleft(F.col("__occ").cast("bigint"), 47)
                + F.col("l_orderkey") * 10
                + F.col("l_linenumber")
            )
            .cast("bigint")
            .alias("completion_id"),
            F.col("element_key"),
            F.col("study_id"),
            F.col("staff_key"),
            (
                F.year("l_shipdate") * 10000
                + F.month("l_shipdate") * 100
                + F.dayofmonth("l_shipdate")
            )
            .cast("int")
            .alias("completion_date_key"),
            F.col("l_quantity").alias("quantity"),
            (F.col("standard_time_minutes") * F.col("l_quantity"))
            .cast("double")
            .alias("duration_minutes"),
        )
    )
    from trialsync_etl_spark.storage import write_counted

    return write_counted(fact, ctx.table_path("fact_element_completions"))


@transform("load_fact_daily_events_incremental")
def load_fact_daily_events_incremental(
    spark: SparkSession, ctx: WarehouseContext
) -> int:
    """Incremental cadence of load_fact_daily_events (the reference's
    incremental-loading pattern, docs/05, applied to a fact): only events
    at or after the stored watermark are sliced (predicate pushed to
    parquet), their affected date_key partitions are re-aggregated FROM
    THE FULL day (late rows within a day merge correctly, and the
    boundary rescan is idempotent), and only those partitions are
    replaced via dynamic partition overwrite — the rest of the fact is
    untouched. Slice and full day come from one open of ``events``; an
    unchanged listing returns 0 with no Spark job
    (streaming.incremental.run_incremental).

    At 100 TB this reads a sliver of the stream + the handful of touched
    days, and rewrites only those partitions; the full truncate-reload
    stays the backfill path (I6 dual cadence).

    Returns the rows written (the touched days' aggregate rows), counted
    during the write.

    ctx.options: {"watermark_store": WatermarkStore} (required).
    """
    from trialsync_etl_spark.storage import write_counted
    from trialsync_etl_spark.streaming.incremental import run_incremental

    date_key = (
        (F.year("ts") * 10000 + F.month("ts") * 100 + F.dayofmonth("ts"))
        .cast("int")
        .alias("date_key")
    )

    def reaggregate(new, full):
        # touched days only (tiny: distinct date_keys of the new slice)
        touched = new.select(date_key).distinct()
        # re-aggregate the touched days from the FULL stream so a day that
        # receives late rows is replaced by its complete aggregate, not a
        # partial one; the date_key semi-join prunes the scan to those days
        day_full = full.withColumn("date_key", date_key).join(
            F.broadcast(touched), "date_key", "left_semi"
        )
        fact = day_full.groupBy("date_key", "event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("value").alias("total_value"),
            F.avg("value").alias("avg_value"),
        )
        return write_counted(
            fact, ctx.table_path("fact_daily_events"),
            partition_by=("date_key",), dynamic=True,
        )

    return run_incremental(
        spark, ctx.options["watermark_store"], "fact_daily_events", ctx.sf_dir,
        "events", "ts", reaggregate,
    )


@transform("load_fact_subject_status_change", chain=FACT_CHAIN)
def load_fact_subject_status_change(spark: SparkSession, ctx: WarehouseContext) -> int:
    """load_dw_fact_subject_status_change analog (docs/03:560, the first
    step of the reference's 5-fact master chain): one row per status
    TRANSITION per subject, derived from the ordered change stream.

    Plan shape for 100 TB: the lag window is partitioned by user_id (never
    a global sort), so transition detection is one shuffle on the subject
    key; the dim_users probe joins on that same key, and AQE can reuse the
    partitioning. Nothing here touches a single reducer."""
    from pyspark.sql import Window

    e = load_table(spark, ctx.sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.select(
            "user_id",
            F.col("event_type").alias("new_status"),
            "ts",
            "event_id",
            F.lag("event_type").over(w).alias("prev_status"),
            F.lag("ts").over(w).alias("prev_ts"),
        )
        .filter(
            F.col("prev_status").isNotNull()
            & (F.col("prev_status") != F.col("new_status"))
        )
    )
    from trialsync_etl_spark.operators.scd2 import read_scd2

    dim_users = (
        read_scd2(spark, ctx.table_path("dim_users"))
        .filter("is_current")
        .select("user_id", F.col("dim_key").alias("user_key"))
    )
    fact = changes.join(dim_users, "user_id", "left").select(
        F.col("user_key"),
        F.col("user_id").alias("subject_id"),
        F.col("prev_status"),
        F.col("new_status"),
        (
            F.year("ts") * 10000 + F.month("ts") * 100 + F.dayofmonth("ts")
        ).cast("int").alias("change_date_key"),
        ((F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")) / 86400.0)
        .cast("double")
        .alias("days_in_prev_status"),
        F.col("event_id").alias("change_event_id"),
    )
    from trialsync_etl_spark.storage import write_counted

    return write_counted(fact, ctx.table_path("fact_subject_status_change"))


@transform("load_fact_visit", chain=FACT_CHAIN)
def load_fact_visit(spark: SparkSession, ctx: WarehouseContext) -> int:
    """load_dw_fact_visit analog (docs/03:562; fact_visit_timelines grain,
    docs/03:240): one row per observed visit instance — scheduled/actual
    dates, duration from the actual start/end timestamps, completion/skip
    flags.

    The surrogate probe joins the visit staging to the (deduplicated)
    dim_visit on the shared business key: both sides are visit-grain, so
    this is a co-partitioned sort-merge join on patient_visit_id (not
    broadcastable at scale)."""
    from trialsync_etl_spark.entities import parse_entity
    from trialsync_etl_spark.plans.entities import bronze_patient_visits

    e = bronze_patient_visits(spark, ctx.sf_dir).select(
        parse_entity(F.col("data"), "PatientVisit").alias("e")
    )
    staging = e.select(
        F.col("e.PatientVisitId").cast("int").alias("patient_visit_id"),
        F.col("e.ScheduledDate").cast("date").alias("scheduled_date"),
        F.col("e.CompletionDate").cast("date").alias("completion_date"),
        F.col("e.ActualStartTime").cast("timestamp").alias("actual_start"),
        F.col("e.ActualEndTime").cast("timestamp").alias("actual_end"),
        (F.col("e.Status") == "Completed").alias("is_completed"),
        F.coalesce(F.col("e.MarkAsSkipped"), F.lit(False)).alias("is_skipped"),
        F.col("e.ArmUID").alias("arm_uid"),
    )
    dim_visit = spark.read.parquet(ctx.table_path("dim_visit")).select(
        F.col("patient_visit_id").alias("dv_id"), "visit_key"
    )
    fact = staging.join(
        dim_visit, staging.patient_visit_id == F.col("dv_id"), "left"
    ).select(
        "visit_key",
        "patient_visit_id",
        (
            F.year("scheduled_date") * 10000
            + F.month("scheduled_date") * 100
            + F.dayofmonth("scheduled_date")
        ).cast("int").alias("scheduled_date_key"),
        "completion_date",
        ((F.unix_timestamp("actual_end") - F.unix_timestamp("actual_start")) / 60.0)
        .cast("double")
        .alias("duration_minutes"),
        "is_completed",
        "is_skipped",
        "arm_uid",
    )
    from trialsync_etl_spark.storage import write_counted

    return write_counted(fact, ctx.table_path("fact_visit"))


@transform("load_fact_subject_arm", chain=FACT_CHAIN)
def load_fact_subject_arm(spark: SparkSession, ctx: WarehouseContext) -> int:
    """load_dw_fact_subject_arm analog (docs/03:564): one row per
    (patient-study, arm) assignment with the first visit date on that arm —
    a single partial-aggregated shuffle on the assignment grain."""
    from trialsync_etl_spark.entities import parse_entity
    from trialsync_etl_spark.plans.entities import bronze_patient_visits

    e = bronze_patient_visits(spark, ctx.sf_dir).select(
        parse_entity(F.col("data"), "PatientVisit").alias("e")
    )
    fact = (
        e.select(
            F.col("e.PatientStudy").alias("patient_study_id"),
            F.col("e.ArmUID").alias("arm_uid"),
            F.col("e.StartDate").cast("date").alias("start_date"),
        )
        .filter(F.col("arm_uid").isNotNull())
        .groupBy("patient_study_id", "arm_uid")
        .agg(
            F.min("start_date").alias("first_visit_date"),
            F.count(F.lit(1)).alias("n_visits"),
        )
        .withColumn(
            "assignment_date_key",
            (
                F.year("first_visit_date") * 10000
                + F.month("first_visit_date") * 100
                + F.dayofmonth("first_visit_date")
            ).cast("int"),
        )
    )
    from trialsync_etl_spark.storage import write_counted

    return write_counted(fact, ctx.table_path("fact_subject_arm"))
