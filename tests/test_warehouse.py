"""Transform registry + silver/gold warehouse mechanics: chain execution
with per-call error wrapping, SCD2 dim persistence, MV atomic refresh."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from trialsync_etl_spark import transforms
from trialsync_etl_spark.gold import materialize, read_materialized
from trialsync_etl_spark.transforms import (
    WarehouseContext,
    run_chain,
    run_transform,
)

transforms.load_all()


def _ctx(tmp_path):
    return WarehouseContext(sf_dir=SF_DIR, warehouse_dir=str(tmp_path / "wh"))


def test_dim_chain_loads_all_dimensions(spark, tmp_path):
    """The full 10-dim master chain (update_load_all_new_dimensions.sql
    analog): every dim loads, with row counts pinned against the sources."""
    ctx = _ctx(tmp_path)
    results = run_chain(spark, "load_all_new_dimensions", ctx)
    assert [r.status for r in results] == ["success"] * len(results)
    assert {r.name for r in results} == {
        "load_dim_customer",
        "load_dim_users",
        "load_dim_date",
        "load_dim_site",
        "load_dim_staff",
        "load_dim_sponsor",
        "load_dim_element",
        "load_dim_patient",
        "load_dim_study",
        "load_dim_visit",
    }
    assert len(results) >= 10
    from trialsync_etl_spark.operators.scd2 import read_scd2

    dim = read_scd2(spark, ctx.table_path("dim_users"))
    # one current row per user
    n_users = dim.select("user_id").distinct().count()
    assert dim.filter("is_current").count() == n_users
    # partitioned by is_current → partition dir exists
    assert os.path.isdir(os.path.join(ctx.table_path("dim_users"), "is_current=true"))

    # row counts: each entity dim is 1 row per source business key
    by_name = {r.name: r for r in results}
    src = {
        "dim_site": "nation",
        "dim_staff": "supplier",
        "dim_patient": "customer",
        "dim_study": "orders",
        "dim_element": "part",
    }
    for dim_name, table in src.items():
        n_src = spark.read.parquet(f"{SF_DIR}/{table}.parquet").count()
        assert by_name[f"load_{dim_name}"].rows == n_src, dim_name
        assert spark.read.parquet(ctx.table_path(dim_name)).count() == n_src
    # surrogate keys are unique per dim
    for dim_name, key in [("dim_site", "site_key"), ("dim_staff", "staff_key"),
                          ("dim_study", "study_key"), ("dim_element", "element_key"),
                          ("dim_visit", "visit_key")]:
        d = spark.read.parquet(ctx.table_path(dim_name))
        assert d.select(key).distinct().count() == d.count(), dim_name


def test_fact_chain_after_dims(spark, tmp_path):
    ctx = _ctx(tmp_path)
    run_chain(spark, "load_all_new_dimensions", ctx)
    results = run_chain(spark, "load_all_new_facts", ctx)
    assert [r.status for r in results] == ["success"] * len(results)
    # reference master fact chain breadth (docs/03:560-564: 5 facts)
    assert len(results) >= 5
    fact = spark.read.parquet(ctx.table_path("fact_orders"))
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    assert fact.count() == orders.count()
    # every order resolves its customer surrogate key (no orphans)
    assert fact.filter(F.col("customer_key").isNull()).count() == 0
    # element completions: one row per lineitem, no orphan element/staff keys
    fec = spark.read.parquet(ctx.table_path("fact_element_completions"))
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    assert fec.count() == li.count()
    assert fec.filter(F.col("element_key").isNull()).count() == 0
    assert fec.filter(F.col("staff_key").isNull()).count() == 0
    assert fec.filter(F.col("duration_minutes").isNull()).count() == 0

    # fact_subject_status_change: one row per status transition, never the
    # first observation; inter-status gaps are non-negative
    fssc = spark.read.parquet(ctx.table_path("fact_subject_status_change"))
    assert fssc.count() > 0
    assert fssc.filter(F.col("prev_status") == F.col("new_status")).count() == 0
    assert fssc.filter(F.col("days_in_prev_status") < 0).count() == 0
    assert fssc.filter(F.col("user_key").isNull()).count() == 0

    # fact_visit: one row per bronze visit, visit_key resolved, durations
    # derived from the actual start/end timestamps
    from trialsync_etl_spark.plans.entities import bronze_patient_visits

    fv = spark.read.parquet(ctx.table_path("fact_visit"))
    assert fv.count() == bronze_patient_visits(spark, SF_DIR).count()
    assert fv.filter(F.col("visit_key").isNull()).count() == 0
    assert fv.filter(F.col("duration_minutes") < 0).count() == 0
    # completed visits carry a completion date; others never do
    assert (
        fv.filter(F.col("is_completed") & F.col("completion_date").isNull()).count()
        == 0
    )
    assert (
        fv.filter(~F.col("is_completed") & F.col("completion_date").isNotNull())
        .count()
        == 0
    )

    # fact_subject_arm: unique (patient_study, arm) grain
    fsa = spark.read.parquet(ctx.table_path("fact_subject_arm"))
    assert fsa.count() == fsa.select("patient_study_id", "arm_uid").distinct().count()
    assert fsa.filter(F.col("n_visits") < 1).count() == 0


def test_chain_continues_after_failure(spark, tmp_path):
    ctx = _ctx(tmp_path)
    # fact chain without dims: fact_orders fails (missing dim_customer),
    # fact_daily_events must still run — master-procedure semantics
    results = run_chain(spark, "load_all_new_facts", ctx)
    by_name = {r.name: r for r in results}
    assert by_name["load_fact_orders"].status == "failed"
    assert by_name["load_fact_orders"].error is not None
    assert by_name["load_fact_daily_events"].status == "success"


def test_unknown_transform_reports_failed(spark, tmp_path):
    r = run_transform(spark, "no_such_proc", _ctx(tmp_path))
    assert r.status == "failed" and "unknown" in r.error


def test_mv_refresh_is_atomic_swap(spark, tmp_path):
    path = str(tmp_path / "mv_demo")
    df1 = spark.range(5).select(F.col("id"), F.lit("v1").alias("tag"))
    materialize(df1, path)
    assert read_materialized(spark, path).count() == 5
    df2 = spark.range(9).select(F.col("id"), F.lit("v2").alias("tag"))
    materialize(df2, path)
    out = read_materialized(spark, path)
    assert out.count() == 9
    assert out.select("tag").distinct().collect()[0][0] == "v2"
    # no staging/old leftovers
    assert not os.path.exists(path + "__staging")
    assert not os.path.exists(path + "__old")


def test_gold_chain(spark, tmp_path):
    ctx = _ctx(tmp_path)
    results = run_chain(spark, "refresh_gold_views", ctx)
    assert [r.status for r in results] == ["success"] * len(results)
    assert len(results) >= 3
    mv = spark.read.parquet(ctx.table_path("mv_enrollment_summary"))
    assert mv.count() > 0
    arm = spark.read.parquet(ctx.table_path("mv_visit_arm_summary"))
    assert arm.count() == 4  # arm-0..arm-3
    assert arm.filter(F.col("n_visits") < 1).count() == 0


def test_completion_id_unique_past_100_reobservations(spark, tmp_path):
    """The completion_id packing puts the occurrence number in the HIGH
    bits: a (l_orderkey, l_linenumber) grain re-observed 150 times must
    not collide with the neighboring linenumber's id space (the old
    low-order *100 packing collided at occurrence >= 100)."""
    import datetime

    sf_dir = str(tmp_path / "sf")
    wh = str(tmp_path / "wh")
    os.makedirs(sf_dir, exist_ok=True)

    # one grain repeated 150x + its (okey, ln+1) neighbor — the collision
    # target under low-order packing
    rows = [
        (7, 1, datetime.date(2026, 1, (i % 28) + 1), float(i + 1),
         100.0 + i, 11, 21)
        for i in range(150)
    ] + [(7, 2, datetime.date(2026, 1, 5), 1.0, 50.0, 11, 21)]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber int, l_shipdate date, "
        "l_quantity double, l_extendedprice double, l_suppkey int, "
        "l_partkey int",
    ).write.parquet(os.path.join(sf_dir, "lineitem.parquet"))

    ctx = WarehouseContext(sf_dir=sf_dir, warehouse_dir=wh)
    spark.createDataFrame(
        [(21, 210, 5, 30.0)],
        "element_id int, element_key long, study_id int, "
        "standard_time_minutes double",
    ).write.parquet(ctx.table_path("dim_element"))
    spark.createDataFrame(
        [(11, 110)], "staff_id int, staff_key long"
    ).write.parquet(ctx.table_path("dim_staff"))

    r = run_transform(spark, "load_fact_element_completions", ctx)
    assert r.status == "success", r.error
    fec = spark.read.parquet(ctx.table_path("fact_element_completions"))
    assert fec.count() == 151
    assert fec.select("completion_id").distinct().count() == 151


@pytest.mark.slow
def test_scheduled_maintenance_chain_runs_and_preserves_retention(spark, tmp_path):
    """The maintenance chain (compaction + z-order + sketch/ANN/dedup
    store folds) runs ON SCHEDULE like the reference's staged nightly
    procedures: the persisted schedule wires into the CronScheduler, a
    02:00 tick fires the chain, every step succeeds, the fragmented fact
    is rewritten into fewer files, retention width survives the rewrites,
    and the sketch store's recurring full-refresh partition stays live."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR
    from trialsync_etl_spark import transforms
    from trialsync_etl_spark.operators.sketch_store import (
        BASE_BATCH,
        FULL_REFRESH_BATCH,
        append_sketch_rollup,
    )
    from trialsync_etl_spark.scheduler import CronScheduler, ScheduleStore
    from trialsync_etl_spark.storage import (
        list_versions,
        read_batches,
        swap_publish,
        table_file_stats,
        table_keep_versions,
    )
    from trialsync_etl_spark.transforms import WarehouseContext, run_chain
    from trialsync_etl_spark.transforms.maintenance import (
        MAINT_CHAIN,
        register_maintenance_schedule,
    )

    transforms.load_all()
    wh = str(tmp_path / "wh")
    ctx = WarehouseContext(sf_dir=SF_DIR, warehouse_dir=wh)
    res = run_chain(spark, "load_all_new_dimensions", ctx)
    res += run_chain(spark, "load_all_new_facts", ctx)
    res += run_chain(spark, "refresh_gold_views", ctx)
    assert all(r.status == "success" for r in res)

    # fragment fact_orders via a versioned, many-file republish so both
    # compaction (file count) and retention (width=3) are observable
    # pin rows eagerly: the republish below overwrites the very files a
    # lazy plan would re-read (cf. ann_store's centroid checkpoint)
    fact = spark.read.parquet(f"{wh}/fact_orders").localCheckpoint(eager=True)
    swap_publish(fact.repartition(24), f"{wh}/fact_orders", keep_versions=3)
    swap_publish(fact.repartition(24), f"{wh}/fact_orders", keep_versions=3)
    files_before, _ = table_file_stats(f"{wh}/fact_orders")
    assert files_before >= 24
    # a batch beyond the gold chain's full refresh, so compaction folds it
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "user_id", "event_id", "event_type", F.to_date("ts").alias("event_date")
    )
    append_sketch_rollup(
        ev.limit(200), f"{wh}/sketch_events",
        ["event_type", "event_date"], ["user_id", "event_id"], "ingest-7",
    )
    from trialsync_etl_spark.operators.freq import append_cm_rollup

    # fold mechanics only — estimates are never read from this blended
    # store (mixing the full refresh with ids over the same rows would
    # double-count the additive cells; see refresh_freq_rollup_events)
    append_cm_rollup(ev.limit(200), f"{wh}/freq_events", "user_id", "ingest-7")

    # persist the schedule, wire it, and fire the 02:00 tick
    store = ScheduleStore(str(tmp_path / "schedules.json"))
    spec = register_maintenance_schedule(store)
    assert spec.procedure_name == MAINT_CHAIN and spec.is_active
    sched = CronScheduler()
    outcomes = {}

    def execute(name):
        results = run_chain(spark, name, ctx)
        outcomes[name] = results
        failed = [r for r in results if r.status != "success"]
        assert not failed, failed

    assert store.wire(sched, execute) == [MAINT_CHAIN]
    fired = sched.tick(datetime(2026, 8, 14, 2, 0))
    assert fired == [MAINT_CHAIN]
    assert store.get(MAINT_CHAIN).last_run_status == "success"
    names = [r.name for r in outcomes[MAINT_CHAIN]]
    assert names == [
        "maintain_compact_tables", "maintain_zorder_facts",
        "maintain_compact_sketch_store", "maintain_compact_freq_store",
        "check_freq_drift", "check_quality_drift",
        "check_perplexity_drift",
        "maintain_compact_ann_index",
        "maintain_rebuild_ann_index", "maintain_compact_dedup_store",
        "maintain_compact_substring_store",
        "check_lang_drift",
    ]

    # compaction reduced the fragmented fact and z-order republished it —
    # with the retention width someone configured still intact
    files_after, _ = table_file_stats(f"{wh}/fact_orders")
    assert files_after < files_before
    assert table_keep_versions(f"{wh}/fact_orders") == 3
    assert len(list_versions(f"{wh}/fact_orders")) == 3
    assert spark.read.parquet(f"{wh}/fact_orders").count() == fact.count()

    # sketch store: ingest batch folded into __base, recurring full-refresh
    # kept live, and a post-maintenance refresh still converges
    live = {
        r[0] for r in read_batches(spark, f"{wh}/sketch_events")
        .select("batch_id").distinct().collect()
    }
    assert live == {BASE_BATCH, FULL_REFRESH_BATCH}
    # freq store: same discipline, same outcome (the CM fold is exact)
    live_f = {
        r[0] for r in read_batches(spark, f"{wh}/freq_events")
        .select("batch_id").distinct().collect()
    }
    assert live_f == {BASE_BATCH, FULL_REFRESH_BATCH}

    # a day later the same schedule fires again (idempotent maintenance)
    assert sched.tick(datetime(2026, 8, 15, 2, 0)) == [MAINT_CHAIN]
    assert table_keep_versions(f"{wh}/fact_orders") == 3


@pytest.mark.slow
def test_maintenance_preserves_every_table_value_for_value(spark, tmp_path):
    """The assertion that catches a corrupting compaction: dirty a built
    warehouse (fragmented republished tables + appended ANN / MinHash /
    sketch stores), run `maintain_warehouse`, then check (a) file counts
    drop, (b) EVERY published table is row-for-row identical to its
    pre-maintenance content and the ANN store answers the same queries
    with the same neighbors, (c) retention width is preserved."""
    from tests.conftest import SF_DIR
    from trialsync_etl_spark import transforms
    from trialsync_etl_spark.operators.ann_store import (
        append_to_ann_index,
        build_ann_index,
        query_ann_index,
    )
    from trialsync_etl_spark.operators.dedup_store import incremental_dup_pairs
    from trialsync_etl_spark.storage import (
        swap_publish,
        table_file_stats,
        table_keep_versions,
    )
    from trialsync_etl_spark.transforms import WarehouseContext, run_chain
    from trialsync_etl_spark.transforms.maintenance import _published_tables

    transforms.load_all()
    wh = str(tmp_path / "wh")
    ann = str(tmp_path / "ann_idx")
    sigs = str(tmp_path / "sig_store")
    ctx = WarehouseContext(
        sf_dir=SF_DIR, warehouse_dir=wh,
        options={"ann_index": ann, "dedup_store": sigs},
    )
    res = run_chain(spark, "load_all_new_dimensions", ctx)
    res += run_chain(spark, "load_all_new_facts", ctx)
    res += run_chain(spark, "refresh_gold_views", ctx)
    assert all(r.status == "success" for r in res)

    # dirty the warehouse: fragment two tables through versioned
    # republishes, append (and crash-replay) store batches
    for name in ("fact_orders", "dim_customer"):
        frozen = spark.read.parquet(f"{wh}/{name}").localCheckpoint(eager=True)
        swap_publish(frozen.repartition(24), f"{wh}/{name}", keep_versions=3)
        swap_publish(frozen.repartition(24), f"{wh}/{name}", keep_versions=3)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    build_ann_index(emb.filter("vec_id >= 20"), ann, n_lists=8)
    newb = emb.filter("vec_id < 20").localCheckpoint(eager=True)
    append_to_ann_index(newb, ann, batch_id="m-1")
    append_to_ann_index(newb, ann, batch_id="m-1")  # replayed append
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    incremental_dup_pairs(spark, docs.limit(40), sigs, batch_id="m-1")

    tables = _published_tables(wh)
    assert "fact_orders" in tables and len(tables) > 15
    before = {
        t: sorted(
            tuple(str(v) for v in r)
            for r in spark.read.parquet(f"{wh}/{t}").collect()
        )
        for t in tables
    }
    probes = emb.limit(8).select("vec_id", "embedding").localCheckpoint()
    ann_before = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in query_ann_index(spark, ann, probes, k=5, n_probe=8).collect()
    )
    frag_before, _ = table_file_stats(f"{wh}/fact_orders")
    assert frag_before >= 24

    maint = run_chain(spark, "maintain_warehouse", ctx)
    assert [r.status for r in maint] == ["success"] * 12

    # (a) the fragmented table compacted
    frag_after, _ = table_file_stats(f"{wh}/fact_orders")
    assert frag_after < frag_before
    # (b) every table's content survived every rewrite bit-for-bit
    for t in tables:
        spark.catalog.refreshByPath(f"{wh}/{t}")
        after = sorted(
            tuple(str(v) for v in r)
            for r in spark.read.parquet(f"{wh}/{t}").collect()
        )
        assert after == before[t], f"maintenance changed {t}"
    # ...including the ANN store's answers (replay duplicates healed)
    ann_after = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in query_ann_index(spark, ann, probes, k=5, n_probe=8).collect()
    )
    assert ann_after == ann_before
    # (c) retention width preserved on the versioned tables
    assert table_keep_versions(f"{wh}/fact_orders") == 3
    assert table_keep_versions(f"{wh}/dim_customer") == 3


def test_parallel_chain_matches_sequential_and_isolates_failures(spark, tmp_path):
    """run_chain(max_parallel=4): the dim+fact chains built on worker threads
    produce EVERY table row-for-row identical to the sequential build
    (same plans, just interleaved scheduling), results keep chain order,
    and one member's failure neither cancels the others nor reorders the
    report — the master-chain continue-past-failure contract."""
    from tests.conftest import SF_DIR
    from trialsync_etl_spark import transforms
    from trialsync_etl_spark.transforms import (
        CHAINS,
        WarehouseContext,
        run_chain,
    )
    from trialsync_etl_spark.transforms.maintenance import _published_tables

    transforms.load_all()
    seq_wh, par_wh = str(tmp_path / "seq"), str(tmp_path / "par")
    seq_ctx = WarehouseContext(sf_dir=SF_DIR, warehouse_dir=seq_wh)
    par_ctx = WarehouseContext(sf_dir=SF_DIR, warehouse_dir=par_wh)

    seq = run_chain(spark, "load_all_new_dimensions", seq_ctx, max_parallel=1)
    seq += run_chain(spark, "load_all_new_facts", seq_ctx, max_parallel=1)
    par = run_chain(spark, "load_all_new_dimensions", par_ctx, max_parallel=4)
    par += run_chain(spark, "load_all_new_facts", par_ctx, max_parallel=4)

    assert [r.name for r in par] == [r.name for r in seq]  # chain order
    assert all(r.status == "success" for r in par), [
        (r.name, r.error) for r in par if r.status != "success"
    ]
    assert {r.name: r.rows for r in par} == {r.name: r.rows for r in seq}

    tables = _published_tables(seq_wh)
    assert len(tables) > 15 and _published_tables(par_wh) == tables
    for t in tables:
        a = sorted(tuple(str(v) for v in r)
                   for r in spark.read.parquet(f"{seq_wh}/{t}").collect())
        b = sorted(tuple(str(v) for v in r)
                   for r in spark.read.parquet(f"{par_wh}/{t}").collect())
        assert a == b, f"parallel build diverged on {t}"

    # failure isolation: an unknown member fails in place, the rest land
    mixed = run_chain(
        spark,
        [CHAINS["load_all_new_dimensions"][0], "no_such_transform",
         CHAINS["load_all_new_dimensions"][1]],
        WarehouseContext(sf_dir=SF_DIR, warehouse_dir=str(tmp_path / "mx")),
        max_parallel=4,
    )
    assert [r.status for r in mixed] == ["success", "failed", "success"]
    assert "unknown transform" in mixed[1].error
