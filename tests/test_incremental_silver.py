"""Incremental Silver dim maintenance: two watermarked merge runs must
converge to the same current slice as a one-shot rebuild over all data;
plus tuning-helper units."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from trialsync_etl_spark import transforms, tuning
from trialsync_etl_spark.catalog import load_table
from trialsync_etl_spark.operators.scd2 import current_view, read_scd2, scd2_rebuild
from trialsync_etl_spark.streaming.incremental import WatermarkStore
from trialsync_etl_spark.transforms import WarehouseContext, run_transform

transforms.load_all()


def _write_events_dir(spark, events_df, dirpath):
    os.makedirs(dirpath, exist_ok=True)
    events_df.write.mode("overwrite").parquet(os.path.join(dirpath, "events.parquet"))


def test_incremental_merge_converges_to_rebuild(spark, tmp_path):
    all_events = load_table(spark, SF_DIR, "events")
    # median cut without numeric casts (timestamp->double is illegal under
    # ANSI and timestamp_ntz regardless): take the middle row's ts
    n = all_events.count()
    cut = (
        all_events.select("ts").orderBy("ts").limit(n // 2)
        .agg(F.max("ts")).collect()[0][0]
    )
    early = all_events.filter(F.col("ts") <= F.lit(cut))
    assert 0 < early.count() < all_events.count()

    sf_dir = str(tmp_path / "sf")
    wh = str(tmp_path / "wh")
    store = WatermarkStore(str(tmp_path / "wm.json"))
    ctx = WarehouseContext(sf_dir=sf_dir, warehouse_dir=wh,
                           options={"watermark_store": store})

    # run 1: only the early half is visible
    _write_events_dir(spark, early, sf_dir)
    r1 = run_transform(spark, "load_dim_users_incremental", ctx)
    assert r1.status == "success", r1.error
    assert store.get("dim_users") is not None

    # run 2: the full stream lands; only post-watermark rows are merged
    _write_events_dir(spark, all_events, sf_dir)
    r2 = run_transform(spark, "load_dim_users_incremental", ctx)
    assert r2.status == "success", r2.error

    got = current_view(read_scd2(spark, ctx.table_path("dim_users")))
    expected = current_view(
        scd2_rebuild(
            all_events.select("user_id", F.col("event_type").alias("status"),
                              "value", "ts", "event_id"),
            key_cols=["user_id"], tracked_cols=["status", "value"],
            ts_col="ts", tiebreak_cols=["event_id"],
        )
    )
    cols = ["user_id", "status", "value", "effective_start"]
    got_rows = sorted(tuple(map(str, r)) for r in got.select(*cols).collect())
    want_rows = sorted(tuple(map(str, r)) for r in expected.select(*cols).collect())
    assert got_rows == want_rows

    # run 3 with nothing new: the inclusive watermark re-merges only the
    # boundary-ts rows (so a same-instant straggler can never be lost) and
    # the dim is UNCHANGED — scd2_merge no-ops re-seen rows; watermark
    # stays put
    wm_before = store.get("dim_users")
    r3 = run_transform(spark, "load_dim_users_incremental", ctx)
    assert r3.status == "success"
    assert store.get("dim_users") == wm_before
    got3 = current_view(read_scd2(spark, ctx.table_path("dim_users")))
    got3_rows = sorted(tuple(map(str, r)) for r in got3.select(*cols).collect())
    assert got3_rows == want_rows


def test_tuning_recommendations():
    assert tuning.recommend_shuffle_partitions(0) == 1
    assert tuning.recommend_shuffle_partitions(128 << 20) == 1
    assert tuning.recommend_shuffle_partitions((128 << 20) + 1) == 2
    assert tuning.recommend_shuffle_partitions(10 << 40) == (10 << 40) // (128 << 20)
    # 8 GiB executor, 4 cores, 4x blowup → 512 MiB per task... clamped to ≤1 GiB
    assert tuning.recommend_max_partition_bytes(8 << 30, 4) == 512 << 20
    assert tuning.recommend_max_partition_bytes(1 << 30, 64) == 16 << 20  # floor


def test_dir_bytes_and_apply(spark, tmp_path):
    p = str(tmp_path / "t")
    spark.range(1000).write.parquet(p)
    b = tuning.dir_bytes(p)
    assert b > 0
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        out = tuning.apply_recommendations(spark, 5 * (128 << 20))
        assert out["shuffle_partitions"] == 5
        assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_incremental_fact_converges_to_full_reload(spark, tmp_path):
    """Two watermarked incremental fact runs (dynamic partition overwrite
    of touched days) must equal the one-shot full aggregate — including a
    day that receives late rows across the two runs."""
    all_events = load_table(spark, SF_DIR, "events")
    n = all_events.count()
    cut = (
        all_events.select("ts").orderBy("ts").limit(n // 2)
        .agg(F.max("ts")).collect()[0][0]
    )
    early = all_events.filter(F.col("ts") <= F.lit(cut))

    sf_dir = str(tmp_path / "sf")
    wh = str(tmp_path / "wh")
    store = WatermarkStore(str(tmp_path / "wm.json"))
    ctx = WarehouseContext(sf_dir=sf_dir, warehouse_dir=wh,
                           options={"watermark_store": store})

    _write_events_dir(spark, early, sf_dir)
    r1 = run_transform(spark, "load_fact_daily_events_incremental", ctx)
    assert r1.status == "success", r1.error
    assert store.get("fact_daily_events") is not None
    wm1 = store.get("fact_daily_events")

    _write_events_dir(spark, all_events, sf_dir)
    r2 = run_transform(spark, "load_fact_daily_events_incremental", ctx)
    assert r2.status == "success", r2.error

    got = spark.read.parquet(ctx.table_path("fact_daily_events"))
    date_key = (
        (F.year("ts") * 10000 + F.month("ts") * 100 + F.dayofmonth("ts"))
        .cast("int").alias("date_key")
    )
    # rows written = the rows of the partitions the inclusive slice touched
    touched = all_events.filter(F.col("ts") >= F.lit(wm1).cast("timestamp"))
    assert r2.rows == got.join(
        touched.select(date_key).distinct(), "date_key", "left_semi"
    ).count()
    expected = all_events.groupBy(date_key, "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("value").alias("total_value"),
        F.avg("value").alias("avg_value"),
    )
    # total_value is a double SUM whose partial order differs between the
    # two aggregations — round before comparing to avoid last-ULP flakes
    sel = ["date_key", "event_type", "n_events", "n_users",
           F.round("total_value", 4).alias("total_value")]
    g = sorted(tuple(map(str, r)) for r in got.select(*sel).collect())
    e = sorted(tuple(map(str, r)) for r in expected.select(*sel).collect())
    assert g == e

    # third run with no new events: the boundary-count early-exit detects
    # that the inclusive slice holds nothing the last run didn't already
    # process — NO re-aggregation, no rewrite (returns 0), fact unchanged
    r3 = run_transform(spark, "load_fact_daily_events_incremental", ctx)
    assert r3.status == "success" and r3.rows == 0
    g3 = sorted(tuple(map(str, r)) for r in
                spark.read.parquet(ctx.table_path("fact_daily_events"))
                .select(*sel).collect())
    assert g3 == e

    # a LATE row landing with ts EXACTLY at the watermark changes the
    # boundary count, so it must still be picked up (the hazard the
    # inclusive rescan exists for) — its day re-aggregates in full
    wm = store.get("fact_daily_events")
    late = all_events.filter(F.col("ts").cast("string") == wm).limit(1)
    assert late.count() == 1
    _write_events_dir(spark, all_events.unionByName(late), sf_dir)
    r4 = run_transform(spark, "load_fact_daily_events_incremental", ctx)
    assert r4.status == "success" and r4.rows > 0
    expected4 = all_events.unionByName(late).groupBy(date_key, "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("value").alias("total_value"),
        F.avg("value").alias("avg_value"),
    )
    g4 = sorted(tuple(map(str, r)) for r in
                spark.read.parquet(ctx.table_path("fact_daily_events"))
                .select(*sel).collect())
    e4 = sorted(tuple(map(str, r)) for r in expected4.select(*sel).collect())
    assert g4 == e4


def test_incremental_mv_refresh_converges_to_full_view(spark, tmp_path):
    """Two watermarked incremental MV refreshes (dynamic month-partition
    overwrite) must equal the one-shot gold view — including a month that
    receives late orders in the second run."""
    from trialsync_etl_spark.gold import enrollment_summary

    all_orders = load_table(spark, SF_DIR, "orders")
    n = all_orders.count()
    cut = (
        all_orders.select("o_orderdate").orderBy("o_orderdate").limit(n // 2)
        .agg(F.max("o_orderdate")).collect()[0][0]
    )
    early = all_orders.filter(F.col("o_orderdate") <= F.lit(cut))

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir, exist_ok=True)
    # customer is static reference data for this view
    load_table(spark, SF_DIR, "customer").write.mode("overwrite").parquet(
        os.path.join(sf_dir, "customer.parquet")
    )
    wh = str(tmp_path / "wh")
    store = WatermarkStore(str(tmp_path / "wm.json"))
    ctx = WarehouseContext(sf_dir=sf_dir, warehouse_dir=wh,
                           options={"watermark_store": store})

    early.write.mode("overwrite").parquet(os.path.join(sf_dir, "orders.parquet"))
    r1 = run_transform(spark, "refresh_mv_enrollment_summary_incremental", ctx)
    assert r1.status == "success", r1.error
    assert store.get("mv_enrollment_summary") is not None
    wm1 = store.get("mv_enrollment_summary")

    all_orders.write.mode("overwrite").parquet(os.path.join(sf_dir, "orders.parquet"))
    r2 = run_transform(spark, "refresh_mv_enrollment_summary_incremental", ctx)
    assert r2.status == "success", r2.error

    got = spark.read.parquet(ctx.table_path("mv_enrollment_summary_inc"))
    # rows written = the rows of the months the inclusive slice touched
    touched = all_orders.filter(
        F.col("o_orderdate") >= F.lit(wm1).cast("timestamp")
    ).select(F.date_format("o_orderdate", "yyyy-MM").alias("order_month"))
    assert r2.rows == got.join(
        touched.distinct(), "order_month", "left_semi"
    ).count()
    expected = enrollment_summary(spark, sf_dir)
    cols = ["order_month", "c_mktsegment", "n_customers", "n_orders",
            "total_value", "pct_urgent"]
    g = sorted(tuple(map(str, r)) for r in got.select(*cols).collect())
    e = sorted(tuple(map(str, r)) for r in expected.select(*cols).collect())
    assert g == e

    # third run with no new orders: the boundary-count early-exit fires —
    # no month re-aggregated, no partition rewritten (returns 0); a
    # same-date late row would change the boundary count and still refresh
    r3 = run_transform(spark, "refresh_mv_enrollment_summary_incremental", ctx)
    assert r3.status == "success" and r3.rows == 0
    g3 = sorted(tuple(map(str, r)) for r in
                spark.read.parquet(ctx.table_path("mv_enrollment_summary_inc"))
                .select(*cols).collect())
    assert g3 == e


# ---------------------------------------------------------------------------
# the listing early exit and the one-write commit (run_incremental)
# ---------------------------------------------------------------------------
#: transform -> (watermark job, source table it slices)
INCREMENTAL = {
    "load_dim_users_incremental": ("dim_users", "events"),
    "load_fact_daily_events_incremental": ("fact_daily_events", "events"),
    "refresh_mv_enrollment_summary_incremental": ("mv_enrollment_summary", "orders"),
}


def _sources(spark, tmp_path):
    """A source dir of Spark-written events, orders and customer tables,
    and a context with a fresh watermark store over it."""
    sf_dir = str(tmp_path / "sf")
    for name in ("events", "orders", "customer"):
        load_table(spark, SF_DIR, name).write.mode("overwrite").parquet(
            os.path.join(sf_dir, f"{name}.parquet")
        )
    store = WatermarkStore(str(tmp_path / "wm.json"))
    return WarehouseContext(sf_dir=sf_dir, warehouse_dir=str(tmp_path / "wh"),
                            options={"watermark_store": store})


def _land_newer(spark, sf_dir, table, tag):
    """Append one part file of rows newer than any in ``table`` (the shape
    of a sync change batch)."""
    src = load_table(spark, sf_dir, table).limit(3)
    if table == "events":
        rows = src.withColumn("ts", F.col("ts") + F.expr("INTERVAL 400 DAYS")) \
            .withColumn("event_id", F.col("event_id") + 10_000_000 * tag)
    else:
        rows = src.withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 400 DAYS")) \
            .withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000 * tag)
    rows.write.mode("append").parquet(os.path.join(sf_dir, f"{table}.parquet"))


def _state(ctx, job):
    from trialsync_etl_spark.streaming.incremental import (
        BOUNDARY_PARAM,
        FINGERPRINT_PARAM,
    )

    store = ctx.options["watermark_store"]
    return tuple(store.get(job, param=p) for p in (None, BOUNDARY_PARAM, FINGERPRINT_PARAM))


@pytest.mark.parametrize("name", sorted(INCREMENTAL))
def test_idle_poll_launches_no_spark_job(spark, tmp_path, name):
    """A poll over an unchanged source listing is answered from the
    watermark store and the listing: 0 Spark jobs, 0 rows."""
    from tests.conftest import spark_jobs

    ctx = _sources(spark, tmp_path)
    r1 = run_transform(spark, name, ctx)
    assert r1.status == "success" and r1.rows > 0, r1.error
    with spark_jobs(spark) as jobs:
        r2 = run_transform(spark, name, ctx)
    assert r2.status == "success" and r2.rows == 0, r2.error
    assert jobs == []


def test_listing_fingerprint_sees_data_not_bookkeeping(tmp_path):
    """The fingerprint changes when a file Spark reads is added or
    rewritten, and not when Spark's bookkeeping files come and go."""
    from trialsync_etl_spark.streaming.incremental import source_fingerprint as fp

    table = tmp_path / "events.parquet"
    table.mkdir()
    part = table / "part-0.parquet"
    part.write_bytes(b"x" * 10)
    base = fp(str(table))
    assert fp(str(table)) == base

    # bookkeeping: _SUCCESS, .crc, _temporary/ are invisible to a read
    (table / "_SUCCESS").write_bytes(b"")
    (table / ".part-0.parquet.crc").write_bytes(b"c")
    (table / "_temporary" / "0").mkdir(parents=True)
    (table / "_temporary" / "0" / "part-9.parquet").write_bytes(b"t")
    assert fp(str(table)) == base

    # a rewrite under the same name: same size, new mtime ...
    st = part.stat()
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    rewritten = fp(str(table))
    assert rewritten != base
    # ... or new size, same mtime
    mtime = part.stat().st_mtime_ns
    part.write_bytes(b"y" * 11)
    os.utime(part, ns=(mtime, mtime))
    assert fp(str(table)) not in (base, rewritten)

    # an appended part file, and a key=value partition dir, are data
    before = fp(str(table))
    (table / "part-1.parquet").write_bytes(b"z")
    appended = fp(str(table))
    assert appended != before
    (table / "_p=1").mkdir()
    (table / "_p=1" / "part-2.parquet").write_bytes(b"w")
    assert fp(str(table)) != appended

    # the resolved root counts: a pointer repointed at a copy is a change
    ptr = tmp_path / "ptr"
    ptr.symlink_to(table.name)
    assert fp(str(ptr)) == fp(str(table))
    shutil.copytree(table, tmp_path / "copy", copy_function=shutil.copy2)
    ptr.unlink()
    ptr.symlink_to("copy")
    assert fp(str(ptr)) == fp(str(tmp_path / "copy")) != fp(str(table))


def test_poll_refreshes_on_appended_part_not_on_bookkeeping(spark, tmp_path):
    from tests.conftest import spark_jobs
    from trialsync_etl_spark.streaming.incremental import (
        BOUNDARY_PARAM,
        advance_boundary,
    )

    name, job = "load_fact_daily_events_incremental", "fact_daily_events"
    ctx = _sources(spark, tmp_path)
    assert run_transform(spark, name, ctx).status == "success"

    # a store committed without a listing (one written before listings
    # were recorded): the first poll reads, finds nothing new and records
    # the listing, so the next poll needs no job
    store = ctx.options["watermark_store"]
    advance_boundary(store, job, store.get(job), int(store.get(job, param=BOUNDARY_PARAM)))
    assert _state(ctx, job)[2] is None
    r = run_transform(spark, name, ctx)
    assert r.status == "success" and r.rows == 0 and _state(ctx, job)[2] is not None
    events = os.path.join(ctx.sf_dir, "events.parquet")
    for junk in ("_SUCCESS", ".part-x.crc"):
        with open(os.path.join(events, junk), "w") as f:
            f.write("junk")
    os.makedirs(os.path.join(events, "_temporary", "0"))
    with spark_jobs(spark) as jobs:
        r = run_transform(spark, name, ctx)
    assert r.status == "success" and r.rows == 0 and jobs == []

    _land_newer(spark, ctx.sf_dir, "events", tag=1)
    r = run_transform(spark, name, ctx)
    assert r.status == "success" and r.rows > 0, r.error


def test_file_landed_during_a_run_is_read_by_the_next_poll(spark, tmp_path, monkeypatch):
    """The listing a run records is the one taken before its first read:
    a part file landing mid-run is not marked consumed unread."""
    from trialsync_etl_spark.streaming import incremental

    name = "load_fact_daily_events_incremental"
    ctx = _sources(spark, tmp_path)
    real = incremental.boundary_stats

    def landing(df, ts_col):
        monkeypatch.setattr(incremental, "boundary_stats", real)
        _land_newer(spark, ctx.sf_dir, "events", tag=2)
        return real(df, ts_col)

    monkeypatch.setattr(incremental, "boundary_stats", landing)
    assert run_transform(spark, name, ctx).status == "success"
    assert incremental.boundary_stats is real
    r2 = run_transform(spark, name, ctx)
    assert r2.status == "success" and r2.rows > 0, r2.error

    full = WarehouseContext(sf_dir=ctx.sf_dir, warehouse_dir=str(tmp_path / "full"))
    assert run_transform(spark, "load_fact_daily_events", full).status == "success"
    sel = ["date_key", "event_type", "n_events", "n_users",
           F.round("total_value", 4).alias("total_value")]

    def rows(c):
        df = spark.read.parquet(c.table_path("fact_daily_events"))
        return sorted(tuple(map(str, r)) for r in df.select(*sel).collect())

    assert rows(ctx) == rows(full)


@pytest.mark.parametrize("name", sorted(INCREMENTAL))
def test_failed_write_commits_nothing(spark, tmp_path, monkeypatch, name):
    """A failure in the transform's table write leaves watermark, boundary
    count and listing fingerprint as they were; the next poll refreshes."""
    from pyspark.sql.readwriter import DataFrameWriter

    job, table = INCREMENTAL[name]
    ctx = _sources(spark, tmp_path)
    assert run_transform(spark, name, ctx).status == "success"
    before = _state(ctx, job)
    assert all(v is not None for v in before)
    _land_newer(spark, ctx.sf_dir, table, tag=3)

    def fail(*a, **kw):
        raise OSError("injected write failure")

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", fail)
        r = run_transform(spark, name, ctx)
    assert r.status == "failed" and "injected write failure" in r.error
    assert _state(ctx, job) == before

    r = run_transform(spark, name, ctx)
    assert r.status == "success" and r.rows > 0, r.error
    after = _state(ctx, job)
    assert after[0] > before[0] and after[2] != before[2]
