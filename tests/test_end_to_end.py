"""Full medallion pipeline end-to-end: OData feed → JobExecutor → Bronze
envelope → Silver SCD2 dimension → Gold materialized rollup — one test
driving every layer the way a deployment would."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from trialsync_etl_spark.credentials import CredentialStore
from trialsync_etl_spark.executor import JobExecutor
from trialsync_etl_spark.gold import materialize, read_materialized
from trialsync_etl_spark.jobs import JobSpec
from trialsync_etl_spark.operators.scd2 import current_view, scd2_rebuild
from trialsync_etl_spark.runs import RunLog
from trialsync_etl_spark.sources.odata import ODataSource
from trialsync_etl_spark.streaming.incremental import CheckpointStore, WatermarkStore


def _odata_feed(records):
    """A hermetic OData endpoint honoring $top/$skip."""

    def transport(url):
        from urllib.parse import parse_qs, urlparse

        q = parse_qs(urlparse(url).query)
        top = int(q.get("$top", ["1000"])[0])
        skip = int(q.get("$skip", ["0"])[0])
        return 200, {}, json.dumps({"value": records[skip : skip + top]})

    return transport


@pytest.mark.slow
def test_medallion_end_to_end(spark, tmp_path):
    # --- source: a status-change feed served over the OData protocol -------
    events = []
    for uid in range(1, 6):
        for day, status in [(1, "screening"), (5, "enrolled"), (9, "completed")]:
            events.append(
                {"id": uid * 100 + day, "patientId": uid, "status": status,
                 "changedAt": f"2024-01-{day:02d}T00:00:00"}
            )

    # --- Bronze: land the feed through the job executor --------------------
    ex = JobExecutor(
        spark=spark,
        source=ODataSource(_odata_feed(events), page_size=4),
        bronze_root=str(tmp_path / "bronze"),
        run_log=RunLog(str(tmp_path / "runs.jsonl")),
        watermarks=WatermarkStore(str(tmp_path / "wm.json")),
        checkpoints=CheckpointStore(str(tmp_path / "cp.json"), save_interval_s=0),
    )
    out = ex.execute(JobSpec(60, "StatusChanges", "/api/status-changes", "status_staging"))
    assert out.status == "success" and out.pages == 4
    landed = spark.read.parquet(str(tmp_path / "bronze/status_staging"))
    assert landed.count() == 15

    # --- Silver: JSON projection + SCD2 dimension ---------------------------
    changes = landed.select(
        F.get_json_object("data", "$.patientId").cast("long").alias("patient_id"),
        F.get_json_object("data", "$.status").alias("status"),
        F.get_json_object("data", "$.changedAt").cast("timestamp").alias("ts"),
        F.get_json_object("data", "$.id").cast("long").alias("event_id"),
    )
    dim = scd2_rebuild(
        changes.withColumn("value", F.lit(None).cast("double")),
        key_cols=["patient_id"], tracked_cols=["status", "value"],
        ts_col="ts", tiebreak_cols=["event_id"],
    )
    dim_path = str(tmp_path / "silver/dim_patient_status")
    dim.write.partitionBy("is_current").parquet(dim_path)

    from trialsync_etl_spark.operators.scd2 import read_scd2

    silver = read_scd2(spark, dim_path)
    assert silver.count() == 15  # every status change is a version
    cur = current_view(silver)
    assert cur.count() == 5
    assert {r.status for r in cur.collect()} == {"completed"}

    # --- Gold: materialized current-status rollup ---------------------------
    rollup = cur.groupBy("status").agg(F.count(F.lit(1)).alias("n_patients"))
    mv_path = str(tmp_path / "gold/mv_status_summary")
    materialize(rollup, mv_path)
    got = read_materialized(spark, mv_path).collect()
    assert [(r.status, r.n_patients) for r in got] == [("completed", 5)]


def test_full_catalog_job_lands_pinned_entity(spark, tmp_path):
    """Production wiring end-to-end: resolve the real Patients job from the
    committed 90-job catalog, execute it against an OData fixture feed, and
    project the landed Bronze through the pinned PatientViewModel schema —
    the path a deployment takes, with no demo shims."""
    from trialsync_etl_spark.entities import parse_entity
    from trialsync_etl_spark.jobs import load_full_catalog

    catalog = load_full_catalog()
    spec = JobExecutor.resolve(catalog, 3)  # Patients
    assert spec.target_table == "dim_patients_staging"
    assert spec.timeout_s == 3600  # TIMEOUT_RECOMMENDATIONS.md value

    patients = [
        {"id": i, "displayName": f"Patient {i}", "status": "Active",
         "primarySite": {"id": i % 3, "uid": f"s-{i % 3}", "name": f"Site {i % 3}"},
         "activeStudies": [{"id": 10 + i, "name": "S"}] if i % 2 else []}
        for i in range(12)
    ]

    ex = JobExecutor(
        spark=spark,
        source=ODataSource(_odata_feed(patients), page_size=5),
        bronze_root=str(tmp_path / "bronze"),
        run_log=RunLog(str(tmp_path / "runs.jsonl")),
        watermarks=WatermarkStore(str(tmp_path / "wm.json")),
        checkpoints=CheckpointStore(str(tmp_path / "cp.json"), save_interval_s=0),
    )
    out = ex.execute(spec)
    assert out.status == "success" and out.records_loaded == 12

    bronze = spark.read.parquet(str(tmp_path / "bronze/dim_patients_staging"))
    silver = bronze.select(parse_entity("data", "Patient").alias("e")).select(
        F.col("e.id").alias("patient_id"),
        F.col("e.primarySite.name").alias("site"),
        F.size("e.activeStudies").alias("n_studies"),
    )
    rows = {r.patient_id: r for r in silver.collect()}
    assert len(rows) == 12
    assert rows[4].site == "Site 1" and rows[4].n_studies == 0
    assert rows[5].n_studies == 1


def test_executor_with_credential_store(spark, tmp_path):
    """C10 wiring: executor built from per-instance credentials."""
    creds_file = tmp_path / "creds.json"
    creds_file.write_text(json.dumps({"1": {"base_url": "", "rate_limit_rps": 1000}}))

    records = [{"id": i, "v": i} for i in range(7)]

    def transport_factory(creds):
        def transport(url):
            return 200, {}, json.dumps({"value": records})

        return transport

    spec = JobSpec(50, "RefLists", "/api/ref", "ref_staging")
    ex = JobExecutor.for_instance(
        spark,
        spec,
        CredentialStore(str(creds_file)),
        transport_factory,
        bronze_root=str(tmp_path / "bronze"),
        run_log=RunLog(str(tmp_path / "runs.jsonl")),
        watermarks=WatermarkStore(str(tmp_path / "wm.json")),
        checkpoints=CheckpointStore(str(tmp_path / "cp.json"), save_interval_s=0),
    )
    assert ex.source.limiter is not None and ex.source.limiter.rps == 1000
    out = ex.execute(spec)
    assert out.status == "success" and out.records_loaded == 7


def test_swap_publish_retention_and_time_travel(spark, tmp_path):
    """keep_versions=N retains the last N version dirs with a manifest:
    read_version() time-travels within the window, a trimmed seq raises
    (never silently serves current), and the live pointer always reads the
    newest data."""
    from trialsync_etl_spark import storage

    path = str(tmp_path / "t")
    for tag in (1, 2, 3):
        df = spark.range(0, 100).withColumn("tag", F.lit(tag))
        storage.swap_publish(df, path, keep_versions=2)

    versions = storage.list_versions(path)
    assert [v["seq"] for v in versions] == [2, 3]
    assert [v["is_current"] for v in versions] == [False, True]
    assert spark.read.parquet(path).select("tag").distinct().first()[0] == 3
    assert storage.read_version(spark, path, 2).select("tag").first()[0] == 2
    with pytest.raises(ValueError, match="available: \\[2, 3\\]"):
        storage.read_version(spark, path, 1)


def test_swap_publish_retention_survives_crash_cleanup(spark, tmp_path):
    """Crash-leftover clearing must spare manifest-retained versions (they
    are exactly the 'unreferenced __v dirs' the old rule deleted) while
    still removing genuinely stranded ones."""
    import os

    from trialsync_etl_spark import storage

    path = str(tmp_path / "t")
    for tag in (1, 2):
        storage.swap_publish(
            spark.range(0, 10).withColumn("tag", F.lit(tag)), path, keep_versions=2
        )
    stranded = path + "__vdeadbeef0000"
    os.makedirs(stranded)
    storage._clear_crash_leftovers(path)
    assert not os.path.exists(stranded)
    # retained previous version still readable
    assert storage.read_version(spark, path, 1).select("tag").first()[0] == 1


def test_swap_publish_default_keeps_single_version(spark, tmp_path):
    """Default keep_versions=1 preserves the classic layout: after any
    number of publishes exactly one __v dir exists (pre-feature tables
    backfill into the manifest and then trim identically)."""
    import os

    from trialsync_etl_spark import storage

    path = str(tmp_path / "t")
    for tag in (1, 2, 3):
        storage.swap_publish(spark.range(0, 10).withColumn("tag", F.lit(tag)), path)
    vdirs = [n for n in os.listdir(tmp_path) if n.startswith("t__v")]
    assert len(vdirs) == 1
    assert [v["seq"] for v in storage.list_versions(path)] == [3]


def test_compact_table_reduces_file_count(spark, tmp_path):
    """Small-file maintenance: a table accreted in many tiny files is
    rewritten into ceil(bytes/target) files with identical contents,
    published atomically through the same pointer-swap as every write."""
    import os

    from trialsync_etl_spark.storage import compact_table, swap_publish, table_file_stats

    path = str(tmp_path / "t")
    df = spark.range(0, 10000).withColumn("v", F.col("id") * 2)
    swap_publish(df.repartition(64), path)
    before, total = table_file_stats(path)
    assert before == 64

    stats = compact_table(spark, path, target_file_bytes=total)
    assert stats["files_before"] == 64
    assert stats["files_after"] <= 2  # ceil(bytes/target)=1 (+AQE slack)
    got = spark.read.parquet(path)
    assert got.count() == 10000
    assert got.agg(F.sum("v")).first()[0] == df.agg(F.sum("v")).first()[0]
    assert os.path.islink(path)  # still pointer-published


def test_compact_table_preserves_partition_layout(spark, tmp_path):
    import os

    from trialsync_etl_spark.storage import compact_table, swap_publish, table_file_stats

    path = str(tmp_path / "p")
    df = spark.range(0, 5000).select(
        (F.col("id") % 3).alias("part"), F.col("id").alias("v")
    )
    swap_publish(df.repartition(40), path, partition_by=("part",))
    before, total = table_file_stats(path)
    assert before > 10

    stats = compact_table(spark, path, target_file_bytes=total, partition_by=("part",))
    assert stats["files_after"] < before
    got = spark.read.parquet(path)
    assert got.count() == 5000
    # partition dirs survive the rewrite
    real = os.path.realpath(path)
    assert sorted(d for d in os.listdir(real) if d.startswith("part=")) == [
        "part=0", "part=1", "part=2",
    ]


def test_retention_window_property(spark, tmp_path):
    """Property: after publishing frames tagged 1..n with keep_versions=k,
    exactly the last min(n, k) tags are retained, each read_version returns
    its own tag, and every older seq raises."""
    from trialsync_etl_spark import storage

    n, k = 5, 3
    path = str(tmp_path / "t")
    for tag in range(1, n + 1):
        storage.swap_publish(
            spark.range(0, 5).withColumn("tag", F.lit(tag)), path, keep_versions=k
        )
    versions = storage.list_versions(path)
    assert [v["seq"] for v in versions] == [3, 4, 5]
    for seq in (3, 4, 5):
        assert storage.read_version(spark, path, seq).select("tag").first()[0] == seq
    for seq in (1, 2):
        with pytest.raises(ValueError):
            storage.read_version(spark, path, seq)


def test_compaction_preserves_retention_width(spark, tmp_path):
    """Maintenance must not shrink a configured time-travel window: a
    table published with keep_versions=3 keeps a 3-wide manifest across
    compact_table (and the compacted rewrite becomes the newest version)."""
    from trialsync_etl_spark import storage

    path = str(tmp_path / "t")
    for tag in (1, 2, 3):
        storage.swap_publish(
            spark.range(0, 50).withColumn("tag", F.lit(tag)).repartition(8),
            path, keep_versions=3,
        )
    assert len(storage.list_versions(path)) == 3

    storage.compact_table(spark, path, target_file_bytes=1 << 30)
    versions = storage.list_versions(path)
    assert len(versions) == 3  # width preserved, not reset to 1
    assert spark.read.parquet(path).select("tag").first()[0] == 3
    # the two pre-compaction versions are still time-travelable
    assert storage.read_version(spark, path, versions[0]["seq"]) \
        .select("tag").distinct().count() == 1

    # the CONFIGURED width survives even before the window fills: one
    # publish at keep=5, then maintenance + a default publish — the
    # recorded width (5), not the version count (1), is what persists
    p2 = str(tmp_path / "t2")
    storage.swap_publish(spark.range(0, 10).withColumn("tag", F.lit(1)),
                         p2, keep_versions=5)
    storage.compact_table(spark, p2, target_file_bytes=1 << 30)
    assert storage.table_keep_versions(p2) == 5
    storage.swap_publish(spark.range(0, 10).withColumn("tag", F.lit(2)), p2)
    assert storage.table_keep_versions(p2) == 5
    assert len(storage.list_versions(p2)) == 3  # publish, compact, publish


def test_diff_versions_audit(spark, tmp_path):
    """Version diff: an update surfaces as removed+added (key mode), pure
    inserts as added-only, and mismatched schemas fail loudly."""
    from trialsync_etl_spark import storage

    path = str(tmp_path / "t")
    v1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    )
    storage.swap_publish(v1, path, keep_versions=3)
    v2 = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, "c"), (4, "d")], "id long, v string"
    )
    storage.swap_publish(v2, path, keep_versions=3)

    d = storage.diff_versions(spark, path, 1, 2)
    got = {(r.id, r.v, r.change) for r in d.collect()}
    assert got == {(2, "b", "removed"), (2, "B", "added"), (4, "d", "added")}

    dk = storage.diff_versions(spark, path, 1, 2, key_cols=["id"])
    assert {(r.id, r.change) for r in dk.collect()} == {
        (2, "removed"), (2, "added"), (4, "added")
    }

    v3 = spark.createDataFrame([(1, "a", 0.5)], "id long, v string, w double")
    storage.swap_publish(v3, path, keep_versions=3)
    with pytest.raises(ValueError, match="schema drift"):
        storage.diff_versions(spark, path, 2, 3)
