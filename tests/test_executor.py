"""JobExecutor end-to-end: fetch → Bronze upsert, timeout-suspend-resume,
incremental watermark, dry run, error statuses — the §3.1 lifecycle."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from trialsync_etl_spark.executor import (
    ExecutionOutcome,
    JobExecutor,
    JobInactiveError,
    JobNotFoundError,
)
from trialsync_etl_spark.jobs import JobSpec
from trialsync_etl_spark.runs import RunLog
from trialsync_etl_spark.sources.odata import ODataSource, ODataSourceError
from trialsync_etl_spark.streaming.incremental import CheckpointStore, WatermarkStore


def make_transport(records, capture=None, ignore_skip=False):
    """Hermetic OData endpoint honoring $top/$skip/$filter
    (``ignore_skip=True``: every request is answered from offset 0)."""

    def transport(url):
        from urllib.parse import parse_qs, urlparse

        q = parse_qs(urlparse(url).query)
        if capture is not None:
            capture.append(url)
        top = int(q.get("$top", ["1000"])[0])
        skip = 0 if ignore_skip else int(q.get("$skip", ["0"])[0])
        rows = records
        flt = q.get("$filter", [None])[0]
        if flt:  # "modifiedDate gt <ts>"
            ts = flt.split(" gt ", 1)[1]
            rows = [r for r in rows if r["modifiedDate"] > ts]
        return 200, {}, json.dumps({"value": rows[skip : skip + top]})

    return transport


def _records(n, mod="2024-01-10 00:00:00"):
    return [{"id": i, "name": f"rec{i}", "modifiedDate": mod} for i in range(n)]


def _executor(spark, tmp_path, transport, page_size=10, dry_run=False):
    return JobExecutor(
        spark=spark,
        source=ODataSource(transport, page_size=page_size),
        bronze_root=str(tmp_path / "bronze"),
        run_log=RunLog(str(tmp_path / "runs.jsonl")),
        watermarks=WatermarkStore(str(tmp_path / "wm.json")),
        checkpoints=CheckpointStore(str(tmp_path / "cp.json"), save_interval_s=0),
        dry_run=dry_run,
    )


SPEC = JobSpec(3, "Patients", "/api/patients", "dim_patients_staging", incremental=True)


def test_resolve_errors():
    with pytest.raises(JobNotFoundError):
        JobExecutor.resolve([SPEC], 99)
    with pytest.raises(JobInactiveError):
        JobExecutor.resolve([JobSpec(4, "X", "/x", "t", active=False)], 4)


def test_full_load_lands_bronze(spark, tmp_path):
    ex = _executor(spark, tmp_path, make_transport(_records(25)))
    out = ex.execute(SPEC)
    assert out.status == "success"
    assert out.records_loaded == 25
    bronze = spark.read.parquet(str(tmp_path / "bronze/dim_patients_staging"))
    assert bronze.count() == 25
    cols = set(bronze.columns)
    assert {"data", "source_id", "source_instance_id", "etl_job_id", "loaded_at",
            "ingest_seq"} <= cols
    # upsert key is unique
    assert bronze.select("source_instance_id", "source_id").distinct().count() == 25


def test_rerun_upserts_not_duplicates(spark, tmp_path):
    recs = _records(15)
    ex = _executor(spark, tmp_path, make_transport(recs))
    ex.execute(SPEC, run_started_at="2024-01-01 00:00:00")
    # same ids again with changed payloads → replaced, not appended
    for r in recs:
        r["name"] = r["name"] + "_v2"
        r["modifiedDate"] = "2024-02-01 00:00:00"
    out = ex.execute(SPEC, run_started_at="2024-02-02 00:00:00")
    assert out.status == "success"
    bronze = spark.read.parquet(str(tmp_path / "bronze/dim_patients_staging"))
    assert bronze.count() == 15
    names = [
        json.loads(r.data)["name"]
        for r in bronze.select("data").collect()
    ]
    assert all(n.endswith("_v2") for n in names)


def test_incremental_second_run_uses_watermark(spark, tmp_path):
    urls: list[str] = []
    recs = _records(8, mod="2024-01-10 00:00:00")
    ex = _executor(spark, tmp_path, make_transport(recs, capture=urls))
    ex.execute(SPEC, run_started_at="2024-01-15 00:00:00")
    # second run: watermark = first run's started_at ⇒ $filter excludes all
    out2 = ex.execute(SPEC, run_started_at="2024-02-01 00:00:00")
    assert out2.records_loaded == 0
    assert any("%24filter=modifiedDate+gt+2024-01-15" in u for u in urls)
    # bronze unchanged
    assert spark.read.parquet(str(tmp_path / "bronze/dim_patients_staging")).count() == 8


def test_timeout_suspends_then_resumes_complete(spark, tmp_path):
    recs = _records(40)
    ex = _executor(spark, tmp_path, make_transport(recs), page_size=10)
    # deadline exceeded immediately → suspend after the first page
    out = ex.execute(SPEC, timeout_s=0.0)
    assert out.status == "suspended"
    assert 0 < out.records_loaded < 40
    assert out.run.status == "suspended"

    resumed = ex.execute(SPEC, resume_run_id=out.run.run_id,
                         run_started_at="2024-01-01 00:00:00")
    assert resumed.status == "success"
    assert resumed.resumed_from_skip == out.records_loaded
    bronze = spark.read.parquet(str(tmp_path / "bronze/dim_patients_staging"))
    assert bronze.count() == 40
    assert bronze.select("source_id").distinct().count() == 40


def test_checkpoint_never_advances_past_flushed_records(spark, tmp_path):
    """A cadence checkpoint taken while pages sit in the flush buffer must
    record only flushed progress: if the run then dies and is resumed from
    that checkpoint, no record may be silently skipped."""
    recs = _records(40)
    ex = _executor(spark, tmp_path, make_transport(recs), page_size=10)
    ex.batch_pages = 3  # flush every 30 records → pages 1-2 sit buffered

    boom = {"armed": False, "flushes": 0}
    orig_flush = ex._flush

    def failing_flush(spec, rows, loaded_at, seq, sink):
        if rows:
            boom["flushes"] += 1
            if boom["armed"] and boom["flushes"] >= 2:
                raise RuntimeError("transient write failure")
        return orig_flush(spec, rows, loaded_at, seq, sink)

    ex._flush = failing_flush
    rec_ids = []
    orig_create = ex.run_log.create

    def capture_create(name):
        r = orig_create(name)
        rec_ids.append(r.run_id)
        return r

    ex.run_log.create = capture_create

    boom["armed"] = True
    with pytest.raises(RuntimeError, match="transient write failure"):
        ex.execute(SPEC)
    # every cadence save happened with save_interval_s=0: the persisted
    # checkpoint must reflect ONLY flushed records (30), not fetched (40)
    cp = ex.checkpoints.load(rec_ids[0])
    assert cp is not None and cp.skip == 30

    boom["armed"] = False
    out = ex.execute(SPEC, resume_run_id=rec_ids[0],
                     run_started_at="2024-01-01 00:00:00")
    assert out.status == "success"
    bronze = spark.read.parquet(str(tmp_path / "bronze/dim_patients_staging"))
    assert bronze.count() == 40  # nothing lost on the retry-with-resume path
    assert bronze.select("source_id").distinct().count() == 40


def test_dry_run_writes_nothing(spark, tmp_path):
    import os

    ex = _executor(spark, tmp_path, make_transport(_records(12)), dry_run=True)
    out = ex.execute(SPEC)
    assert out.status == "success" and out.records_loaded == 12
    assert not os.path.exists(str(tmp_path / "bronze/dim_patients_staging"))


PARAM_SPEC = JobSpec(
    9, "PatientVisits", "/api/studies/{studyId}/visits", "visits_staging",
    parameterized_by="studyId", parent_table="dim_patients_staging", parent_key="id",
)


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_parameterized_fanout_partial_failures(spark, tmp_path):
    ex = _executor(spark, tmp_path, make_transport(_records(6)))
    ex.execute(SPEC)  # land the parent table (ids 0..5)
    cached = _persistent_rdds(spark)

    def fetch_one(key):
        if key == 3:
            raise RuntimeError("api 500 for study 3")
        return [json.dumps({"id": int(key) * 10 + j, "visit": j}) for j in range(2)]

    out = ex.execute_parameterized(PARAM_SPEC, fetch_one)
    assert out.status == "success"
    assert _persistent_rdds(spark) == cached  # the fetched frame is released
    assert out.records_loaded == 10  # 5 ok parents × 2 children
    assert out.run.records_failed == 1
    assert out.run.run_context["total_parameters"] == 6

    bronze = spark.read.parquet(str(tmp_path / "bronze/visits_staging"))
    assert bronze.count() == 10
    # parent key travels as a column (P7)
    assert bronze.filter(F.col("_parent_id") == 2).count() == 2
    assert bronze.filter(F.col("_parent_id") == 3).count() == 0


def test_parameterized_all_fail_fails_run(spark, tmp_path):
    import pytest as _pytest

    ex = _executor(spark, tmp_path, make_transport(_records(3)))
    ex.execute(SPEC)
    cached = _persistent_rdds(spark)

    def always_boom(key):
        raise RuntimeError("down")

    with _pytest.raises(RuntimeError, match="all 3 parameters failed"):
        ex.execute_parameterized(PARAM_SPEC, always_boom)
    assert _persistent_rdds(spark) == cached
    assert ex.run_log.history("PatientVisits")[0]["status"] == "failed"


def test_transport_failure_marks_run_failed(spark, tmp_path):
    def bad_transport(url):
        return 500, {}, "boom"

    ex = _executor(spark, tmp_path, bad_transport)
    ex.source.retries = 0
    ex.source.sleep = lambda s: None
    with pytest.raises(Exception):
        ex.execute(SPEC)
    hist = ex.run_log.history("Patients")
    assert hist[0]["status"] == "failed"


def test_post_load_drift_check_flags_upstream_fields(spark, tmp_path):
    """drift_check=True: after a successful load whose staging table maps
    to a pinned entity, the run record carries the unknown payload keys
    the pinned parse silently drops; a clean feed records none and a
    non-entity table skips the check entirely."""
    import json as _json

    from trialsync_etl_spark.executor import JobExecutor
    from trialsync_etl_spark.jobs import JobSpec
    from trialsync_etl_spark.runs import RunLog
    from trialsync_etl_spark.sources.odata import ODataSource
    from trialsync_etl_spark.streaming.incremental import (
        CheckpointStore,
        WatermarkStore,
    )

    rows = [
        {"id": i, "status": "Randomized", "isCurrentStatus": True,
         "eventDate": "2024-01-01", "comment": "c",
         "study": {"id": 1}, "site": {"id": 2}, "subject": {"Id": 3},
         "brandNewUpstreamField": i}
        for i in range(6)
    ]

    def transport(url):
        return 200, {}, _json.dumps({"value": rows})

    run_log = RunLog(str(tmp_path / "runs.jsonl"))
    ex = JobExecutor(
        spark=spark,
        source=ODataSource(transport, page_size=10),
        bronze_root=str(tmp_path / "bronze"),
        run_log=run_log,
        watermarks=WatermarkStore(str(tmp_path / "wm.json")),
        checkpoints=CheckpointStore(str(tmp_path / "cp.json"), save_interval_s=0),
        drift_check=True,
        drift_sample=None,  # full scan: the tiny fixture must be exact
    )
    spec = JobSpec(127, "SubjectStatuses", "/api/v1/subject-statuses/odata",
                   "dim_subject_statuses_staging")
    out = ex.execute(spec)
    assert out.status == "success" and out.records_loaded == 6

    rec = run_log.history(limit=1)[0]
    drift = rec["run_context"]["drift"]
    assert drift["entity"] == "SubjectStatus"
    # "id" is the upsert key the envelope needs but the 7-prop
    # SubjectStatusModel pin doesn't declare — correctly flagged alongside
    # the genuinely new upstream field
    assert drift["unknown_keys"] == {"brandNewUpstreamField": 6, "id": 6}

    # unmapped staging table → no drift block, load unaffected
    spec2 = JobSpec(99, "RefLists", "/api/ref", "ref_lists_staging")
    out2 = ex.execute(spec2)
    assert out2.status == "success"
    rec2 = run_log.history(limit=1)[0]
    assert "drift" not in (rec2.get("run_context") or {})


def test_resumed_run_drift_covers_first_attempts_rows(spark, tmp_path):
    """A resumed run's drift scan must include the suspended attempt's
    flushes (stamped with the ORIGINAL run_started_at), not just the
    resuming attempt's — the attempt timestamps ride in the checkpoint."""
    import json as _json

    rows = [
        {"id": i, "status": "Randomized", "isCurrentStatus": True,
         "eventDate": "2024-01-01", "comment": "c",
         "study": {"id": 1}, "site": {"id": 2}, "subject": {"Id": 3},
         "brandNewUpstreamField": i}
        for i in range(20)
    ]

    def transport(url):
        from urllib.parse import parse_qs, urlparse

        q = parse_qs(urlparse(url).query)
        top = int(q.get("$top", ["1000"])[0])
        skip = int(q.get("$skip", ["0"])[0])
        return 200, {}, _json.dumps({"value": rows[skip : skip + top]})

    run_log = RunLog(str(tmp_path / "runs.jsonl"))
    ex = JobExecutor(
        spark=spark,
        source=ODataSource(transport, page_size=10),
        bronze_root=str(tmp_path / "bronze"),
        run_log=run_log,
        watermarks=WatermarkStore(str(tmp_path / "wm.json")),
        checkpoints=CheckpointStore(str(tmp_path / "cp.json"), save_interval_s=0),
        drift_check=True,
        drift_sample=None,
    )
    spec = JobSpec(127, "SubjectStatuses", "/api/v1/subject-statuses/odata",
                   "dim_subject_statuses_staging")

    out = ex.execute(spec, timeout_s=0.0,
                     run_started_at="2024-03-01 00:00:00")
    assert out.status == "suspended" and 0 < out.records_loaded < 20

    resumed = ex.execute(spec, resume_run_id=out.run.run_id,
                         run_started_at="2024-03-02 00:00:00")
    assert resumed.status == "success"

    rec = run_log.history(limit=1)[0]
    drift = rec["run_context"]["drift"]
    # all 20 rows scanned — including the first attempt's flushes under
    # the 2024-03-01 stamp — not just the resuming attempt's remainder
    assert drift["unknown_keys"]["brandNewUpstreamField"] == 20


def test_skip_ignoring_feed_fails_run_and_keeps_watermark(spark, tmp_path):
    """A feed that ignores $skip repeats its first page. The run must fail,
    not land that page as the whole feed and advance the watermark past
    records it never pulled."""
    ex = _executor(spark, tmp_path, make_transport(_records(25), ignore_skip=True))
    with pytest.raises(ODataSourceError, match=r"ignored \$skip"):
        ex.execute(SPEC)
    assert ex.run_log.history("Patients")[0]["status"] == "failed"
    assert ex.watermarks.get("Patients") is None
