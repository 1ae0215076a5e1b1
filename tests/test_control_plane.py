"""Control-plane tests: job catalog, cron scheduler, metrics exposition,
preflight guardrails, CLI commands."""

from __future__ import annotations

import io
import json
from datetime import datetime

import pytest

from trialsync_etl_spark import cli
from trialsync_etl_spark.jobs import (
    DEMO_CATALOG,
    JobSpec,
    load_catalog,
    load_full_catalog,
    save_catalog,
    stats,
    to_graph,
)
from trialsync_etl_spark.metrics import Histogram, MetricsRegistry
from trialsync_etl_spark.preflight import PreflightConfig, PreflightError, preflight
from trialsync_etl_spark.scheduler import CronError, CronExpr, CronScheduler


# ---------------------------------------------------------------------------
# job catalog
# ---------------------------------------------------------------------------
def test_catalog_roundtrip(tmp_path):
    path = str(tmp_path / "catalog.json")
    save_catalog(list(DEMO_CATALOG), path)
    loaded = load_catalog(path)
    assert loaded == list(DEMO_CATALOG)
    assert stats(loaded)["parameterized"] == 2


def test_driver_query_budget_not_exceeded():
    """The external driver checks at most 50 queries; driver_queries()
    raises past the budget but is only called at grading time — this test
    moves that failure into CI (a new @query() without driver=False would
    otherwise break every driver row at once)."""
    from trialsync_etl_spark.plans import registry

    registry.load_all()
    dq = registry.driver_queries()  # raises if budget exceeded
    assert len(dq) <= registry.DRIVER_QUERY_BUDGET
    assert len(dq) == 50  # the set is curated to exactly full


def test_full_catalog_rollup():
    """The committed 90-job production catalog reproduces the reference's
    documented rollup (etl_jobs_export.txt:1-90; docs/02:38-50):
    90 total, 76 active, 40 parameterized."""
    cat = load_full_catalog()
    s = stats(cat)
    assert s["total"] == 90
    assert s["active"] == 76
    assert s["parameterized"] == 40
    # parameterization fans out over exactly the 4 documented parent tables
    parents = {j.parent_table for j in cat if j.parameterized_by}
    assert parents == {
        "dim_studies_staging",
        "dim_patients_staging",
        "dim_patient_visits_staging",
        "dim_subjects_staging",
    }
    by_param = {}
    for j in cat:
        if j.parameterized_by:
            by_param[j.parameterized_by] = by_param.get(j.parameterized_by, 0) + 1
    assert by_param == {
        "studyId": 25, "patientId": 11, "patientVisitId": 3, "subjectId": 1
    }


def test_full_catalog_dag_phases():
    """The orchestrator builds the full active DAG with the documented
    phase structure (docs/05:21-80): core dims first, then study/patient
    fan-out, then the subject-dependent tail."""
    cat = load_full_catalog()
    g = to_graph(cat)
    assert len(g.nodes) == 76  # disabled jobs excluded
    levels = g.levels()
    assert [len(lv) for lv in levels] == [44, 31, 1]
    # phase 1 contains the documented core dims (docs/05:26-33)
    assert {1, 2, 3, 8, 9, 25, 26} <= set(levels[0])
    # Subjects (10) waits for Studies (2); its dependent (160) is last
    assert 10 in levels[1] and 160 in levels[2]
    # timeouts carry the documented per-job recommendations
    by_id = {j.job_id: j for j in cat}
    assert by_id[3].timeout_s == 3600
    assert by_id[9].timeout_s == 7200
    assert by_id[25].timeout_s == 1800
    assert by_id[1].timeout_s == 300


def test_full_catalog_execute_dag_failure_propagation():
    """The whole 76-job active DAG runs under bounded parallelism; a failed
    Studies root skips exactly its 25 studyId dependents plus the
    subjectId job behind Subjects, while every other job proceeds."""
    from trialsync_etl_spark.orchestrator import execute_dag

    cat = load_full_catalog()
    g = to_graph(cat)
    by_id = {j.job_id: j for j in cat}

    def run_job(node):
        if node.job_id == 2:  # Studies
            raise RuntimeError("studies endpoint down")
        return node.job_id

    results = execute_dag(g, run_job, max_parallel=8)
    statuses = {jid: r.status for jid, r in results.items()}
    assert statuses[2] == "failed"
    study_children = {
        j.job_id for j in cat
        if j.active and j.parent_table == "dim_studies_staging"
    }
    assert len(study_children) == 17  # the active subset of 25 studyId jobs
    assert all(statuses[jid] == "skipped" for jid in study_children)
    assert statuses[160] == "skipped"  # Subject Patient Visits behind Subjects
    others = set(statuses) - study_children - {2, 160}
    assert all(statuses[jid] == "success" for jid in others)
    assert len(statuses) == 76
    # phase groups carried through from the docs
    assert by_id[10].job_group == "study" and by_id[160].job_group == "subject"


def test_placeholder_extraction():
    j = [j for j in DEMO_CATALOG if j.job_id == 9][0]
    assert j.placeholder() == "studyId"
    assert DEMO_CATALOG[0].placeholder() is None


def test_catalog_graph_levels():
    g = to_graph(DEMO_CATALOG)
    levels = g.levels()
    flat = [j for lvl in levels for j in lvl]
    assert set(flat) == {j.job_id for j in DEMO_CATALOG}
    # children run strictly after parents
    assert flat.index(9) > flat.index(2)
    assert flat.index(147) > flat.index(3)


# ---------------------------------------------------------------------------
# cron scheduler
# ---------------------------------------------------------------------------
def test_cron_parse_and_match():
    c = CronExpr.parse("*/15 2,3 * * 1-5")
    assert c.matches(datetime(2026, 8, 12, 2, 30))  # Wednesday
    assert not c.matches(datetime(2026, 8, 12, 2, 31))
    assert not c.matches(datetime(2026, 8, 15, 2, 30))  # Saturday
    with pytest.raises(CronError):
        CronExpr.parse("61 * * * *")
    with pytest.raises(CronError):
        CronExpr.parse("* * * *")


def test_cron_next_fire():
    daily_2am = CronExpr.parse("0 2 * * *")
    nxt = daily_2am.next_fire(datetime(2026, 8, 12, 2, 0))
    assert nxt == datetime(2026, 8, 13, 2, 0)
    monthly = CronExpr.parse("30 4 1 * *")
    assert monthly.next_fire(datetime(2026, 8, 12)) == datetime(2026, 9, 1, 4, 30)
    sunday = CronExpr.parse("0 0 * * 7")  # 7 == Sunday alias
    assert sunday.next_fire(datetime(2026, 8, 12)).weekday() == 6


def test_scheduler_max_instances():
    sched = CronScheduler()
    calls = []
    in_flight = {"n": 0}

    def slow():
        calls.append(1)

    job = sched.add_job("dims", "0 * * * *", slow)
    now = datetime(2026, 8, 12, 5, 0)
    assert sched.tick(now) == ["dims"]
    assert job.fired == 1
    # simulate a stuck instance: running stays >= max_instances
    job.running = 1
    assert sched.tick(datetime(2026, 8, 12, 6, 0)) == []
    assert job.skipped_ticks == 1


def test_scheduled_mv_refresh_integration(spark, tmp_path):
    """C4 + Gold: the daily-4AM MV refresh wired through the cron scheduler
    (the reference's REFRESH MATERIALIZED VIEW schedule, docs/03:757)."""
    from tests.conftest import SF_DIR
    from trialsync_etl_spark import transforms
    from trialsync_etl_spark.scheduler import CronScheduler
    from trialsync_etl_spark.transforms import WarehouseContext, run_chain

    transforms.load_all()
    ctx = WarehouseContext(sf_dir=SF_DIR, warehouse_dir=str(tmp_path / "wh"))
    outcomes = []

    sched = CronScheduler()
    sched.add_job(
        "refresh_gold", "0 4 * * *",
        lambda: outcomes.append(run_chain(spark, "refresh_gold_views", ctx)),
    )
    assert sched.tick(datetime(2026, 8, 13, 3, 59)) == []
    assert sched.tick(datetime(2026, 8, 13, 4, 0)) == ["refresh_gold"]
    assert len(outcomes[0]) >= 3  # the full gold chain ran
    assert all(r.status == "success" for r in outcomes[0])
    assert spark.read.parquet(ctx.table_path("mv_enrollment_summary")).count() > 0


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------
def test_metrics_exposition():
    reg = MetricsRegistry()
    reg.record_job("Patients", "success", 12.5, records=1000)
    reg.record_job("Patients", "failed", 2.0)
    reg.active_jobs.set(3)
    text = reg.exposition()
    assert 'etl_job_runs_total{job="Patients",status="success"} 1.0' in text
    assert 'etl_records_loaded_total{job="Patients"} 1000.0' in text
    assert "# TYPE etl_job_duration_seconds histogram" in text
    assert "etl_active_jobs 3.0" in text


def test_histogram_buckets_cumulative():
    h = Histogram("lat", "latency", buckets=(0.1, 1.0, 10.0))
    for v in (0.05, 0.5, 0.5, 5.0, 50.0):
        h.observe(v)
    text = "\n".join(h.expose())
    assert 'le="0.1"} 1' in text
    assert 'le="1.0"} 3' in text
    assert 'le="10.0"} 4' in text
    assert 'le="+Inf"} 5' in text
    assert "lat_count 5" in text


# ---------------------------------------------------------------------------
# preflight
# ---------------------------------------------------------------------------
def test_preflight_blocks_protected():
    cfg = PreflightConfig()
    with pytest.raises(PreflightError):
        preflight(cfg, ["prod://warehouse/dim_patients"])
    ok = preflight(cfg, ["/tmp/warehouse/dim_patients"])
    assert ok["dry_run"] is False


def test_preflight_allow_and_dry_run():
    cfg = PreflightConfig(allow_protected=True, env={"ETL_DRY_RUN": "1"})
    plan = preflight(cfg, ["prod://warehouse/x"])
    assert plan["dry_run"] is True


# ---------------------------------------------------------------------------
# CLI
# ---------------------------------------------------------------------------
def test_cli_list_jobs(tmp_path):
    out = io.StringIO()
    rc = cli.main(["--run-log", str(tmp_path / "runs.jsonl"), "list-jobs"], out=out)
    assert rc == 0
    assert "Patients" in out.getvalue()


def test_cli_run_all_and_history(tmp_path):
    run_log = str(tmp_path / "runs.jsonl")
    out = io.StringIO()
    rc = cli.main(["--run-log", run_log, "run", "--max-parallel", "2"], out=out)
    assert rc == 0
    summary = json.loads(out.getvalue().strip().splitlines()[-1])
    assert summary["failed"] == 0 and summary["success"] == len(DEMO_CATALOG)

    out2 = io.StringIO()
    cli.main(["--run-log", run_log, "history", "--limit", "3"], out=out2)
    assert len(out2.getvalue().strip().splitlines()) == 3

    out3 = io.StringIO()
    cli.main(["--run-log", run_log, "status"], out=out3)
    rows = [json.loads(l) for l in out3.getvalue().strip().splitlines()]
    assert all(r["success_pct"] == 100.0 for r in rows)


def test_cli_run_single_job_and_failure_skip(tmp_path):
    run_log = str(tmp_path / "runs.jsonl")
    out = io.StringIO()
    rc = cli.main(["--run-log", run_log, "run", "--job-id", "3"], out=out)
    assert rc == 0

    # a failing runner: dependents of job 2 get skipped
    def failing_runner(spec: JobSpec):
        if spec.job_id == 2:
            raise RuntimeError("boom")
        return {"records": 1}

    args = cli.build_parser().parse_args(["--run-log", run_log, "run"])
    out2 = io.StringIO()
    rc2 = cli.cmd_run(args, out=out2, runner=failing_runner)
    summary = json.loads(out2.getvalue().strip().splitlines()[-1])
    assert rc2 == 1
    assert summary["failed"] == 1 and summary["skipped"] == 1


def test_schedule_store_roundtrip_and_wire(tmp_path):
    """Persisted transformation schedules (ref dw_transformation_schedules):
    upsert/get survive reload, inactive schedules are not wired, fired runs
    record last_run status back into the store."""
    from trialsync_etl_spark.scheduler import CronError, ScheduleStore

    path = str(tmp_path / "schedules.json")
    store = ScheduleStore(path)
    store.upsert("load_all_new_dimensions", "0 2 * * *",
                 description="nightly dims")
    store.upsert("refresh_gold_views", "0 4 * * *")
    store.upsert("load_all_new_facts", "0 3 * * *")
    store.set_active("load_all_new_facts", False)
    with pytest.raises(CronError):
        store.upsert("bad", "not a cron")

    reloaded = ScheduleStore(path)
    assert [s.procedure_name for s in reloaded.list(active_only=True)] == [
        "load_all_new_dimensions", "refresh_gold_views"]
    assert reloaded.get("load_all_new_dimensions").description == "nightly dims"
    nxt = reloaded.get("refresh_gold_views").next_run_time(
        datetime(2026, 8, 13, 3, 0))
    assert nxt == datetime(2026, 8, 13, 4, 0)

    ran, sched = [], CronScheduler()
    def execute(name):
        ran.append(name)
        if name == "refresh_gold_views":
            raise RuntimeError("boom")
    assert reloaded.wire(sched, execute) == [
        "load_all_new_dimensions", "refresh_gold_views"]
    assert "load_all_new_facts" not in sched.jobs

    sched.tick(datetime(2026, 8, 13, 2, 0))
    sched.tick(datetime(2026, 8, 13, 4, 0))
    assert ran == ["load_all_new_dimensions", "refresh_gold_views"]
    assert reloaded.get("load_all_new_dimensions").last_run_status == "success"
    assert reloaded.get("refresh_gold_views").last_run_status == "failed"
    # outcomes persisted, not just in-memory
    assert ScheduleStore(path).get("refresh_gold_views").last_run_status == "failed"


def test_cli_schedules_roundtrip(tmp_path):
    """CLI schedule management: set, list (with next fire), deactivate,
    delete — against the same store the REST plane uses."""
    store_path = str(tmp_path / "schedules.json")

    def run(*argv):
        buf = io.StringIO()
        args = cli.build_parser().parse_args(
            ["--run-log", str(tmp_path / "runs.jsonl"), *argv]
        )
        code = args.fn(args, out=buf)
        return code, buf.getvalue()

    code, _ = run("schedules", "load_all_new_dimensions",
                  "--set", "0 2 * * *", "--schedule-store", store_path)
    assert code == 0
    code, out = run("schedules", "--schedule-store", store_path)
    rows = [json.loads(line) for line in out.splitlines()]
    assert code == 0 and rows[0]["procedure_name"] == "load_all_new_dimensions"
    assert rows[0]["next_run_time"] is not None

    code, _ = run("schedules", "bad", "--set", "nope",
                  "--schedule-store", store_path)
    assert code == 2

    code, out = run("schedules", "load_all_new_dimensions", "--deactivate",
                    "--schedule-store", store_path)
    assert code == 0 and json.loads(out)["is_active"] is False
    code, out = run("schedules", "load_all_new_dimensions", "--delete",
                    "--schedule-store", store_path)
    assert code == 0
    code, out = run("schedules", "--schedule-store", store_path)
    assert out.strip() == ""


def test_schedule_store_survives_concurrent_mutation(tmp_path):
    """Two threads hammering upserts must never corrupt the JSON store
    (unique temp files + a writer lock) and every write must survive."""
    import threading

    from trialsync_etl_spark.scheduler import ScheduleStore

    path = str(tmp_path / "schedules.json")
    store = ScheduleStore(path)

    def writer(prefix):
        for i in range(25):
            store.upsert(f"{prefix}_{i}", "0 2 * * *")

    threads = [threading.Thread(target=writer, args=(p,)) for p in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    reloaded = ScheduleStore(path)   # JSONDecodeError here = corruption
    assert len(reloaded.list()) == 50


def test_cli_compact_and_export(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from trialsync_etl_spark.storage import swap_publish

    table = str(tmp_path / "docs")
    swap_publish(
        spark.range(0, 200)
        .select(F.col("id").alias("doc_id"), F.concat(F.lit("t"), "id").alias("text"))
        .repartition(16),
        table,
    )

    out = io.StringIO()
    rc = cli.main(
        ["--run-log", str(tmp_path / "runs.jsonl"), "compact", table, "--target-mb", "512"],
        out=out,
    )
    assert rc == 0
    stats = json.loads(out.getvalue().strip())
    assert stats["files_before"] == 16 and stats["files_after"] < 16

    out2 = io.StringIO()
    exp = str(tmp_path / "exp")
    rc = cli.main(
        ["--run-log", str(tmp_path / "runs.jsonl"), "export", table, exp,
         "--n-shards", "4"],
        out=out2,
    )
    assert rc == 0
    shards = json.loads(out2.getvalue().strip())["shards"]
    assert sum(s["n_docs"] for s in shards) == 200
    assert os.path.exists(os.path.join(exp, "_manifest.json"))

    # `versions` is Spark-free: lists the retained window after the
    # compaction republish (default retention = single live version)
    out3 = io.StringIO()
    rc = cli.main(
        ["--run-log", str(tmp_path / "runs.jsonl"), "versions", table], out=out3
    )
    assert rc == 0
    versions = json.loads(out3.getvalue().strip())
    assert len(versions) == 1 and versions[0]["is_current"]


def test_cli_drift_reports_and_exits_nonzero_on_unknown(spark, tmp_path):
    import io as _io

    from pyspark.sql import functions as F

    table = str(tmp_path / "bronze")
    spark.createDataFrame(
        [('{"status": "s", "isCurrentStatus": true, "eventDate": "d", '
          '"comment": "c", "study": {}, "site": {}, "subject": {}, '
          '"surprise": 1}',)],
        "data string",
    ).write.parquet(table)

    out = _io.StringIO()
    rc = cli.main(
        ["--run-log", str(tmp_path / "runs.jsonl"),
         "drift", table, "SubjectStatus"],
        out=out,
    )
    assert rc == 1  # unknown key → red exit for CI
    body = json.loads(out.getvalue().strip())
    assert body["findings"] == [
        {"key": "surprise", "status": "unknown", "n_rows": 1}
    ]


@pytest.mark.slow
def test_cli_release_end_to_end(spark, tmp_path):
    """`release` produces the full artifact set in one command: funnel
    counts, verified JSONL shards + manifest, per-source data card —
    and the shards round-trip to exactly the curated corpus."""
    import io as _io
    import os

    from tests.conftest import SF_DIR

    out_dir = str(tmp_path / "rel")
    out = _io.StringIO()
    rc = cli.main(
        ["--run-log", str(tmp_path / "runs.jsonl"),
         "release", os.path.join(SF_DIR, "documents.parquet"), out_dir,
         "--n-shards", "4", "--benchmark-fraction", "0.05",
         "--embeddings", os.path.join(SF_DIR, "embeddings.parquet")],
        out=out,
    )
    assert rc == 0
    body = json.loads(out.getvalue().strip())
    assert body["verified"] is True
    assert body["n_shards"] == 4 and body["card_sources"] > 0
    assert body["funnel"]["cleaned"] >= body["n_docs_exported"] > 0
    assert "semantic_deduped" in body["funnel"]  # --embeddings stage ran

    assert os.path.exists(os.path.join(out_dir, "shards", "_manifest.json"))
    assert os.path.exists(os.path.join(out_dir, "card.json"))
    assert os.path.exists(os.path.join(out_dir, "funnel.json"))
    back = spark.read.json(os.path.join(out_dir, "shards", "shard=*", "*.txt"))
    assert back.count() == body["n_docs_exported"]
    assert {"doc_id", "text"} <= set(back.columns)


def test_cli_release_html_extract_and_script_aware(spark, tmp_path):
    """`release --html-extract --script-aware` runs the r14 stages: an
    HTML corpus extracts through the stage-zero pipeline (chrome and
    link farm gone), and a planted CJK doc survives the word-based
    rails it would otherwise fail."""
    import io as _io
    import os

    # two genuinely DISTINCT prose docs (near-identical bodies would be
    # correctly collapsed by the funnel's MinHash stage) + a CJK doc
    prose1 = ("a perfectly ordinary paragraph with plenty of distinct "
              "prose words to clear every floor comfortably")
    prose2 = ("the second document talks about completely different "
              "topics like rivers mountains and weather patterns today")
    zh = "市立图书馆每天开放到晚上八点钟。" * 8
    page = (
        "<html><head><script>var x=1;</script></head><body>"
        "<nav><a href='/'>Home</a> <a href='/a'>About</a></nav>"
        "<p>{}</p>"
        "<div><a href='/1'>rel one</a> <a href='/2'>rel two</a> "
        "<a href='/3'>rel three</a></div>"
        "<footer>c 2024</footer></body></html>"
    )
    docs = spark.createDataFrame(
        [(1, page.format(prose1)),
         (2, page.format(prose2)),
         (3, page.format(zh))],
        "doc_id long, html string",
    )
    inp = str(tmp_path / "htmldocs.parquet")
    docs.write.parquet(inp)
    out_dir = str(tmp_path / "rel_html")
    out = _io.StringIO()
    rc = cli.main(
        ["--run-log", str(tmp_path / "runs.jsonl"),
         "release", inp, out_dir, "--n-shards", "1",
         "--html-extract", "--script-aware"],
        out=out,
    )
    assert rc == 0
    body = json.loads(out.getvalue().strip())
    assert body["funnel"]["html_extracted"] == 3
    assert body["n_docs_exported"] == 3  # the CJK doc survived
    back = spark.read.json(os.path.join(out_dir, "shards", "shard=*", "*.txt"))
    texts = {r.doc_id: r.text for r in back.collect()}
    assert texts[1].startswith(prose1)
    assert "Home" not in texts[1] and "rel one" not in texts[1]
    assert "图书馆" in texts[3]


def test_cli_explain_prints_plan_and_summary(spark, tmp_path):
    import io as _io

    out = _io.StringIO()
    rc = cli.main(
        ["--run-log", str(tmp_path / "runs.jsonl"),
         "explain", "a1_pricing_summary"],
        out=out,
    )
    assert rc == 0
    text = out.getvalue()
    assert "== Physical Plan ==" in text
    summary = json.loads(text.strip().rsplit("\n", 1)[-1])
    assert summary["query"] == "a1_pricing_summary"
    # same counter names as scripts/dump_plans.py (shared plans.explain
    # helpers — the CLI and PLANS.md can't diverge)
    assert summary["scans"] >= 1 and summary["python_stages"] == 0

    out2 = _io.StringIO()
    rc2 = cli.main(
        ["--run-log", str(tmp_path / "runs.jsonl"), "explain", "a1_pricing"],
        out=out2,
    )
    assert rc2 == 2 and "did you mean" in out2.getvalue()


@pytest.mark.slow
def test_cli_release_rehearsal_cold_warehouse_all_green(spark, tmp_path):
    """Release REHEARSAL: one command curates (incl. the SemDeDup stage),
    exports + verifies shards, writes the data card, builds the warehouse
    chains from COLD (dims → facts → verify, landing dq_report), and
    evaluates the alert rules — exit 0 only when every artifact is green.
    ``--parallel 4`` runs the load chains on a 4-wide run_chain pool —
    the rehearsal exercises the SAME parallel runner production uses, and
    the sequential verify chain that follows reads every built table, so
    a thread-unsafe transform would turn the rehearsal red here."""
    import io as _io
    import os

    from tests.conftest import SF_DIR

    out_dir = str(tmp_path / "rel")
    wh = str(tmp_path / "wh")
    out = _io.StringIO()
    rc = cli.main(
        ["--run-log", str(tmp_path / "runs.jsonl"),
         "release", os.path.join(SF_DIR, "documents.parquet"), out_dir,
         "--n-shards", "4", "--benchmark-fraction", "0.05",
         "--embeddings", os.path.join(SF_DIR, "embeddings.parquet"),
         "--warehouse", wh, "--sf-dir", SF_DIR, "--parallel", "4"],
        out=out,
    )
    assert rc == 0
    body = json.loads(out.getvalue().strip())
    assert body["warehouse"]["parallel"] == 4
    # corpus artifacts
    assert body["verified"] is True
    assert "semantic_deduped" in body["funnel"]
    assert os.path.exists(os.path.join(out_dir, "shards", "_manifest.json"))
    assert os.path.exists(os.path.join(out_dir, "card.json"))
    # warehouse rehearsal: all transforms green, dq_report landed green,
    # alerts quiet
    w = body["warehouse"]
    assert w["failed_transforms"] == 0 and w["transforms"] > 15
    assert w["dq_checks"] > 20 and w["dq_failed"] == 0
    assert w["alerts_quiet"] is True
    assert os.path.exists(os.path.join(wh, "dq_report"))

    # usage error path: --warehouse without --sf-dir is exit 2, no Spark
    out2 = _io.StringIO()
    rc2 = cli.main(
        ["--run-log", str(tmp_path / "runs.jsonl"),
         "release", os.path.join(SF_DIR, "documents.parquet"),
         str(tmp_path / "rel2"), "--warehouse", wh],
        out=out2,
    )
    assert rc2 == 2 and "--sf-dir" in out2.getvalue()


@pytest.mark.slow
def test_cli_release_rehearsal_maintain_and_drift_green(spark, tmp_path):
    """Rehearsal with the full operations model: warehouse build + verify,
    then the nightly maintenance chain + re-verify (--maintain), plus a
    clean Bronze drift gate (--drift-check) — all green, exit 0."""
    import io as _io
    import os

    from tests.conftest import SF_DIR

    bronze = str(tmp_path / "bronze")
    spark.createDataFrame(
        [('{"status": "s", "isCurrentStatus": true, "eventDate": "d", '
          '"comment": "c", "study": {}, "site": {}, "subject": {}}',)],
        "data string",
    ).write.parquet(bronze)

    wh = str(tmp_path / "wh")
    out = _io.StringIO()
    rc = cli.main(
        ["--run-log", str(tmp_path / "runs.jsonl"),
         "release", os.path.join(SF_DIR, "documents.parquet"),
         str(tmp_path / "rel"), "--n-shards", "2",
         "--warehouse", wh, "--sf-dir", SF_DIR,
         "--maintain", "--drift-check", f"{bronze}=SubjectStatus"],
        out=out,
    )
    body = json.loads(out.getvalue().strip())
    assert rc == 0, body
    m = body["maintenance"]
    assert m["failed_transforms"] == 0 and m["post_verify_failed"] == 0
    assert m["post_dq_failed"] == 0 and m["transforms"] == 12
    assert body["drift"] == {"SubjectStatus": []}
    assert body["warehouse"]["dq_report_missing"] is False


@pytest.mark.slow
def test_cli_release_rehearsal_drifted_bronze_is_red(spark, tmp_path):
    """A Bronze payload key the pinned entity schema doesn't know turns
    the whole release red (exit 1) — data that would silently vanish in
    the load must block the ship decision."""
    import io as _io
    import os

    from tests.conftest import SF_DIR

    bronze = str(tmp_path / "bronze")
    spark.createDataFrame(
        [('{"status": "s", "isCurrentStatus": true, "eventDate": "d", '
          '"comment": "c", "study": {}, "site": {}, "subject": {}, '
          '"surprise": 1}',)],
        "data string",
    ).write.parquet(bronze)

    out = _io.StringIO()
    rc = cli.main(
        ["--run-log", str(tmp_path / "runs.jsonl"),
         "release", os.path.join(SF_DIR, "documents.parquet"),
         str(tmp_path / "rel"), "--n-shards", "2",
         "--drift-check", f"{bronze}=SubjectStatus"],
        out=out,
    )
    assert rc == 1
    body = json.loads(out.getvalue().strip())
    assert body["drift"] == {"SubjectStatus": ["surprise"]}
    assert body["verified"] is True  # the corpus itself was fine

    # malformed spec is a usage error before any Spark work
    out2 = _io.StringIO()
    rc2 = cli.main(
        ["--run-log", str(tmp_path / "runs.jsonl"),
         "release", os.path.join(SF_DIR, "documents.parquet"),
         str(tmp_path / "rel2"), "--drift-check", "no-entity-here"],
        out=out2,
    )
    assert rc2 == 2 and "PATH=ENTITY" in out2.getvalue()


def test_cli_release_rehearsal_emits_json_when_transforms_fail(spark, tmp_path):
    """A broken warehouse build (missing source tables) must still emit
    the JSON verdict with exit 1 — never a traceback: the rehearsal's
    dq_report read is guarded against the report never landing."""
    import io as _io
    import os

    from tests.conftest import SF_DIR

    empty_sf = str(tmp_path / "empty_sf")
    os.makedirs(empty_sf)
    out = _io.StringIO()
    rc = cli.main(
        ["--run-log", str(tmp_path / "runs.jsonl"),
         "release", os.path.join(SF_DIR, "documents.parquet"),
         str(tmp_path / "rel"), "--n-shards", "2",
         "--warehouse", str(tmp_path / "wh"), "--sf-dir", empty_sf],
        out=out,
    )
    assert rc == 1
    body = json.loads(out.getvalue().strip())  # JSON, not a traceback
    assert body["warehouse"]["failed_transforms"] > 0

    # --maintain without --warehouse is a usage error, like --warehouse
    # without --sf-dir
    out2 = _io.StringIO()
    rc2 = cli.main(
        ["--run-log", str(tmp_path / "runs.jsonl"),
         "release", os.path.join(SF_DIR, "documents.parquet"),
         str(tmp_path / "rel2"), "--maintain"],
        out=out2,
    )
    assert rc2 == 2 and "--warehouse" in out2.getvalue()


@pytest.mark.slow
def test_cli_ann_build_ingest_query_compact(spark, tmp_path):
    """The `ann` command drives the persisted index end-to-end: build,
    semantic-dup ingest (bootstrap + later batch with history verdicts),
    top-k query, compaction after a replayed ingest."""
    import io as _io
    import os

    from tests.conftest import SF_DIR

    emb_path = os.path.join(SF_DIR, "embeddings.parquet")
    emb = spark.read.parquet(emb_path)
    base = str(tmp_path / "base.parquet")
    newb = str(tmp_path / "new.parquet")
    emb.filter("vec_id >= 20").write.parquet(base)
    emb.filter("vec_id < 20").write.parquet(newb)
    idx = str(tmp_path / "idx")
    runlog = ["--run-log", str(tmp_path / "runs.jsonl")]

    out = _io.StringIO()
    assert cli.main([*runlog, "ann", "build", idx, "--input", base,
                     "--n-lists", "8"], out=out) == 0
    meta = json.loads(out.getvalue().strip())
    assert meta["n_lists"] == 8 and meta["count"] > 0

    out = _io.StringIO()
    assert cli.main([*runlog, "ann", "ingest", idx, "--input", newb,
                     "--batch-id", "run-1", "--threshold", "0.8"],
                    out=out) == 0
    body = json.loads(out.getvalue().strip())
    assert body["batch_id"] == "run-1" and "pairs" in body

    out = _io.StringIO()
    assert cli.main([*runlog, "ann", "query", idx, "--input", newb,
                     "--k", "3", "--n-probe", "8"], out=out) == 0
    rows = json.loads(out.getvalue().strip())
    assert rows and {"query_id", "neighbor_id", "cosine_sim", "rank"} <= set(
        rows[0]
    )

    # replayed ingest converges; compact heals the duplicate append
    out = _io.StringIO()
    assert cli.main([*runlog, "ann", "ingest", idx, "--input", newb,
                     "--batch-id", "run-1", "--threshold", "0.8"],
                    out=out) == 0
    assert json.loads(out.getvalue().strip())["n_dups"] == body["n_dups"]
    out = _io.StringIO()
    assert cli.main([*runlog, "ann", "compact", idx], out=out) == 0
    assert json.loads(out.getvalue().strip())["count"] == emb.count()

    # rebuild: the 8-list model is past balance for 200 vectors
    # (sqrt(200)=14 > 4 only with a forced factor — the CLI uses the
    # operator default, so assert on the honest no-op/rebuild contract)
    out = _io.StringIO()
    assert cli.main([*runlog, "ann", "rebuild", idx], out=out) == 0
    body = json.loads(out.getvalue().strip())
    assert body["count"] == emb.count() and "rebuilt" in body

    # usage errors before Spark: missing --input / --batch-id
    out = _io.StringIO()
    assert cli.main([*runlog, "ann", "append", idx], out=out) == 2
    assert "--input" in out.getvalue() and "--batch-id" in out.getvalue()


def test_cli_transform_max_parallel_rejected_on_unsafe_chain(tmp_path):
    """`transform maintain_warehouse --chain --max-parallel 8` must be
    REFUSED (exit 2, before any Spark work): the maintenance chain's
    steps share fact_orders and the stores, so parallelizing it silently
    races cross-step dependencies — a safety rail, not help text."""
    import io as _io

    for chain in ("maintain_warehouse", "verify_warehouse"):
        out = _io.StringIO()
        rc = cli.main(
            ["--run-log", str(tmp_path / "runs.jsonl"),
             "transform", chain, "--chain", "--max-parallel", "8",
             "--warehouse-dir", str(tmp_path / "wh")],
            out=out,
        )
        assert rc == 2, chain
        assert "not parallel-safe" in out.getvalue()


def test_run_chain_parallel_refuses_unsafe_named_chain(spark, tmp_path):
    """The runner itself enforces the allowlist on an explicit width
    above 1 (callers other than the CLI get the same rail); an explicit
    member LIST still bypasses it — the caller constructing a list owns
    its independence."""
    import pytest as _pytest

    from tests.conftest import SF_DIR
    from trialsync_etl_spark import transforms
    from trialsync_etl_spark.transforms import (
        PARALLEL_SAFE_CHAINS,
        WarehouseContext,
        run_chain,
    )

    transforms.load_all()
    ctx = WarehouseContext(sf_dir=SF_DIR, warehouse_dir=str(tmp_path / "wh"))
    with _pytest.raises(ValueError, match="not parallel-safe"):
        run_chain(spark, "maintain_warehouse", ctx, max_parallel=4)
    # the safe list names real chains only
    assert PARALLEL_SAFE_CHAINS <= set(transforms.CHAINS)
    # explicit lists pass through (build one dim twice-independently)
    res = run_chain(
        spark, ["load_dim_customer", "load_dim_date"], ctx, max_parallel=2
    )
    assert [r.status for r in res] == ["success", "success"]


def test_run_chain_overlaps_parallel_safe_named_chain(spark, tmp_path, monkeypatch):
    """run_chain executes a PARALLEL_SAFE named chain with its members
    overlapped (guide §2.6) while keeping the sequential-chain API
    contract: results in chain order, per-member timing, continue past a
    failure. The first two members rendezvous on a barrier — under the
    old strictly-sequential execution the barrier would time out and both
    would report failed, so this pins the overlap itself."""
    import threading

    from trialsync_etl_spark import transforms
    from trialsync_etl_spark.transforms import WarehouseContext, run_chain

    names = ["t16_ov_a", "t16_ov_b", "t16_ov_boom"]
    barrier = threading.Barrier(2, timeout=30)
    chain = "t16_overlap_chain"
    try:
        @transforms.transform(names[0], chain=chain)
        def _a(s, c):
            barrier.wait()
            return 1

        @transforms.transform(names[1], chain=chain)
        def _b(s, c):
            barrier.wait()
            return 2

        @transforms.transform(names[2], chain=chain)
        def _boom(s, c):
            raise RuntimeError("boom")

        monkeypatch.setattr(
            transforms, "PARALLEL_SAFE_CHAINS",
            transforms.PARALLEL_SAFE_CHAINS | {chain},
        )
        ctx = WarehouseContext(sf_dir="unused", warehouse_dir=str(tmp_path))
        res = run_chain(spark, chain, ctx)
        # chain order preserved regardless of completion order
        assert [r.name for r in res] == names
        # both barrier members met => they ran concurrently
        assert [r.status for r in res] == ["success", "success", "failed"]
        assert res[0].rows == 1 and res[1].rows == 2
        assert "boom" in res[2].error
    finally:
        for n in names:
            transforms.TRANSFORMS.pop(n, None)
        transforms.CHAINS.pop(chain, None)


def test_cli_freq_append_estimate_hot_compact(spark, tmp_path):
    """The freq command family end-to-end: fold two batches into the CM
    cell store, estimate from the store, detect the planted hot key
    exactly, compact, and get usage errors (exit 2) before Spark for
    missing flags."""
    import io as _io

    from pyspark.sql import functions as F

    from trialsync_etl_spark import cli

    table = str(tmp_path / "keys")
    (
        spark.range(0, 500)
        .select(
            F.when(F.col("id") < 200, F.lit("HOT"))
            .otherwise(F.concat(F.lit("k"), F.col("id") % 50))
            .alias("key")
        )
        .write.mode("overwrite")
        .parquet(table)
    )
    run_log = str(tmp_path / "runs.jsonl")
    store = str(tmp_path / "cm")

    out = _io.StringIO()
    rc = cli.main(
        ["--run-log", run_log, "freq", "append", store, "--input", table,
         "--key", "key", "--batch-id", "b1", "--width", "256"],
        out=out,
    )
    assert rc == 0 and json.loads(out.getvalue())["batch_id"] == "b1"

    out = _io.StringIO()
    rc = cli.main(
        ["--run-log", run_log, "freq", "estimate", store, "--input", table,
         "--key", "key", "--width", "256"],
        out=out,
    )
    assert rc == 0
    est = {r["key"]: r["est_count"] for r in json.loads(out.getvalue())}
    assert est["HOT"] >= 200  # overestimate-only

    out = _io.StringIO()
    rc = cli.main(
        ["--run-log", run_log, "freq", "hot", "--input", table,
         "--key", "key", "--phi", "0.2"],
        out=out,
    )
    assert rc == 0
    hot = json.loads(out.getvalue())
    assert [(r["key"], r["n_rows"]) for r in hot] == [("HOT", 200)]

    out = _io.StringIO()
    rc = cli.main(["--run-log", run_log, "freq", "compact", store], out=out)
    assert rc == 0 and json.loads(out.getvalue())["batches_merged"] == 1

    # usage errors exit 2 before Spark spins up
    out = _io.StringIO()
    assert cli.main(
        ["--run-log", run_log, "freq", "append", store], out=out
    ) == 2
    assert "--input" in out.getvalue()
    out = _io.StringIO()
    assert cli.main(
        ["--run-log", run_log, "freq", "estimate", "--input", table,
         "--key", "key"], out=out
    ) == 2
    assert "store" in out.getvalue()
