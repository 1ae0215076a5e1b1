"""REST control plane: route dispatch (in-process) + a live-socket check."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

from trialsync_etl_spark.api import ControlPlane, serve
from trialsync_etl_spark.jobs import DEMO_CATALOG, JobSpec
from trialsync_etl_spark.runs import RunLog


def _plane(tmp_path, runner=None):
    return ControlPlane(
        catalog=DEMO_CATALOG,
        run_log=RunLog(str(tmp_path / "runs.jsonl")),
        runner=runner,
    )


def test_health_and_jobs(tmp_path):
    p = _plane(tmp_path)
    code, _, body = p.handle("GET", "/health")
    assert (code, json.loads(body)["status"]) == (200, "ok")
    code, _, body = p.handle("GET", "/jobs")
    doc = json.loads(body)
    assert code == 200 and doc["stats"]["total"] == len(DEMO_CATALOG)


def test_api_serves_full_production_catalog(tmp_path):
    """The control plane runs the committed 90-job catalog, not just the
    demo: GET /jobs reports the 90/76/40 rollup and run-all drives the
    full 76-node DAG with failure isolation."""
    from trialsync_etl_spark.jobs import load_full_catalog

    p = ControlPlane(
        catalog=load_full_catalog(),
        run_log=RunLog(str(tmp_path / "runs.jsonl")),
        runner=lambda spec: (_ for _ in ()).throw(RuntimeError("down"))
        if spec.job_id == 3 else {"records": 1},
    )
    code, _, body = p.handle("GET", "/jobs")
    doc = json.loads(body)
    assert code == 200
    assert doc["stats"] == {"total": 90, "active": 76,
                            "parameterized": 40, "incremental": 54}

    code, _, body = p.handle("POST", "/jobs/run-all")
    out = json.loads(body)
    assert code == 500  # partial failure surfaces as 500 + per-job results
    statuses = {int(k): v["status"] for k, v in out.items()}
    assert statuses[3] == "failed"
    # Patients' active patientId children skip; everything else succeeds
    n_skipped = sum(1 for v in statuses.values() if v == "skipped")
    assert statuses[147] == "skipped" and n_skipped >= 5
    assert sum(1 for v in statuses.values() if v == "success") == 76 - 1 - n_skipped


def test_run_job_and_history(tmp_path):
    p = _plane(tmp_path, runner=lambda spec: {"records": 7})
    code, _, body = p.handle("POST", "/jobs/3/run")
    out = json.loads(body)
    assert code == 200 and out["status"] == "success" and out["records"] == 7

    code, _, body = p.handle("GET", "/runs?job=Patients&limit=5")
    rows = json.loads(body)
    assert code == 200 and rows[0]["records_loaded"] == 7

    code, _, body = p.handle("GET", "/runs/success-rate")
    assert code == 200 and json.loads(body)[0]["success_pct"] == 100.0


def test_run_job_errors(tmp_path):
    p = _plane(tmp_path)
    assert p.handle("POST", "/jobs/999/run")[0] == 404

    inactive = [JobSpec(5, "Off", "/off", "t", active=False)]
    p2 = ControlPlane(catalog=inactive, run_log=RunLog(str(tmp_path / "r2.jsonl")))
    assert p2.handle("POST", "/jobs/5/run")[0] == 409

    def boom(spec):
        raise RuntimeError("kaput")

    p3 = ControlPlane(catalog=DEMO_CATALOG, run_log=RunLog(str(tmp_path / "r3.jsonl")), runner=boom)
    code, _, body = p3.handle("POST", "/jobs/1/run")
    assert code == 500 and "kaput" in json.loads(body)["error"]


def test_run_all_skips_dependents_on_failure(tmp_path):
    def runner(spec):
        if spec.job_id == 2:
            raise RuntimeError("upstream boom")
        return {"records": 1}

    p = _plane(tmp_path, runner=runner)
    code, _, body = p.handle("POST", "/jobs/run-all")
    results = json.loads(body)
    assert code == 500
    assert results["2"]["status"] == "failed"
    assert results["9"]["status"] == "skipped"  # depends on 2
    assert results["1"]["status"] == "success"


def test_transformations_listing_and_guard(tmp_path):
    p = _plane(tmp_path)
    code, _, body = p.handle("GET", "/transformations")
    doc = json.loads(body)
    assert code == 200 and "load_dim_users" in doc["transforms"]
    assert "load_all_new_dimensions" in doc["chains"]
    # no spark-backed executor attached → 503, not a crash
    assert p.handle("POST", "/transformations/load_dim_users/execute")[0] == 503


def test_metrics_endpoint(tmp_path):
    p = _plane(tmp_path, runner=lambda spec: {"records": 3})
    p.handle("POST", "/jobs/1/run")
    code, ctype, body = p.handle("GET", "/metrics")
    assert code == 200 and ctype.startswith("text/plain")
    assert 'etl_job_runs_total{job="Sites",status="success"} 1.0' in body


def test_live_http_server(tmp_path):
    p = _plane(tmp_path, runner=lambda spec: {"records": 2})
    server = serve(p, port=0)  # ephemeral port
    try:
        port = server.server_address[1]
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/health") as r:
            assert json.loads(r.read())["status"] == "ok"
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/jobs/1/run", method="POST"
        )
        with urllib.request.urlopen(req) as r:
            assert json.loads(r.read())["status"] == "success"
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics") as r:
            assert b"etl_job_runs_total" in r.read()
    finally:
        server.shutdown()


def test_live_server_turns_handler_crash_into_500(tmp_path):
    """An unexpected exception inside a route handler must surface as a
    JSON 5xx, never a dropped connection (which would also take the
    dashboard down with it)."""
    p = _plane(tmp_path, runner=lambda spec: {"records": 2})
    original = p.handle

    def exploding(method, path, body):
        if path == "/boom":
            raise RuntimeError("kaput")
        return original(method, path, body)

    p.handle = exploding
    server = serve(p, port=0)
    try:
        port = server.server_address[1]
        try:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/boom")
            raise AssertionError("expected HTTP 500")
        except urllib.error.HTTPError as e:
            assert e.code == 500
            assert "kaput" in json.loads(e.read())["error"]
        # the server is still alive for the next request
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/health") as r:
            assert json.loads(r.read())["status"] == "ok"
    finally:
        server.shutdown()


def test_dashboard_renders_all_sections(tmp_path):
    """The HTML dashboard (reference web/index.html analogue) renders the
    full production catalog, run history, schedules, transformations, and
    metrics from the same providers the JSON routes use."""
    from trialsync_etl_spark.jobs import load_full_catalog
    from trialsync_etl_spark.scheduler import CronScheduler

    sched = CronScheduler()
    sched.add_job("nightly-run-all", "0 2 * * *", lambda: None)
    p = ControlPlane(
        catalog=load_full_catalog(),
        run_log=RunLog(str(tmp_path / "runs.jsonl")),
        runner=lambda spec: {"records": 7},
        scheduler=sched,
    )
    p.handle("POST", "/jobs/1/run")  # record one run for the history table

    code, ctype, body = p.handle("GET", "/dashboard")
    assert code == 200 and ctype.startswith("text/html")
    for section in ("ETL Jobs", "Execution History", "Job Schedules",
                    "Transformation Procedures", "System Metrics"):
        assert f"<h2>{section}</h2>" in body
    assert body.count("<tr>") > 90          # every catalog job rendered
    assert "nightly-run-all" in body and "0 2 * * *" in body
    assert "success" in body                # the recorded run
    assert "load_dim_" in body              # transformation names


def test_schedules_routes(tmp_path):
    """GET/POST /schedules mirror the reference's schedule management:
    upsert with validation, deactivate without resending the cron, listing
    with computed next_run_time."""
    from trialsync_etl_spark.scheduler import ScheduleStore

    store = ScheduleStore(str(tmp_path / "schedules.json"))
    p = ControlPlane(
        catalog=DEMO_CATALOG,
        run_log=RunLog(str(tmp_path / "runs.jsonl")),
        schedule_store=store,
    )
    code, _, body = p.handle(
        "POST", "/schedules/load_all_new_dimensions",
        json.dumps({"cron": "0 2 * * *", "description": "nightly"}).encode(),
    )
    assert code == 200 and json.loads(body)["is_active"] is True

    code, _, body = p.handle(
        "POST", "/schedules/load_all_new_dimensions",
        json.dumps({"active": False}).encode(),
    )
    assert code == 200 and json.loads(body)["is_active"] is False

    code, _, body = p.handle(
        "POST", "/schedules/bad", json.dumps({"cron": "nope"}).encode()
    )
    assert code == 400

    code, _, body = p.handle("GET", "/schedules")
    rows = json.loads(body)
    assert code == 200 and len(rows) == 1
    assert rows[0]["procedure_name"] == "load_all_new_dimensions"
    assert rows[0]["is_active"] is False and rows[0]["next_run_time"] is None

    # no store attached → 503, mirroring the transform-executor guard
    bare = ControlPlane(catalog=DEMO_CATALOG,
                        run_log=RunLog(str(tmp_path / "runs2.jsonl")))
    code, _, _ = bare.handle("GET", "/schedules")
    assert code == 503


def test_retry_run_resumes_from_checkpoint(tmp_path):
    """POST /runs/{id}/retry: fresh re-run without a checkpoint, resume
    (runner receives resume_run_id) when the failed run checkpointed."""
    seen = []

    class FakeCheckpoints:
        has = set()
        def load(self, run_id):
            return {"skip": 100} if run_id in self.has else None

    def runner(spec, resume_run_id=None):
        seen.append(resume_run_id)
        return {"records": 5}

    cps = FakeCheckpoints()
    p = ControlPlane(
        catalog=DEMO_CATALOG,
        run_log=RunLog(str(tmp_path / "runs.jsonl")),
        runner=runner,
        checkpoint_store=cps,
    )
    code, _, body = p.handle("POST", "/jobs/1/run")
    first = json.loads(body)["run_id"]

    code, _, body = p.handle("POST", f"/runs/{first}/retry")
    out = json.loads(body)
    assert code == 200 and out["resumed"] is False

    cps.has.add(first)
    code, _, body = p.handle("POST", f"/runs/{first}/retry")
    out = json.loads(body)
    assert code == 200 and out["resumed"] is True
    assert seen == [None, None, first]

    code, _, _ = p.handle("POST", "/runs/nope/retry")
    assert code == 404


def test_job_status_history_and_schedule_crud(tmp_path):
    """Per-job status/history and schedule CRUD + scheduler status mirror
    the reference's remaining management routes."""
    from trialsync_etl_spark.scheduler import CronScheduler, ScheduleStore

    sched = CronScheduler()
    sched.add_job("tick", "0 * * * *", lambda: None)
    p = ControlPlane(
        catalog=DEMO_CATALOG,
        run_log=RunLog(str(tmp_path / "runs.jsonl")),
        runner=lambda spec: {"records": 3},
        scheduler=sched,
        schedule_store=ScheduleStore(str(tmp_path / "schedules.json")),
    )
    p.handle("POST", "/jobs/1/run")
    p.handle("POST", "/jobs/1/run")

    code, _, body = p.handle("GET", "/jobs/1/status")
    doc = json.loads(body)
    assert code == 200 and doc["name"] == "Sites"
    assert doc["last_run"]["status"] == "success"
    assert doc["last_run"]["records_loaded"] == 3

    code, _, body = p.handle("GET", "/jobs/1/history")
    assert code == 200 and len(json.loads(body)) == 2
    code, _, _ = p.handle("GET", "/jobs/999/status")
    assert code == 404

    # schedule CRUD through the job route, visible in /schedules
    code, _, body = p.handle(
        "PUT", "/jobs/1/schedule", json.dumps({"cron": "30 1 * * *"}).encode()
    )
    assert code == 200
    code, _, body = p.handle("GET", "/jobs/1/schedule")
    assert code == 200 and json.loads(body)["schedule_cron"] == "30 1 * * *"
    code, _, body = p.handle("GET", "/schedules")
    assert [r["procedure_name"] for r in json.loads(body)] == ["Sites"]
    code, _, _ = p.handle("DELETE", "/jobs/1/schedule")
    assert code == 200
    code, _, _ = p.handle("GET", "/jobs/1/schedule")
    assert code == 404

    code, _, body = p.handle("GET", "/scheduler/status")
    doc = json.loads(body)
    assert doc["running"] is True and doc["jobs"][0]["name"] == "tick"

    # transformation history reads the same run log
    code, _, body = p.handle("GET", "/transformations/Sites/history")
    assert code == 200 and len(json.loads(body)) == 2


def test_retry_guards_inactive_and_reports_resume_honestly(tmp_path):
    """Retry must honor the active-job guard, and must not claim a resume
    when the runner cannot accept resume_run_id."""
    from trialsync_etl_spark.jobs import JobSpec

    class FakeCheckpoints:
        def load(self, run_id):
            return {"skip": 100}   # every run "has" a checkpoint

    catalog = [JobSpec(1, "A", "/api/a", "t_a"),
               JobSpec(2, "B", "/api/b", "t_b", active=False)]
    # runner WITHOUT a resume_run_id parameter
    p = ControlPlane(
        catalog=catalog,
        run_log=RunLog(str(tmp_path / "runs.jsonl")),
        runner=lambda spec: {"records": 1},
        checkpoint_store=FakeCheckpoints(),
    )
    code, _, body = p.handle("POST", "/jobs/1/run")
    rid = json.loads(body)["run_id"]
    code, _, body = p.handle("POST", f"/runs/{rid}/retry")
    assert code == 200 and json.loads(body)["resumed"] is False

    # a run of the now-inactive job cannot be retried
    rec = p.run_log.create("B")
    p.run_log.update(rec, "failed", error="x")
    code, _, body = p.handle("POST", f"/runs/{rec.run_id}/retry")
    assert code == 409 and "inactive" in json.loads(body)["error"]


def test_schedules_listing_survives_never_firing_cron(tmp_path):
    """A parseable cron that never fires (Feb 31) must not take down the
    /schedules listing — it reports next_run_time null."""
    from trialsync_etl_spark.scheduler import ScheduleStore

    store = ScheduleStore(str(tmp_path / "schedules.json"))
    p = ControlPlane(
        catalog=DEMO_CATALOG,
        run_log=RunLog(str(tmp_path / "runs.jsonl")),
        schedule_store=store,
    )
    p.handle("POST", "/schedules/never",
             json.dumps({"cron": "0 0 31 2 *"}).encode())
    p.handle("POST", "/schedules/daily",
             json.dumps({"cron": "0 2 * * *"}).encode())
    code, _, body = p.handle("GET", "/schedules")
    rows = {r["procedure_name"]: r for r in json.loads(body)}
    assert code == 200 and len(rows) == 2
    assert rows["never"]["next_run_time"] is None
    assert rows["daily"]["next_run_time"] is not None


def test_foreign_dq_report_is_a_503_and_the_dashboard_survives(tmp_path):
    """A dq_report landed by a different chain version (only a
    ``something`` column) answers GET /quality and /quality/history with
    a 503 naming the missing columns, and the dashboard renders its
    "No quality report" paragraph instead of dying on the page."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    wh = tmp_path / "wh"
    os.makedirs(wh / "dq_report")
    pq.write_table(pa.table({"something": ["x"]}),
                   str(wh / "dq_report" / "part-0.parquet"))
    p = ControlPlane(run_log=RunLog(str(tmp_path / "runs.jsonl")),
                     warehouse_dir=str(wh))
    for route in ("/quality", "/quality/history"):
        code, _, body = p.handle("GET", route)
        assert code == 503, route
        assert "passed" in json.loads(body)["error"], route
    code, _, html = p.handle("GET", "/dashboard")
    assert code == 200 and "No quality report" in html
