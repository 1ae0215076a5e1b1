"""Failure/DQ alerting: rule evaluation over the run log and landed
dq_report, consolidated webhook delivery, CLI exit codes, GET /alerts."""

from __future__ import annotations

import io
import json

from trialsync_etl_spark.alerts import (
    evaluate_alerts,
    evaluate_report_alerts,
    evaluate_run_alerts,
    notify,
    webhook_transport,
)
from trialsync_etl_spark.runs import RunLog


def _log_with(tmp_path, outcomes: dict[str, list[str]]) -> RunLog:
    """outcomes: job -> list of statuses, oldest first."""
    log = RunLog(str(tmp_path / "runs.jsonl"))
    t = [100.0]

    def clock():
        t[0] += 1
        return t[0]

    for job, statuses in outcomes.items():
        for s in statuses:
            rec = log.create(job, clock=clock)
            log.update(rec, s, error="boom" if s == "failed" else None,
                       clock=clock)
    return log


def test_consecutive_failures_rule(tmp_path):
    log = _log_with(tmp_path, {
        "healthy": ["success", "success"],
        "flaky": ["failed", "success"],      # latest run succeeded
        "down": ["success", "failed", "failed"],
    })
    fired = evaluate_run_alerts(log, consecutive_failures=2,
                                min_success_rate=None)
    assert [a["job"] for a in fired] == ["down"]
    assert fired[0]["rule"] == "consecutive_failures"
    assert fired[0]["last_error"] == "boom"

    # threshold 1 = alert on every latest-run failure
    fired1 = evaluate_run_alerts(log, consecutive_failures=1,
                                 min_success_rate=None)
    assert {a["job"] for a in fired1} == {"down"}


def test_success_rate_rule(tmp_path):
    log = _log_with(tmp_path, {
        "mostly_ok": ["failed"] + ["success"] * 9,
        "mostly_bad": ["success"] + ["failed"] * 9,
    })
    fired = evaluate_run_alerts(log, consecutive_failures=99,
                                min_success_rate=0.5, window=10)
    assert [a["job"] for a in fired] == ["mostly_bad"]
    assert fired[0]["rule"] == "success_rate" and fired[0]["rate"] == 0.1


def test_dq_alerts_from_landed_report(spark, tmp_path):
    from trialsync_etl_spark.storage import swap_publish

    wh = str(tmp_path / "wh")
    report = spark.createDataFrame(
        [("dim_a", "not_null", "k", 0, True),
         ("fact_b", "referential", "k->id", 7, False)],
        "table string, check string, column string, n_violations bigint, "
        "passed boolean",
    )
    swap_publish(report, f"{wh}/dq_report")
    fired = [a for a in evaluate_report_alerts(wh) if a["rule"] == "dq_failed"]
    assert len(fired) == 1 and fired[0]["rule"] == "dq_failed"
    assert fired[0]["n_failed"] == 1
    assert fired[0]["checks"][0]["table"] == "fact_b"
    # absent warehouse / report → quiet, never a crash
    assert evaluate_report_alerts(None) == []
    assert evaluate_report_alerts(str(tmp_path / "nope")) == []


def test_notify_consolidates_and_reports_delivery_errors(tmp_path):
    sent = []
    assert notify([], sent.append) == {"sent": False, "n_alerts": 0}
    assert sent == []

    alerts = [{"rule": "consecutive_failures", "job": "a", "n": 1},
              {"rule": "dq_failed", "n_failed": 2}]
    r = notify(alerts, sent.append)
    assert r == {"sent": True, "n_alerts": 2}
    assert len(sent) == 1 and sent[0]["n_alerts"] == 2  # ONE payload

    def broken(payload):
        raise OSError("unreachable")

    r2 = notify(alerts, broken)
    assert r2["sent"] is False and "unreachable" in r2["error"]


def test_webhook_transport_posts_json(tmp_path):
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    got = []

    class H(BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers["Content-Length"])
            got.append(json.loads(self.rfile.read(n)))
            self.send_response(200)
            self.send_header("Content-Length", "0")
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/hook"
        r = notify([{"rule": "x"}], webhook_transport(url))
        assert r["sent"] is True
        assert got == [{"n_alerts": 1, "alerts": [{"rule": "x"}]}]
    finally:
        srv.shutdown()


def test_cli_alerts_exit_code_and_payload(tmp_path):
    from trialsync_etl_spark import cli

    log_path = str(tmp_path / "runs.jsonl")
    log = RunLog(log_path)
    rec = log.create("job_x")
    log.update(rec, "failed", error="kaboom")

    out = io.StringIO()
    rc = cli.main(["--run-log", log_path, "alerts"], out=out)
    assert rc == 1
    body = json.loads(out.getvalue())
    assert not body["all_quiet"]
    assert body["alerts"][0]["job"] == "job_x"

    rec2 = log.create("job_x")
    log.update(rec2, "success")
    out2 = io.StringIO()
    # latest run green + 50% rate not below floor → quiet
    rc2 = cli.main(["--run-log", log_path, "alerts", "--min-rate", "0.4"],
                   out=out2)
    assert rc2 == 0 and json.loads(out2.getvalue())["all_quiet"]

    # a threshold that would switch a rule off is a usage error (exit 2),
    # not a forever-quiet monitor
    for bad in (["--min-rate", "nan"], ["--window", "0"]):
        out3 = io.StringIO()
        rc3 = cli.main(["--run-log", log_path, "alerts", *bad], out=out3)
        assert rc3 == 2, bad
        assert "must be" in out3.getvalue()


def test_control_plane_alerts_route(tmp_path):
    from trialsync_etl_spark.api import ControlPlane

    log = RunLog(str(tmp_path / "runs.jsonl"))
    rec = log.create("job_y")
    log.update(rec, "failed", error="nope")
    plane = ControlPlane(run_log=log)

    status, _ctype, payload = plane.handle("GET", "/alerts", b"")
    assert status == 200
    body = json.loads(payload)
    assert body["n_alerts"] >= 1 and not body["all_quiet"]

    # thresholds via query params: demand 3 consecutive failures → quiet
    status2, _c2, payload2 = plane.handle(
        "GET", "/alerts?consecutive=3&min_rate=0.0", b""
    )
    assert json.loads(payload2)["all_quiet"]

    # dashboard renders the alerts section from the same provider
    _s, _c, html = plane.handle("GET", "/dashboard", b"")
    assert "<h2>Alerts</h2>" in html and "ALERTS FIRING" in html
    assert "&amp;#x27;" not in html  # single-escaped detail cells


def test_schema_drift_rule_latest_run_only(tmp_path):
    log = RunLog(str(tmp_path / "runs.jsonl"))
    r1 = log.create("patients")
    log.update(r1, "success", run_context={
        "drift": {"entity": "Patient", "unknown_keys": {"newField": 42}}
    })
    fired = evaluate_run_alerts(log, consecutive_failures=99,
                                min_success_rate=None)
    assert [a["rule"] for a in fired] == ["schema_drift"]
    assert fired[0]["entity"] == "Patient"
    assert fired[0]["unknown_keys"] == {"newField": 42}

    # a later clean run (drift resolved by a re-pin) silences the rule
    r2 = log.create("patients")
    log.update(r2, "success", run_context={
        "drift": {"entity": "Patient", "unknown_keys": {}}
    })
    assert evaluate_run_alerts(log, consecutive_failures=99,
                               min_success_rate=None) == []


def test_dq_alerts_tolerate_foreign_report_schema(spark, tmp_path):
    """A dq_report landed by a different chain version (missing columns)
    degrades to quiet — the alerter itself must never crash."""
    from trialsync_etl_spark.storage import swap_publish

    wh = str(tmp_path / "wh")
    weird = spark.createDataFrame([("x",)], "something string")
    swap_publish(weird, f"{wh}/dq_report")
    assert evaluate_report_alerts(wh) == []


def test_schema_drift_rule_survives_later_failed_run(tmp_path):
    """Drift is only recorded on successful runs, so a failure landing
    AFTER a drifted success must not silence the still-unresolved drift
    (the rule reads the latest SUCCESSFUL run, not the latest completed)."""
    log = RunLog(str(tmp_path / "runs.jsonl"))
    r1 = log.create("patients")
    log.update(r1, "success", run_context={
        "drift": {"entity": "Patient", "unknown_keys": {"newField": 42}}
    })
    r2 = log.create("patients")
    log.update(r2, "failed", error="transport down")

    fired = evaluate_run_alerts(log, consecutive_failures=99,
                                min_success_rate=None)
    assert [a["rule"] for a in fired] == ["schema_drift"]
    assert fired[0]["unknown_keys"] == {"newField": 42}

    # a clean success after the failure resolves it
    r3 = log.create("patients")
    log.update(r3, "success", run_context={
        "drift": {"entity": "Patient", "unknown_keys": {}}
    })
    assert evaluate_run_alerts(log, consecutive_failures=99,
                               min_success_rate=None) == []


def test_alerts_route_validates_params(tmp_path):
    """Bad query params are a 400 usage error (not a 500), and
    min_rate=none disables the success-rate rule via the API."""
    from trialsync_etl_spark.api import ControlPlane

    log = RunLog(str(tmp_path / "runs.jsonl"))
    # 1 failure then 1 success: latest run green, but rate = 0.5
    rec = log.create("job_z")
    log.update(rec, "failed", error="boom")
    rec2 = log.create("job_z")
    log.update(rec2, "success")
    plane = ControlPlane(run_log=log)

    # the last five parse but would silently switch a rule off
    for bad in ("consecutive=abc", "min_rate=x", "window=1.5",
                "min_rate=nan", "min_rate=1.5", "window=0", "window=-2",
                "consecutive=0"):
        status, _c, payload = plane.handle("GET", f"/alerts?{bad}", b"")
        assert status == 400, bad
        body = json.loads(payload)
        assert "usage" in body and "error" in body

    # rate rule would fire at the default 0.5 floor…
    s1, _c1, p1 = plane.handle("GET", "/alerts?consecutive=2&min_rate=0.6", b"")
    assert s1 == 200 and not json.loads(p1)["all_quiet"]
    # …and min_rate=none disables it
    s2, _c2, p2 = plane.handle("GET", "/alerts?consecutive=2&min_rate=none", b"")
    assert s2 == 200 and json.loads(p2)["all_quiet"]


def test_drift_alert_fires_end_to_end_through_webhook(spark, tmp_path):
    """Red-path e2e: a pinned entity's upstream feed grows a column → the
    executor's post-load drift check records it on the run → the
    schema_drift rule fires → the consolidated payload is DELIVERED to a
    live webhook. The full chain the reference never had."""
    import json as _json
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    from trialsync_etl_spark.executor import JobExecutor
    from trialsync_etl_spark.jobs import JobSpec
    from trialsync_etl_spark.sources.odata import ODataSource
    from trialsync_etl_spark.streaming.incremental import (
        CheckpointStore,
        WatermarkStore,
    )

    rows = [
        {"id": i, "status": "Screened", "isCurrentStatus": True,
         "eventDate": "2024-01-01",
         "study": {"id": 1}, "site": {"id": 2}, "subject": {"Id": 3},
         "upstreamSurprise": "v2"}
        for i in range(4)
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
        drift_sample=None,
    )
    spec = JobSpec(127, "SubjectStatuses", "/api/v1/subject-statuses/odata",
                   "dim_subject_statuses_staging")
    assert ex.execute(spec).status == "success"

    got = []

    class H(BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers["Content-Length"])
            got.append(json.loads(self.rfile.read(n)))
            self.send_response(200)
            self.send_header("Content-Length", "0")
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        alerts = evaluate_alerts(run_log, consecutive_failures=99,
                                 min_success_rate=None)
        drift_alerts = [a for a in alerts if a["rule"] == "schema_drift"]
        assert len(drift_alerts) == 1
        assert drift_alerts[0]["entity"] == "SubjectStatus"
        assert "upstreamSurprise" in drift_alerts[0]["unknown_keys"]
        url = f"http://127.0.0.1:{srv.server_address[1]}/hook"
        r = notify(alerts, webhook_transport(url))
        assert r["sent"] is True
        assert got and any(
            a["rule"] == "schema_drift" for a in got[0]["alerts"]
        )
    finally:
        srv.shutdown()
