"""Failure alerting over the metadata plane — the reference's #1 known
gap ("Error Notifications - No alerting on job failures",
docs/00_Master_Handoff_Document.md:289, listed again as future work at
:595). Rules evaluate the SAME driver-side stores the dashboard reads
(the JSONL run log, the landed report tables), so alerting adds no
Spark jobs and no data-plane load:

- ``consecutive_failures``: a job's latest K completed runs all failed
  (the page-someone signal; K=1 alerts on every failure).
- ``success_rate``: a job's completed-run success rate over its recent
  window fell below a floor (the slow-burn signal a per-run alert
  misses).
- one rule per alerting landed report (reports.py, whose module
  docstring lists them): ``dq_failed`` on the landed dq_report's red
  checks, and ``hot_key_drift`` / ``quality_score_drift`` /
  ``perplexity_drift`` / ``lang_mix_drift`` on any row of their drift
  reports (the nightly chain publishes only entries past their cutoffs).
- ``schema_drift``: a job's latest SUCCESSFUL run recorded unknown
  payload keys (the executor's opt-in post-load contract check found
  fields ``from_json`` is silently dropping — an upstream API change).
  Successful, not merely completed: drift is only recorded on success,
  so a later failed run must not mask an unresolved drift.

Delivery is a pluggable transport: any callable ``(payload_dict) ->
None``. :func:`webhook_transport` POSTs JSON via stdlib urllib (covers
Slack-style incoming webhooks and generic HTTP receivers); tests and
dry-runs pass a list-appending callable. Evaluation is pure — it never
raises on a missing, racing or foreign store, because an alerting path
that can itself crash the control plane is worse than no alerting (only
a threshold that would switch a rule off is rejected).
"""

from __future__ import annotations

import json
from typing import Callable

from trialsync_etl_spark.reports import (
    REPORTS,
    ReportRepublishing,
    ReportSchemaError,
    read_report,
)
from trialsync_etl_spark.runs import RunLog


def evaluate_run_alerts(
    run_log: RunLog,
    consecutive_failures: int = 1,
    min_success_rate: float | None = 0.5,
    window: int = 20,
) -> list[dict]:
    """Alert dicts from the run log alone (no Spark).

    ``consecutive_failures``: fire when a job's latest N completed runs
    are ALL failed (N = the threshold; in-flight/suspended runs are
    ignored). ``min_success_rate``: fire when a job's success rate over
    its last ``window`` completed runs is below the floor (None
    disables). A job can fire both — they answer different questions.
    """
    alerts: list[dict] = []
    by_job: dict[str, list[dict]] = {}
    for r in run_log.all_records():
        if r["status"] in ("success", "failed"):
            by_job.setdefault(r["job_name"], []).append(r)
    for job, recs in sorted(by_job.items()):
        recs.sort(key=lambda r: r["started_at"], reverse=True)
        recent = recs[:window]
        latest = recs[: max(1, consecutive_failures)]
        if len(latest) >= consecutive_failures and all(
            r["status"] == "failed" for r in latest
        ):
            alerts.append(
                {
                    "rule": "consecutive_failures",
                    "job": job,
                    "n": len(latest),
                    "last_error": (latest[0].get("error") or "")[:200],
                }
            )
        if min_success_rate is not None and recent:
            rate = sum(1 for r in recent if r["status"] == "success") / len(recent)
            if rate < min_success_rate:
                alerts.append(
                    {
                        "rule": "success_rate",
                        "job": job,
                        "rate": round(rate, 3),
                        "floor": min_success_rate,
                        "window": len(recent),
                    }
                )
        # drift: the latest SUCCESSFUL run carries the verdict — drift is
        # only recorded on success, so a failure landing after a drifted
        # success must not silence the still-unresolved drift; older
        # successes either already alerted or were resolved by a re-pin
        latest_success = next(
            (r for r in recs if r["status"] == "success"), None
        )
        drift = ((latest_success or {}).get("run_context") or {}).get("drift") or {}
        unknown = drift.get("unknown_keys") or {}
        if unknown:
            alerts.append(
                {
                    "rule": "schema_drift",
                    "job": job,
                    "entity": drift.get("entity"),
                    "unknown_keys": dict(sorted(unknown.items())[:10]),
                }
            )
    return alerts


def evaluate_report_alerts(warehouse_dir: str | None) -> list[dict]:
    """One alert per alerting landed report (reports.py) with rows that
    alert, in spec order. Spark-free pyarrow reads; an absent report, a
    read racing a publish trim, or a report landed by a different chain
    version (missing columns) is quiet — run the producing chain to get
    coverage, but never crash the alert path over maintenance races.
    Drift shares are CM overestimates: verify a flagged hot key exactly
    before acting on it."""
    if not warehouse_dir:
        return []
    alerts = []
    for report in REPORTS:
        if report.rule is None:
            continue
        try:
            rows = read_report(warehouse_dir, report)
        except (FileNotFoundError, ReportRepublishing, ReportSchemaError):
            continue
        alert = report.alert(rows)
        if alert is not None:
            alerts.append(alert)
    return alerts


def check_thresholds(
    consecutive_failures: int, min_success_rate: float | None, window: int
) -> None:
    """Raise ValueError on a threshold that would silently turn a rule
    off (``consecutive_failures`` or ``window`` below 1,
    ``min_success_rate`` outside [0, 1] or NaN) — a monitor with a typo
    must not read "all quiet" forever."""
    if consecutive_failures < 1 or window < 1:
        raise ValueError(
            f"consecutive ({consecutive_failures}) and window ({window}) "
            "must be >= 1"
        )
    if min_success_rate is not None and not 0.0 <= min_success_rate <= 1.0:
        raise ValueError(
            f"min_rate ({min_success_rate}) must be none or within [0, 1]"
        )


def evaluate_alerts(
    run_log: RunLog,
    warehouse_dir: str | None = None,
    consecutive_failures: int = 1,
    min_success_rate: float | None = 0.5,
    window: int = 20,
) -> list[dict]:
    """The full rule set; empty list = all quiet. Thresholds are checked
    first (:func:`check_thresholds`)."""
    check_thresholds(consecutive_failures, min_success_rate, window)
    return evaluate_run_alerts(
        run_log, consecutive_failures, min_success_rate, window
    ) + evaluate_report_alerts(warehouse_dir)


def webhook_transport(url: str, timeout: float = 10.0) -> Callable[[dict], None]:
    """POST-JSON transport for :func:`notify` — the Slack-incoming-webhook
    / generic-HTTP-receiver shape, stdlib only."""
    import urllib.request

    def send(payload: dict) -> None:
        req = urllib.request.Request(
            url,
            data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        urllib.request.urlopen(req, timeout=timeout).read()

    return send


def notify(
    alerts: list[dict], transport: Callable[[dict], None]
) -> dict:
    """Deliver one consolidated payload (not one call per alert — a
    20-job outage must not turn into 20 webhook posts). No alerts → no
    call. Delivery errors are reported, never raised: the caller decides
    whether an undeliverable alert is itself fatal."""
    if not alerts:
        return {"sent": False, "n_alerts": 0}
    payload = {"n_alerts": len(alerts), "alerts": alerts}
    try:
        transport(payload)
    except Exception as exc:  # noqa: BLE001
        return {"sent": False, "n_alerts": len(alerts),
                "error": f"{type(exc).__name__}: {exc}"}
    return {"sent": True, "n_alerts": len(alerts)}
