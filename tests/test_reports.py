"""The landed-report contract (reports.py), once per spec: every route's
status ladder and payload, and every alert rule's quiet/fire behaviour,
over tables written directly with pyarrow (Spark-free). The producers'
end-to-end paths stay in test_freq / test_quality_model / test_lm_store /
test_langid / test_quality_suite."""

from __future__ import annotations

import datetime as dt
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from trialsync_etl_spark import storage
from trialsync_etl_spark.alerts import evaluate_report_alerts
from trialsync_etl_spark.api import ControlPlane
from trialsync_etl_spark.reports import REPORTS
from trialsync_etl_spark.runs import RunLog

#: today's 404 strings and 200 payload keys, per route — pinned literally
#: so a spec edit cannot change them unnoticed
EXPECTED = {
    "/quality": (
        "no dq_report table — run the verify_warehouse chain",
        {"passed", "n_checks", "n_failed", "checks"},
    ),
    "/freq/hot": (
        "no hot_keys table — run the refresh_gold_views chain",
        {"n_keys", "keys"},
    ),
    "/freq/drift": (
        "no freq_drift_report table — run the maintain_warehouse chain",
        {"all_quiet", "n_keys", "keys"},
    ),
    "/quality/drift": (
        "no quality_drift_report table — run the maintain_warehouse chain",
        {"all_quiet", "n_sources", "sources"},
    ),
    "/lm/drift": (
        "no perplexity_drift_report table — run the maintain_warehouse "
        "chain with lm_store/lm_model_id options",
        {"all_quiet", "n_sources", "sources"},
    ),
    "/lang/drift": (
        "no lang_drift_report table — run the maintain_warehouse chain "
        "(check_lang_drift)",
        {"all_quiet", "n_sources", "sources"},
    ),
}

_ARROW = {"string": pa.string(), "double": pa.float64(), "long": pa.int64(),
          "bigint": pa.int64(), "boolean": pa.bool_()}

_ids = [r.route for r in REPORTS]


def _value(col: str, typ: str, i: int, alerting: bool):
    if typ == "string":
        return f"{col[-3:]}{(i * 7 + len(col)) % 5}"
    if typ == "double":
        return ((i * 7 + len(col)) % 11) / 10
    if typ == "boolean":
        return False if alerting else i % 2 == 0
    return i


def _write(wh, report, n: int, alerting: bool = False) -> list[dict]:
    """Land ``n`` rows of ``report``'s declared schema plus its timestamp
    as a plain table dir; returns the rows as written."""
    cols = [c.split() for c in report.schema.split(",")]
    ts = dt.datetime(2026, 1, 1)
    rows = [
        {**{c: _value(c, t, i, alerting) for c, t in cols},
         report.timestamp: ts + dt.timedelta(minutes=i)}
        for i in range(n)
    ]
    schema = pa.schema([(c, _ARROW[t]) for c, t in cols]
                       + [(report.timestamp, pa.timestamp("us"))])
    os.makedirs(os.path.join(wh, report.table))
    pq.write_table(pa.Table.from_pylist(rows, schema),
                   os.path.join(wh, report.table, "part-0.parquet"))
    return rows


def _write_foreign(wh, report) -> None:
    os.makedirs(os.path.join(wh, report.table))
    pq.write_table(pa.table({"something": ["x"]}),
                   os.path.join(wh, report.table, "part-0.parquet"))


def _plane(tmp_path, wh=None):
    return ControlPlane(run_log=RunLog(str(tmp_path / "runs.jsonl")),
                        warehouse_dir=wh)


def _get(plane, route):
    status, _, body = plane.handle("GET", route)
    return status, json.loads(body)


@pytest.mark.parametrize("report", REPORTS, ids=_ids)
def test_route_status_ladder(report, tmp_path, monkeypatch):
    wh = str(tmp_path / "wh")
    not_found, _keys = EXPECTED[report.route]
    status, body = _get(_plane(tmp_path), report.route)
    assert status == 503
    assert body["error"] == "no warehouse_dir attached to the control plane"

    status, body = _get(_plane(tmp_path, wh), report.route)
    assert (status, body["error"]) == (404, not_found)

    _write(wh, report, 3)

    def raced(path):
        raise OSError("version dir trimmed mid-read")

    with monkeypatch.context() as m:
        m.setattr(storage, "read_published_arrow", raced)
        status, body = _get(_plane(tmp_path, wh), report.route)
    assert status == 503
    assert body["error"] == f"{report.table} is being republished — retry"


@pytest.mark.parametrize("report", REPORTS, ids=_ids)
def test_route_rejects_foreign_schema(report, tmp_path):
    wh = str(tmp_path / "wh")
    _write_foreign(wh, report)
    status, body = _get(_plane(tmp_path, wh), report.route)
    assert status == 503
    assert "foreign schema" in body["error"]
    for col in report.columns:
        assert col in body["error"]


@pytest.mark.parametrize("report", REPORTS, ids=_ids)
def test_route_serves_sorted_rows_with_string_timestamps(report, tmp_path):
    wh = str(tmp_path / "wh")
    rows = _write(wh, report, 7)
    for r in rows:
        r[report.timestamp] = str(r[report.timestamp])
    expected = sorted(rows, key=report.sort_key)
    assert expected != rows  # the route must actually sort

    status, body = _get(_plane(tmp_path, wh), report.route)
    assert status == 200
    assert set(body) == EXPECTED[report.route][1]
    served = body[report.items_key]
    assert served == expected
    assert all(isinstance(r[report.timestamp], str) for r in served)
    if report.route == "/quality":
        assert body["n_checks"] == 7
        assert body["n_failed"] == sum(1 for r in rows if not r["passed"])
        assert body["passed"] is False
    else:
        assert body[report.count_key] == 7
    if "all_quiet" in body:
        assert body["all_quiet"] is False


ALERTING = [r for r in REPORTS if r.rule is not None]


def test_every_report_but_hot_keys_alerts():
    assert {r.rule for r in ALERTING} == {
        "dq_failed", "hot_key_drift", "quality_score_drift",
        "perplexity_drift", "lang_mix_drift",
    }


@pytest.mark.parametrize("report", ALERTING, ids=[r.rule for r in ALERTING])
def test_alert_quiet_on_absent_racing_or_foreign_report(
    report, tmp_path, monkeypatch
):
    wh = str(tmp_path / "wh")
    assert evaluate_report_alerts(wh) == []
    _write(wh, report, 25, alerting=True)
    assert evaluate_report_alerts(wh) != []

    def raced(path):
        raise OSError("version dir trimmed mid-read")

    with monkeypatch.context() as m:
        m.setattr(storage, "read_published_arrow", raced)
        assert evaluate_report_alerts(wh) == []

    wh2 = str(tmp_path / "wh2")
    _write_foreign(wh2, report)
    assert evaluate_report_alerts(wh2) == []


@pytest.mark.parametrize("report", ALERTING, ids=[r.rule for r in ALERTING])
def test_alert_fires_once_with_capped_items(report, tmp_path):
    wh = str(tmp_path / "wh")
    rows = _write(wh, report, 25, alerting=True)
    fired = evaluate_report_alerts(wh)
    assert len(fired) == 1
    alert = fired[0]
    assert alert["rule"] == report.rule
    assert alert[report.count_key] == 25
    items = alert[report.items_key]
    assert len(items) == 20
    # items follow the route's order, with the declared (renamed) fields
    first = sorted(rows, key=report.sort_key)[0]
    fields = [f.partition("=") for f in report.alert_fields]
    assert items[0] == {out: first[col or out] for out, _, col in fields}


def test_dq_alert_counts_only_failed_checks(tmp_path):
    """dq_report alerts on its red rows only; the drift tables alert on
    every row (they publish only entries past their cutoffs)."""
    dq = next(r for r in REPORTS if r.rule == "dq_failed")
    wh = str(tmp_path / "wh")
    rows = _write(wh, dq, 6)  # passed alternates True/False
    (alert,) = evaluate_report_alerts(wh)
    assert alert["n_failed"] == sum(1 for r in rows if not r["passed"]) == 3
    assert {c["column"] for c in alert["checks"]} <= {r["column"] for r in rows}


def test_freq_alert_renames_user_id_to_key(tmp_path):
    freq = next(r for r in REPORTS if r.rule == "hot_key_drift")
    wh = str(tmp_path / "wh")
    _write(wh, freq, 2)
    (alert,) = evaluate_report_alerts(wh)
    assert set(alert["keys"][0]) == {"key", "share_a", "share_b",
                                     "share_delta"}
