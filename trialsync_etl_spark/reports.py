"""Landed reports — the verdict and drift tables chains publish and the
monitoring plane serves, each declared ONCE.

A :class:`Report` spec carries everything the three consumers used to
restate: the table name and API route, the columns the producer
publishes, the timestamp column rendered as a string, the row order, the
404 hint, the route's payload keys and — for tables that alert — the
alert rule. :func:`read_report` is the one Spark-free reader over them:

- ``api.ControlPlane`` serves every spec at its route (503 without a
  warehouse, 404 with the hint, 503 on a racing or foreign read);
- ``alerts.evaluate_report_alerts`` fires one rule per alerting spec
  (absent, racing or foreign report → quiet);
- ``transforms/maintenance`` builds the drift tables from the specs'
  schemas in one compare-and-publish helper.

The six specs — table at route (payload keys) → alert rule:

- ``dq_report`` at ``/quality`` (passed/n_checks/n_failed/checks) →
  ``dq_failed`` on its red rows;
- ``hot_keys`` at ``/freq/hot`` (n_keys/keys) — no rule;
- ``freq_drift_report`` at ``/freq/drift`` (n_keys/keys) →
  ``hot_key_drift``;
- ``quality_drift_report`` at ``/quality/drift`` (n_sources/sources) →
  ``quality_score_drift``;
- ``perplexity_drift_report`` at ``/lm/drift`` (n_sources/sources) →
  ``perplexity_drift``;
- ``lang_drift_report`` at ``/lang/drift`` (n_sources/sources) →
  ``lang_mix_drift``.

The drift tables publish only entries past their cutoffs, so every row
of them alerts; ``dq_report`` alerts on its failed checks.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from trialsync_etl_spark import storage

#: alert payloads carry at most this many items (the count key carries
#: the full total)
ALERT_ITEMS = 20


class ReportRepublishing(RuntimeError):
    """The read raced a publish trim (the resolved version dir vanished
    between the existence check and the read) — retryable."""


class ReportSchemaError(ValueError):
    """The landed table lacks a column its spec declares — a report
    landed by a different chain version."""


def _every_row(row: dict) -> bool:
    return True


def _listing(report: "Report", rows: list[dict]) -> dict:
    return {report.count_key: len(rows), report.items_key: rows}


def _drift(report: "Report", rows: list[dict]) -> dict:
    """``all_quiet`` is the poll-me field for external monitors."""
    return {"all_quiet": not rows, **_listing(report, rows)}


def _verdict(report: "Report", rows: list[dict]) -> dict:
    n_failed = sum(1 for r in rows if report.alerts_on(r))
    return {"passed": n_failed == 0, "n_checks": len(rows),
            report.count_key: n_failed, report.items_key: rows}


@dataclass(frozen=True)
class Report:
    """One landed report table, declared once."""

    table: str
    route: str
    #: DDL of the columns the producer publishes before it stamps the
    #: timestamp (the drift checks build their DataFrames from it)
    schema: str
    sort_key: Callable[[dict], object]
    #: the "run chain X" half of the 404 text
    hint: str
    count_key: str
    items_key: str
    #: (spec, sorted rows) -> the route's 200 payload
    shape: Callable[["Report", list[dict]], dict]
    timestamp: str = "checked_at"
    rule: str | None = None
    #: alert item fields; ``out=column`` renames
    alert_fields: tuple[str, ...] = ()
    alerts_on: Callable[[dict], bool] = _every_row

    @property
    def absent_message(self) -> str:
        """The 404 error text."""
        return f"no {self.table} table — {self.hint}"

    @property
    def columns(self) -> tuple[str, ...]:
        return tuple(c.split()[0] for c in self.schema.split(","))

    def check_columns(self, names) -> None:
        """Raise :class:`ReportSchemaError` naming every declared column
        ``names`` lacks."""
        missing = [c for c in self.columns if c not in names]
        if missing:
            raise ReportSchemaError(
                f"{self.table} has a foreign schema — missing column(s): "
                + ", ".join(missing)
            )

    def payload(self, rows: list[dict]) -> dict:
        return self.shape(self, rows)

    def alert(self, rows: list[dict]) -> dict | None:
        """The rule's one alert over sorted rows, or None when quiet."""
        hits = [r for r in rows if self.alerts_on(r)]
        if not hits:
            return None
        fields = [f.partition("=")[::2] for f in self.alert_fields]
        return {
            "rule": self.rule,
            self.count_key: len(hits),
            self.items_key: [
                {out: r[col or out] for out, col in fields}
                for r in hits[:ALERT_ITEMS]
            ],
        }


DQ_REPORT = Report(
    table="dq_report",
    route="/quality",
    schema="table string, check string, column string, n_violations bigint, "
    "passed boolean",
    sort_key=lambda r: (r["table"], r["check"], r["column"]),
    hint="run the verify_warehouse chain",
    count_key="n_failed",
    items_key="checks",
    shape=_verdict,
    rule="dq_failed",
    alert_fields=("table", "check", "column", "n_violations"),
    alerts_on=lambda r: not r["passed"],
)

HOT_KEYS = Report(
    table="hot_keys",
    route="/freq/hot",
    schema="user_id long, n_rows long, share double",
    sort_key=lambda r: -(r["share"] or 0.0),
    hint="run the refresh_gold_views chain",
    count_key="n_keys",
    items_key="keys",
    shape=_listing,
    timestamp="detected_at",
)

FREQ_DRIFT = Report(
    table="freq_drift_report",
    route="/freq/drift",
    schema="user_id long, share_a double, share_b double, share_delta double",
    sort_key=lambda r: -(r["share_delta"] or 0.0),
    hint="run the maintain_warehouse chain",
    count_key="n_keys",
    items_key="keys",
    shape=_drift,
    rule="hot_key_drift",
    alert_fields=("key=user_id", "share_a", "share_b", "share_delta"),
)

QUALITY_DRIFT = Report(
    table="quality_drift_report",
    route="/quality/drift",
    schema="source string, p50_prev double, p50_now double, p50_delta double, "
    "mean_prev double, mean_now double, mean_delta double",
    sort_key=lambda r: -max(r["p50_delta"] or 0.0, r["mean_delta"] or 0.0),
    hint="run the maintain_warehouse chain",
    count_key="n_sources",
    items_key="sources",
    shape=_drift,
    rule="quality_score_drift",
    alert_fields=("source", "p50_prev", "p50_now", "p50_delta", "mean_delta"),
)

PERPLEXITY_DRIFT = Report(
    table="perplexity_drift_report",
    route="/lm/drift",
    schema="source string, p50_prev double, p50_now double, p50_rel double, "
    "mean_prev double, mean_now double, mean_rel double",
    sort_key=lambda r: -max(r["p50_rel"] or 0.0, r["mean_rel"] or 0.0),
    hint="run the maintain_warehouse chain with lm_store/lm_model_id options",
    count_key="n_sources",
    items_key="sources",
    shape=_drift,
    rule="perplexity_drift",
    alert_fields=("source", "p50_prev", "p50_now", "p50_rel", "mean_rel"),
)

LANG_DRIFT = Report(
    table="lang_drift_report",
    route="/lang/drift",
    schema="source string, lang_prev string, lang_now string, "
    "frac_prev double, frac_now double, frac_delta double",
    # dominant-language flips first, then the largest share moves
    sort_key=lambda r: (r["lang_prev"] == r["lang_now"],
                        -(r["frac_delta"] or 0.0)),
    hint="run the maintain_warehouse chain (check_lang_drift)",
    count_key="n_sources",
    items_key="sources",
    shape=_drift,
    rule="lang_mix_drift",
    alert_fields=("source", "lang_prev", "lang_now", "frac_prev", "frac_now",
                  "frac_delta"),
)

REPORTS = (DQ_REPORT, HOT_KEYS, FREQ_DRIFT, QUALITY_DRIFT, PERPLEXITY_DRIFT,
           LANG_DRIFT)
BY_ROUTE = {r.route: r for r in REPORTS}


def read_report(warehouse_dir: str, report: Report) -> list[dict]:
    """The landed ``report`` as rows in its declared order, timestamps as
    strings. Raises FileNotFoundError (message: the 404 text) when the
    table is absent, :class:`ReportRepublishing` when the read races a
    publish trim, :class:`ReportSchemaError` when a declared column is
    missing."""
    import pyarrow as pa

    path = os.path.join(warehouse_dir, report.table)
    if not os.path.exists(path):
        raise FileNotFoundError(report.absent_message)
    try:
        table = storage.read_published_arrow(path)
    except (OSError, pa.ArrowException) as exc:
        raise ReportRepublishing(
            f"{report.table} is being republished — retry"
        ) from exc
    report.check_columns(table.column_names)
    rows = table.to_pylist()
    for r in rows:
        if r.get(report.timestamp) is not None:
            r[report.timestamp] = str(r[report.timestamp])
    rows.sort(key=report.sort_key)
    return rows
