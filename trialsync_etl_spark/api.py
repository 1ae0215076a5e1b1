"""REST control plane (C6) on the standard library — no FastAPI dependency.

The reference exposes run-job/run-all, run history, transformation
execution, schedules, and Prometheus /metrics over FastAPI
(ref: src/web/api.py:158-1335). This module provides the same surface as a
WSGI-style handler over http.server: every route delegates to the same
engine functions the CLI uses, so the two control planes cannot drift.

Routes:
  GET  /health                      → {"status": "ok"}
  GET  /jobs                        → job catalog + stats
  POST /jobs/{id}/run               → execute one job (DAG-less)
  GET  /jobs/{id}/status            → spec + last run outcome
  GET  /jobs/{id}/history           → per-job run history
  GET/PUT/DELETE /jobs/{id}/schedule → per-job schedule CRUD
  POST /jobs/run-all                → execute the active DAG
  GET  /scheduler/status            → live scheduler job states
  GET  /transformations/{name}/history → per-transform run history
  GET/PUT/DELETE /transformations/{name}/schedule → transform schedule CRUD
  GET  /runs?job=<name>&limit=<n>   → run history, newest first
  GET  /runs/success-rate           → per-job success summary
  POST /runs/{run_id}/retry         → retry, resuming from checkpoint if any
  GET  /transformations             → registered transform names
  POST /transformations/{name}/execute → run one transform/chain
  GET  /schedules                   → transformation schedules + next fire
  POST /schedules/{name}            → upsert / (de)activate a schedule
  GET  /tables                      → warehouse table inventory
  GET  /quality, /freq/hot, /freq/drift, /quality/drift, /lm/drift,
       /lang/drift                  → a landed report (reports.py specs)
  GET  /quality/history             → one summary per retained dq_report
  GET  /alerts                      → alert rules over run log + reports
  GET  /metrics                     → Prometheus text exposition
  GET  /dashboard                   → server-rendered HTML status page

The dashboard is the analogue of the reference's `web/index.html` job
management UI (jobs / execution history / schedules / system metrics /
transformation procedures), rendered server-side from the same providers
the JSON routes use — no frontend build, no JS dependency.
"""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from trialsync_etl_spark import jobs as jobs_mod
from trialsync_etl_spark import reports
from trialsync_etl_spark.jobs import DEMO_CATALOG, JobSpec
from trialsync_etl_spark.metrics import MetricsRegistry
from trialsync_etl_spark.orchestrator import execute_dag
from trialsync_etl_spark.runs import RunLog


class ControlPlane:
    """Route table + handlers, testable without a socket."""

    def __init__(
        self,
        catalog: list[JobSpec] | tuple[JobSpec, ...] = DEMO_CATALOG,
        run_log: RunLog | None = None,
        metrics: MetricsRegistry | None = None,
        runner=None,
        transform_executor=None,
        scheduler=None,
        schedule_store=None,
        checkpoint_store=None,
        warehouse_dir: str | None = None,
        decontam_store: str | None = None,
        lm_store: str | None = None,
    ) -> None:
        self.catalog = list(catalog)
        self.run_log = run_log or RunLog(".etl/runs.jsonl")
        self.metrics = metrics or MetricsRegistry()
        self.runner = runner or (lambda spec: {"job": spec.name, "records": 0})
        self.transform_executor = transform_executor
        self.scheduler = scheduler
        self.schedule_store = schedule_store
        self.checkpoint_store = checkpoint_store
        self.warehouse_dir = warehouse_dir
        self.decontam_store = decontam_store
        self.lm_store = lm_store
        import inspect

        self._runner_takes_resume = "resume_run_id" in inspect.signature(
            self.runner
        ).parameters
        self._lock = threading.Lock()

    # -- dispatch ------------------------------------------------------------
    def handle(self, method: str, path: str, body: bytes = b"") -> tuple[int, str, str]:
        """Returns (status, content_type, payload)."""
        url = urlparse(path)
        route = url.path.rstrip("/")
        query = {k: v[0] for k, v in parse_qs(url.query).items()}

        if method == "GET" and route == "/health":
            return 200, "application/json", json.dumps({"status": "ok"})
        if method == "GET" and route == "/jobs":
            return 200, "application/json", json.dumps(
                {
                    "jobs": [
                        {"job_id": j.job_id, "name": j.name, "endpoint": j.endpoint,
                         "target_table": j.target_table, "active": j.active,
                         "depends_on": list(j.depends_on)}
                        for j in self.catalog
                    ],
                    "stats": jobs_mod.stats(self.catalog),
                }
            )
        m = re.fullmatch(r"/jobs/(\d+)/run", route)
        if method == "POST" and m:
            return self._run_job(int(m.group(1)))
        m = re.fullmatch(r"/jobs/(\d+)/status", route)
        if method == "GET" and m:
            return self._job_status(int(m.group(1)))
        m = re.fullmatch(r"/jobs/(\d+)/history", route)
        if method == "GET" and m:
            return self._job_history(int(m.group(1)), int(query.get("limit", "20")))
        m = re.fullmatch(r"/jobs/(\d+)/schedule", route)
        if m:
            return self._schedule_crud(
                method, lambda: self._job_name(int(m.group(1))), body
            )
        if method == "POST" and route == "/jobs/run-all":
            return self._run_all()
        if method == "GET" and route == "/runs":
            rows = self.run_log.history(
                job_name=query.get("job"), limit=int(query.get("limit", "20"))
            )
            return 200, "application/json", json.dumps(rows)
        if method == "GET" and route == "/runs/success-rate":
            return 200, "application/json", json.dumps(self.run_log.success_rate())
        m = re.fullmatch(r"/runs/(\w+)/retry", route)
        if method == "POST" and m:
            return self._retry_run(m.group(1))
        if method == "GET" and route == "/transformations":
            from trialsync_etl_spark import transforms

            transforms.load_all()
            return 200, "application/json", json.dumps(
                {"transforms": sorted(transforms.TRANSFORMS), "chains": dict(transforms.CHAINS)}
            )
        m = re.fullmatch(r"/transformations/([\w.-]+)/execute", route)
        if method == "POST" and m:
            return self._run_transform(m.group(1))
        m = re.fullmatch(r"/transformations/([\w.-]+)/history", route)
        if method == "GET" and m:
            return 200, "application/json", json.dumps(
                self.run_log.history(
                    job_name=m.group(1), limit=int(query.get("limit", "20"))
                )
            )
        m = re.fullmatch(r"/transformations/([\w.-]+)/schedule", route)
        if m:
            name = m.group(1)
            return self._schedule_crud(method, lambda: name, body)
        if method == "GET" and route == "/scheduler/status":
            return self._scheduler_status()
        if method == "GET" and route == "/schedules":
            return self._list_schedules()
        m = re.fullmatch(r"/schedules/([\w.-]+)", route)
        if method == "POST" and m:
            return self._upsert_schedule(m.group(1), body)
        if method == "GET" and route == "/tables":
            return self._list_tables()
        if method == "GET" and route == "/quality/history":
            return self._quality_history()
        if method == "GET" and route in reports.BY_ROUTE:
            return self._serve_report(reports.BY_ROUTE[route])
        if method == "GET" and route == "/alerts":
            return self._alerts(query)
        if method == "GET" and route == "/decontam/benchmarks":
            return self._decontam_benchmarks()
        if method == "GET" and route == "/lm/models":
            return self._lm_models()
        if method == "GET" and route == "/metrics":
            return 200, "text/plain; version=0.0.4", self.metrics.exposition()
        if method == "GET" and route == "/dashboard":
            return 200, "text/html; charset=utf-8", self._dashboard()
        return 404, "application/json", json.dumps({"error": f"no route {method} {route}"})

    # -- handlers ------------------------------------------------------------
    def _execute_spec(self, spec: JobSpec, resume_run_id: str | None = None) -> dict:
        import time

        rec = self.run_log.create(spec.name)
        t0 = time.monotonic()
        try:
            if resume_run_id is not None and self._runner_takes_resume:
                result = self.runner(spec, resume_run_id=resume_run_id)
            else:
                result = self.runner(spec)
            records = int(result.get("records", 0)) if isinstance(result, dict) else 0
            self.run_log.update(rec, "success", records_loaded=records)
            self.metrics.record_job(spec.name, "success", time.monotonic() - t0, records)
            return {"run_id": rec.run_id, "status": "success", "records": records}
        except Exception as exc:  # noqa: BLE001 — surface as a status
            self.run_log.update(rec, "failed", error=str(exc))
            self.metrics.record_job(spec.name, "failed", time.monotonic() - t0)
            return {"run_id": rec.run_id, "status": "failed", "error": str(exc)}

    def _run_job(self, job_id: int) -> tuple[int, str, str]:
        match = [j for j in self.catalog if j.job_id == job_id]
        if not match:
            return 404, "application/json", json.dumps({"error": f"job {job_id} not found"})
        if not match[0].active:
            return 409, "application/json", json.dumps({"error": f"job {job_id} inactive"})
        with self._lock:  # max_instances=1 per control plane
            out = self._execute_spec(match[0])
        code = 200 if out["status"] == "success" else 500
        return code, "application/json", json.dumps(out)

    def _job_name(self, job_id: int) -> str | None:
        match = [j for j in self.catalog if j.job_id == job_id]
        return match[0].name if match else None

    def _job_status(self, job_id: int) -> tuple[int, str, str]:
        """GET /jobs/{id}/status — spec + last run outcome
        (ref: src/web/api.py:280-308)."""
        match = [j for j in self.catalog if j.job_id == job_id]
        if not match:
            return 404, "application/json", json.dumps(
                {"error": f"job {job_id} not found"}
            )
        j = match[0]
        history = self.run_log.history(job_name=j.name, limit=1)
        last = history[0] if history else None
        return 200, "application/json", json.dumps(
            {
                "job_id": j.job_id,
                "name": j.name,
                "active": j.active,
                "target_table": j.target_table,
                "last_run": last,
            }
        )

    def _job_history(self, job_id: int, limit: int) -> tuple[int, str, str]:
        """GET /jobs/{id}/history (ref: src/web/api.py:311-368)."""
        name = self._job_name(job_id)
        if name is None:
            return 404, "application/json", json.dumps(
                {"error": f"job {job_id} not found"}
            )
        return 200, "application/json", json.dumps(
            self.run_log.history(job_name=name, limit=limit)
        )

    def _schedule_crud(self, method: str, resolve_name, body: bytes) -> tuple[int, str, str]:
        """GET/PUT/DELETE schedule for a job or transformation
        (ref: src/web/api.py:509-709, 1082-1290) — one store, keyed by
        the job/procedure name, shared with /schedules."""
        if self.schedule_store is None:
            return 503, "application/json", json.dumps(
                {"error": "no schedule store attached"}
            )
        name = resolve_name()
        if name is None:
            return 404, "application/json", json.dumps({"error": "job not found"})
        if method == "GET":
            spec = self.schedule_store.get(name)
            if spec is None:
                return 404, "application/json", json.dumps(
                    {"error": f"no schedule for {name}"}
                )
            return 200, "application/json", json.dumps(vars(spec))
        if method in ("PUT", "POST"):
            return self._upsert_schedule(name, body)
        if method == "DELETE":
            if not self.schedule_store.delete(name):
                return 404, "application/json", json.dumps(
                    {"error": f"no schedule for {name}"}
                )
            return 200, "application/json", json.dumps({"deleted": name})
        return 405, "application/json", json.dumps({"error": f"method {method}"})

    def _scheduler_status(self) -> tuple[int, str, str]:
        """GET /scheduler/status (ref: src/web/api.py:710-751)."""
        if self.scheduler is None:
            return 200, "application/json", json.dumps(
                {"running": False, "jobs": []}
            )
        jobs = [
            {
                "name": name,
                "cron": j.cron.raw,
                "fired": j.fired,
                "errors": j.errors,
                "running": j.running,
                "skipped_ticks": j.skipped_ticks,
            }
            for name, j in sorted(self.scheduler.jobs.items())
        ]
        return 200, "application/json", json.dumps(
            {"running": True, "jobs": jobs}
        )

    def _retry_run(self, run_id: str) -> tuple[int, str, str]:
        """POST /runs/{run_id}/retry — re-execute a run's job, resuming
        from its checkpoint when one exists (ref: src/web/api.py:435-493).
        A checkpointed retry hands the failed run's id to the runner so the
        executor skips already-flushed pages; without a checkpoint it is a
        fresh run of the same job."""
        recs = [
            r for r in self.run_log.all_records() if r.get("run_id") == run_id
        ]
        if not recs:
            return 404, "application/json", json.dumps(
                {"error": f"run {run_id} not found"}
            )
        job_name = recs[-1]["job_name"]
        specs = [j for j in self.catalog if j.name == job_name]
        if not specs:
            return 409, "application/json", json.dumps(
                {"error": f"run {run_id} belongs to {job_name!r}, "
                          "which is not a catalog job"}
            )
        if not specs[0].active:  # same guard as /jobs/{id}/run
            return 409, "application/json", json.dumps(
                {"error": f"job {specs[0].job_id} inactive"}
            )
        resume = None
        if (
            self._runner_takes_resume
            and self.checkpoint_store is not None
            and self.checkpoint_store.load(run_id)
        ):
            resume = run_id
        with self._lock:
            out = self._execute_spec(specs[0], resume_run_id=resume)
        out["resumed"] = resume is not None
        code = 200 if out["status"] == "success" else 500
        return code, "application/json", json.dumps(out)

    def _run_all(self) -> tuple[int, str, str]:
        graph = jobs_mod.to_graph(tuple(self.catalog))
        by_id = {j.job_id: j for j in self.catalog}

        def run_one(node):
            out = self._execute_spec(by_id[node.job_id])
            if out["status"] != "success":
                raise RuntimeError(out.get("error", "failed"))
            return out

        with self._lock:
            results = execute_dag(graph, run_one)
        payload = {
            str(jid): {"status": r.status, "error": r.error} for jid, r in results.items()
        }
        any_failed = any(r.status == "failed" for r in results.values())
        return (500 if any_failed else 200), "application/json", json.dumps(payload)

    def _list_schedules(self) -> tuple[int, str, str]:
        """GET /schedules — the dw_transformation_schedules listing
        (ref: sql/schema/02_create_transformation_schedules.sql:10-31),
        with next_run_time computed from the cron."""
        if self.schedule_store is None:
            return 503, "application/json", json.dumps(
                {"error": "no schedule store attached"}
            )
        from datetime import datetime

        from trialsync_etl_spark.scheduler import CronError

        now = datetime.now()
        out = []
        for s in self.schedule_store.list():
            try:
                # a cron can parse yet never fire (e.g. "0 0 31 2 *");
                # that must not take down the whole listing
                nxt = s.next_run_time(now).isoformat() if s.is_active else None
            except CronError:
                nxt = None
            out.append(
                {
                    "procedure_name": s.procedure_name,
                    "schedule_cron": s.schedule_cron,
                    "is_active": s.is_active,
                    "description": s.description,
                    "last_run_at": s.last_run_at,
                    "last_run_status": s.last_run_status,
                    "next_run_time": nxt,
                }
            )
        return 200, "application/json", json.dumps(out)

    def _upsert_schedule(self, name: str, body: bytes) -> tuple[int, str, str]:
        """POST /schedules/{name} — create/update a schedule; body:
        {"cron": "0 2 * * *", "active": true, "description": "..."}."""
        from trialsync_etl_spark.scheduler import CronError

        if self.schedule_store is None:
            return 503, "application/json", json.dumps(
                {"error": "no schedule store attached"}
            )
        try:
            doc = json.loads(body or b"{}")
        except json.JSONDecodeError:
            return 400, "application/json", json.dumps({"error": "invalid JSON body"})
        if "cron" not in doc:
            existing = self.schedule_store.get(name)
            if existing is None:
                return 400, "application/json", json.dumps(
                    {"error": "cron required for a new schedule"}
                )
            spec = self.schedule_store.set_active(
                name, bool(doc.get("active", existing.is_active))
            )
        else:
            try:
                spec = self.schedule_store.upsert(
                    name,
                    doc["cron"],
                    is_active=bool(doc.get("active", True)),
                    description=str(doc.get("description", "")),
                )
            except CronError as exc:
                return 400, "application/json", json.dumps({"error": str(exc)})
        return 200, "application/json", json.dumps(
            {
                "procedure_name": spec.procedure_name,
                "schedule_cron": spec.schedule_cron,
                "is_active": spec.is_active,
            }
        )

    def _dashboard(self) -> str:
        """Server-rendered status page mirroring the reference dashboard's
        five sections; every value comes from the same providers the JSON
        routes use, so UI and API cannot disagree."""
        import html as H

        def esc(v) -> str:
            return H.escape(str(v))

        def table(headers: list[str], rows: list[list]) -> str:
            head = "".join(f"<th>{esc(h)}</th>" for h in headers)
            body = "".join(
                "<tr>" + "".join(f"<td>{esc(c)}</td>" for c in r) + "</tr>"
                for r in rows
            )
            return f"<table><tr>{head}</tr>{body}</table>"

        st = jobs_mod.stats(self.catalog)
        tiles = " ".join(
            f'<span class="tile"><b>{esc(v)}</b> {esc(k)}</span>'
            for k, v in st.items()
        )
        jobs_tbl = table(
            ["id", "name", "endpoint", "target table", "active", "depends on", "param"],
            [
                [j.job_id, j.name, j.endpoint, j.target_table,
                 "yes" if j.active else "no",
                 ",".join(map(str, j.depends_on)) or "—",
                 j.parameterized_by or "—"]
                for j in self.catalog
            ],
        )
        runs = self.run_log.history(limit=20)
        runs_tbl = table(
            ["run id", "job", "status", "records", "error"],
            [
                [r.get("run_id", ""), r.get("job_name", ""), r.get("status", ""),
                 r.get("records_loaded", 0), r.get("error") or "—"]
                for r in runs
            ],
        ) if runs else "<p>No runs recorded.</p>"
        if self.schedule_store is not None and self.schedule_store.list():
            sched_tbl = table(
                ["procedure", "cron", "active", "last run", "last status"],
                [[s.procedure_name, s.schedule_cron,
                  "yes" if s.is_active else "no",
                  s.last_run_at or "—", s.last_run_status or "—"]
                 for s in self.schedule_store.list()],
            )
        elif self.scheduler is not None and getattr(self.scheduler, "jobs", None):
            sched_tbl = table(
                ["job", "cron", "fired", "errors"],
                [[name, sj.cron.raw, sj.fired, sj.errors]
                 for name, sj in sorted(self.scheduler.jobs.items())],
            )
        else:
            sched_tbl = "<p>No schedules registered.</p>"
        from trialsync_etl_spark import transforms

        transforms.load_all()
        tf_tbl = table(
            ["transformation"], [[t] for t in sorted(transforms.TRANSFORMS)]
        ) + table(
            ["chain", "steps"],
            [[c, " → ".join(steps)] for c, steps in sorted(transforms.CHAINS.items())],
        )
        metrics_pre = f"<pre>{esc(self.metrics.exposition())}</pre>"
        # data-quality section: the landed dq_report, red rows first
        import json as _json

        q_status, _ctype, q_payload = self._serve_report(reports.DQ_REPORT)
        if q_status == 200:
            q = _json.loads(q_payload)
            verdict = "all green" if q["passed"] else f'{q["n_failed"]} FAILED'
            q_rows = sorted(q["checks"], key=lambda c: (c["passed"], c["table"]))
            dq_tbl = (
                f'<p><span class="tile"><b>{esc(q["n_checks"])}</b> checks — '
                f"<b>{esc(verdict)}</b></span></p>"
                + table(
                    ["table", "check", "column", "violations", "passed"],
                    [[c["table"], c["check"], c["column"], c["n_violations"],
                      "yes" if c["passed"] else "NO"] for c in q_rows],
                )
            )
        else:
            dq_tbl = "<p>No quality report (run the verify_warehouse chain).</p>"
        # quality trend: same provider as GET /quality/history. Guarded:
        # a concurrent publish can trim a retained version between the
        # listing and the read — the trend degrades, the page survives
        try:
            h_status, _h_ctype, h_payload = self._quality_history()
        except Exception:  # noqa: BLE001
            h_status = 0
        if h_status == 200:
            hist = _json.loads(h_payload)["history"]
            dq_tbl += table(
                ["verdict seq", "checked at", "checks", "failed", "passed"],
                [[h["seq"], h["checked_at"] or "—", h["n_checks"],
                  h["n_failed"], "yes" if h["passed"] else "NO"]
                 for h in hist],
            )
        # warehouse inventory: same provider as GET /tables
        t_status, _t_ctype, t_payload = self._list_tables()
        if t_status == 200 and _json.loads(t_payload)["tables"]:
            inv = _json.loads(t_payload)["tables"]
            inv_tbl = table(
                ["table", "files", "bytes", "retained versions"],
                [[t["table"], t["n_files"], t["bytes"], len(t["versions"])]
                 for t in inv],
            )
        else:
            inv_tbl = "<p>No warehouse tables published.</p>"
        # alerts: same provider as GET /alerts (guarded — the dashboard
        # must render even if the alert stores are mid-maintenance)
        try:
            _a_status, _a_ctype, a_payload = self._alerts({})
            a = _json.loads(a_payload)
            if a["all_quiet"]:
                alerts_html = '<p><span class="tile"><b>all quiet</b></span></p>'
            else:
                alerts_html = (
                    f'<p><span class="tile"><b>{esc(a["n_alerts"])}</b> '
                    f"ALERTS FIRING</span></p>"
                    + table(
                        ["rule", "detail"],
                        # raw values — table()'s own esc() is the single
                        # escape (pre-escaping here double-encoded quotes)
                        [[al["rule"],
                          {k: v for k, v in al.items() if k != "rule"}]
                         for al in a["alerts"]],
                    )
                )
        except Exception:  # noqa: BLE001
            alerts_html = "<p>Alert evaluation unavailable.</p>"
        return f"""<!doctype html><html><head><meta charset="utf-8">
<title>TrialSync ETL — Job Management</title>
<style>
body{{font-family:sans-serif;margin:2em;color:#222}}
table{{border-collapse:collapse;margin:0.5em 0}}
th,td{{border:1px solid #ccc;padding:4px 8px;text-align:left;font-size:13px}}
th{{background:#f0f0f0}} .tile{{display:inline-block;border:1px solid #ccc;
border-radius:4px;padding:6px 12px;margin-right:8px}}
</style></head><body>
<h1>TrialSync ETL — Job Management</h1>
<p>{tiles}</p>
<h2>ETL Jobs</h2>{jobs_tbl}
<h2>Execution History</h2>{runs_tbl}
<h2>Job Schedules</h2>{sched_tbl}
<h2>Transformation Procedures</h2>{tf_tbl}
<h2>Alerts</h2>{alerts_html}
<h2>Data Quality</h2>{dq_tbl}
<h2>Warehouse Tables</h2>{inv_tbl}
<h2>System Metrics</h2>{metrics_pre}
</body></html>"""

    def _list_tables(self) -> tuple[int, str, str]:
        """Warehouse table inventory: every published table with its file
        count, bytes, and retained time-travel window — Spark-free (publish
        pointers + parquet footers + the retention manifest only)."""
        import os

        from trialsync_etl_spark.storage import list_versions, table_file_stats

        if not self.warehouse_dir:
            return 503, "application/json", json.dumps(
                {"error": "no warehouse_dir attached to the control plane"}
            )
        tables = []
        root = self.warehouse_dir
        for name in sorted(os.listdir(root)) if os.path.isdir(root) else []:
            full = os.path.join(root, name)
            # a table is a publish-pointer symlink or a plain parquet dir
            # (chain transforms write directly); skip publication artifacts
            # — __v* version dirs (reachable through their pointer), locks,
            # manifests — and loose files like run logs
            if "__" in name:
                continue
            if not (os.path.islink(full) or os.path.isdir(full)):
                continue
            n_files, n_bytes = table_file_stats(full)
            if n_files == 0:
                continue
            tables.append(
                {"table": name, "n_files": n_files, "bytes": n_bytes,
                 "versions": list_versions(full)}
            )
        return 200, "application/json", json.dumps(
            {"n_tables": len(tables), "tables": tables}
        )

    def _alerts(self, query: dict) -> tuple[int, str, str]:
        """Evaluate the alert rules (alerts.py) over the run log + landed
        reports — the reference's missing error-notification surface.
        ``?consecutive=N&min_rate=F&window=K`` tune the thresholds
        (``min_rate=none`` disables the success-rate rule, matching
        evaluate_alerts' ``min_success_rate=None``); ``all_quiet`` is the
        poll-me field for external monitors. Bad params — unparseable, or
        a threshold that would switch a rule off — are a 400 with a usage
        message, not a 500 — monitors retry 500s, not typos."""
        from trialsync_etl_spark.alerts import check_thresholds, evaluate_alerts

        usage = (
            "usage: /alerts?consecutive=<int>&min_rate=<float|none>"
            "&window=<int>"
        )
        try:
            consecutive = int(query.get("consecutive", "1"))
            window = int(query.get("window", "20"))
            raw_rate = query.get("min_rate", "0.5")
            min_rate = (
                None
                if str(raw_rate).strip().lower() in ("none", "")
                else float(raw_rate)
            )
            check_thresholds(consecutive, min_rate, window)
        except (TypeError, ValueError) as exc:
            return 400, "application/json", json.dumps(
                {"error": f"bad query parameter: {exc}", "usage": usage}
            )
        alerts = evaluate_alerts(
            self.run_log,
            warehouse_dir=self.warehouse_dir,
            consecutive_failures=consecutive,
            min_success_rate=min_rate,
            window=window,
        )
        return 200, "application/json", json.dumps(
            {"all_quiet": not alerts, "n_alerts": len(alerts), "alerts": alerts}
        )

    def _quality_history(self) -> tuple[int, str, str]:
        """Quality trend: one summary row per RETAINED dq_report version
        (the report table publishes with keep_versions, so past verdicts
        are time-travelable) — Spark-free pyarrow reads, newest last. A
        retained version missing a declared column is a 503, like
        ``GET /quality``."""
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        from trialsync_etl_spark.storage import list_versions

        if not self.warehouse_dir:
            return 503, "application/json", json.dumps(
                {"error": "no warehouse_dir attached to the control plane"}
            )
        report = reports.DQ_REPORT
        path = os.path.join(self.warehouse_dir, report.table)
        versions = list_versions(path)
        if not versions:
            return 404, "application/json", json.dumps(
                {"error": report.absent_message}
            )
        out = []
        parent = os.path.dirname(path)
        for v in versions:
            try:
                table = pq.read_table(os.path.join(parent, v["dir"]))
            except (OSError, pa.ArrowException):
                continue  # trimmed by a concurrent publish
            try:
                report.check_columns(table.column_names)
            except reports.ReportSchemaError as exc:
                return 503, "application/json", json.dumps({"error": str(exc)})
            rows = table.to_pylist()
            n_failed = sum(1 for r in rows if report.alerts_on(r))
            checked = max(
                (str(r[report.timestamp]) for r in rows
                 if r.get(report.timestamp)),
                default=None,
            )
            out.append(
                {"seq": v["seq"], "is_current": v["is_current"],
                 "checked_at": checked, "n_checks": len(rows),
                 "n_failed": n_failed, "passed": n_failed == 0}
            )
        return 200, "application/json", json.dumps({"history": out})

    def _serve_report(self, report: reports.Report) -> tuple[int, str, str]:
        """Serve a LANDED report table (reports.py: dq verdicts, hot keys,
        the drift reports) — a Spark-free pyarrow read of what a chain
        step already computed, so serving it is a metadata-cheap file
        read. A read racing a publish trim and a report landed by a
        different chain version are retryable 503s, not a dropped
        connection or a dead dashboard."""
        if not self.warehouse_dir:
            return 503, "application/json", json.dumps(
                {"error": "no warehouse_dir attached to the control plane"}
            )
        try:
            rows = reports.read_report(self.warehouse_dir, report)
        except FileNotFoundError as exc:
            return 404, "application/json", json.dumps({"error": str(exc)})
        except (reports.ReportRepublishing, reports.ReportSchemaError) as exc:
            return 503, "application/json", json.dumps({"error": str(exc)})
        return 200, "application/json", json.dumps(report.payload(rows))

    def _decontam_benchmarks(self) -> tuple[int, str, str]:
        """Serve the persisted benchmark store's inventory — the built
        shingle benchmark_ids with the pinned (k, hash_fn) AND the
        embedding (semantic) family's ids with the pinned dim —
        Spark-free (directory listings + the params JSONs), so an
        operator can audit which eval suites every ingest batch is being
        gated against, on both the n-gram and the paraphrase axis."""
        if not self.decontam_store:
            return 503, "application/json", json.dumps(
                {"error": "no decontam_store attached to the control plane"}
            )
        from trialsync_etl_spark.operators.decontam_store import (
            list_benchmarks,
            list_embedding_benchmarks,
            read_emb_params,
            read_store_params,
        )

        params = read_store_params(self.decontam_store)
        emb_params = read_emb_params(self.decontam_store)
        if params is None and emb_params is None:
            return 404, "application/json", json.dumps(
                {"error": "decontam store has no benchmarks yet — build one "
                          "(cli: decontam build / build-emb)"}
            )
        return 200, "application/json", json.dumps({
            "benchmarks": list_benchmarks(self.decontam_store),
            "params": params,
            "emb_benchmarks": list_embedding_benchmarks(self.decontam_store),
            "emb_params": emb_params,
        })

    def _lm_models(self) -> tuple[int, str, str]:
        """Serve the persisted unigram-LM store's model registry — the
        built model_ids with their pinned scalars (add_k, vocab size,
        unseen-token log-prob) — Spark-free (one meta JSON read), so an
        operator can audit which reference-model version every
        perplexity-banded batch is being scored against."""
        if not self.lm_store:
            return 503, "application/json", json.dumps(
                {"error": "no lm_store attached to the control plane"}
            )
        from trialsync_etl_spark.operators.lm_store import read_lm_meta

        meta = read_lm_meta(self.lm_store)
        if meta is None:
            return 404, "application/json", json.dumps(
                {"error": "lm store has no models yet — build one "
                          "(cli: lm train)"}
            )
        return 200, "application/json", json.dumps(
            {"models": meta["models"]}
        )

    def _run_transform(self, name: str) -> tuple[int, str, str]:
        if self.transform_executor is None:
            return 503, "application/json", json.dumps(
                {"error": "no transform executor attached (needs a SparkSession)"}
            )
        result = self.transform_executor(name)
        code = 200 if result.get("status") == "success" else 500
        return code, "application/json", json.dumps(result)


def serve(plane: ControlPlane, host: str = "127.0.0.1", port: int = 8787) -> ThreadingHTTPServer:
    """Start the HTTP server (returns it; call .shutdown() to stop)."""

    class Handler(BaseHTTPRequestHandler):
        def _respond(self) -> None:
            length = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(length) if length else b""
            try:
                status, ctype, payload = plane.handle(self.command, self.path, body)
            except Exception as exc:  # noqa: BLE001
                # an unexpected handler error must surface as a 5xx, not
                # a dropped connection that also takes the dashboard down
                status, ctype, payload = 500, "application/json", json.dumps(
                    {"error": f"{type(exc).__name__}: {exc}"}
                )
            data = payload.encode()
            self.send_response(status)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        do_GET = _respond
        do_POST = _respond
        do_PUT = _respond
        do_DELETE = _respond

        def log_message(self, *args):  # quiet test output
            pass

    server = ThreadingHTTPServer((host, port), Handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server
