"""Cron scheduling (C4) without external dependencies.

The reference uses APScheduler with 5/6-field cron expressions and
`max_instances=1` (ref: src/etl/scheduler.py:23-177). Here: a 5-field cron
parser + next-fire computation, and a scheduler loop that skips a tick if
the previous instance of the same job is still running.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field
from datetime import datetime, timedelta

_FIELDS = ("minute", "hour", "dom", "month", "dow")
_RANGES = {"minute": (0, 59), "hour": (0, 23), "dom": (1, 31), "month": (1, 12), "dow": (0, 6)}


class CronError(ValueError):
    pass


def _parse_field(spec: str, lo: int, hi: int) -> frozenset[int]:
    out: set[int] = set()
    for part in spec.split(","):
        step = 1
        if "/" in part:
            part, step_s = part.split("/", 1)
            step = int(step_s)
            if step <= 0:
                raise CronError(f"bad step in {spec!r}")
        if part == "*":
            lo2, hi2 = lo, hi
        elif "-" in part:
            a, b = part.split("-", 1)
            lo2, hi2 = int(a), int(b)
        else:
            lo2 = hi2 = int(part)
        if lo2 < lo or hi2 > hi or lo2 > hi2:
            raise CronError(f"field value out of range in {spec!r} (allowed {lo}-{hi})")
        out.update(range(lo2, hi2 + 1, step))
    return frozenset(out)


@dataclass(frozen=True)
class CronExpr:
    """5-field cron: minute hour day-of-month month day-of-week
    (dow 0=Sunday..6=Saturday, 7 accepted as a Sunday alias).

    Day-of-month and day-of-week are INTERSECTED (a time matches only when
    both fields match) — APScheduler's semantics, matching the reference's
    scheduler (src/etl/scheduler.py:23-177 uses APScheduler), and an
    intentional divergence from Vixie cron, where two restricted day
    fields are OR'd ('0 0 1,15 * 1' fires on the 1st/15th AND Mondays
    there, but only on a 1st/15th that IS a Monday here)."""

    minute: frozenset[int]
    hour: frozenset[int]
    dom: frozenset[int]
    month: frozenset[int]
    dow: frozenset[int]
    raw: str = ""

    @classmethod
    def parse(cls, expr: str) -> "CronExpr":
        parts = expr.split()
        if len(parts) != 5:
            raise CronError(f"expected 5 cron fields, got {len(parts)}: {expr!r}")
        vals = {}
        for name, part in zip(_FIELDS, parts):
            lo, hi = _RANGES[name]
            if name == "dow":
                # 7 == Sunday alias: parse with the widened range then fold
                # the value — a textual replace would corrupt ranges/steps
                # like '5-7' or '*/7'
                vals[name] = frozenset(v % 7 for v in _parse_field(part, lo, 7))
            else:
                vals[name] = _parse_field(part, lo, hi)
        return cls(raw=expr, **vals)

    def matches(self, dt: datetime) -> bool:
        dow = (dt.weekday() + 1) % 7  # python Monday=0 → cron Sunday=0
        return (
            dt.minute in self.minute
            and dt.hour in self.hour
            and dt.day in self.dom
            and dt.month in self.month
            and dow in self.dow
        )

    def next_fire(self, after: datetime) -> datetime:
        """First matching minute strictly after `after` (bounded scan — cron
        always matches within 4 years)."""
        dt = after.replace(second=0, microsecond=0) + timedelta(minutes=1)
        limit = after + timedelta(days=4 * 366)
        while dt <= limit:
            if dt.month not in self.month:
                # jump to the 1st of the next month
                nxt = (dt.replace(day=1) + timedelta(days=32)).replace(
                    day=1, hour=0, minute=0
                )
                dt = nxt
                continue
            if dt.day not in self.dom or ((dt.weekday() + 1) % 7) not in self.dow:
                dt = (dt + timedelta(days=1)).replace(hour=0, minute=0)
                continue
            if dt.hour not in self.hour:
                dt = (dt + timedelta(hours=1)).replace(minute=0)
                continue
            if dt.minute not in self.minute:
                dt += timedelta(minutes=1)
                continue
            return dt
        raise CronError(f"no fire time within 4 years for {self.raw!r}")


@dataclass
class ScheduledJob:
    name: str
    cron: CronExpr
    fn: object  # Callable[[], object]
    max_instances: int = 1
    running: int = 0
    skipped_ticks: int = 0
    fired: int = 0
    errors: int = 0
    last_error: str | None = None
    lock: threading.Lock = field(default_factory=threading.Lock, repr=False)


class CronScheduler:
    """Tick-driven scheduler: call `tick(now)` once per minute (tests drive
    it synthetically; production wraps it in a sleep loop). max_instances=1
    semantics: a tick overlapping a still-running instance is skipped and
    counted (APScheduler's coalescing behavior)."""

    def __init__(self) -> None:
        self.jobs: dict[str, ScheduledJob] = {}

    def add_job(self, name: str, cron_expr: str, fn, max_instances: int = 1) -> ScheduledJob:
        job = ScheduledJob(name=name, cron=CronExpr.parse(cron_expr), fn=fn, max_instances=max_instances)
        self.jobs[name] = job
        return job

    def due(self, now: datetime) -> list[ScheduledJob]:
        return [j for j in self.jobs.values() if j.cron.matches(now)]

    def tick(self, now: datetime, runner=None) -> list[str]:
        """Fire all due jobs; returns the names actually started. `runner`
        defaults to synchronous invocation (tests); pass an executor submit
        for async. A job that raises is recorded on the job (errors /
        last_error) and never aborts the rest of the tick — the scheduler
        must keep other due jobs firing (APScheduler semantics)."""
        started: list[str] = []

        def _run(j: ScheduledJob) -> None:
            try:
                j.fn()
            except Exception as exc:  # noqa: BLE001 — recorded, not fatal
                with j.lock:
                    j.errors += 1
                    j.last_error = str(exc)
            finally:
                with j.lock:
                    j.running -= 1
                    j.fired += 1

        for job in self.due(now):
            with job.lock:
                if job.running >= job.max_instances:
                    job.skipped_ticks += 1
                    continue
                job.running += 1
            if runner is None:
                _run(job)
            else:
                runner(lambda j=job: _run(j))
            started.append(job.name)
        return started


# ---------------------------------------------------------------------------
# persisted transformation schedules (ref: sql/schema/
# 02_create_transformation_schedules.sql:10-31 — dw_transformation_schedules)
# ---------------------------------------------------------------------------
@dataclass
class ScheduleSpec:
    """One row of the transformation-schedule store: which procedure runs
    on which cron, whether it's active, and its last/next run bookkeeping."""

    procedure_name: str
    schedule_cron: str
    is_active: bool = True
    description: str = ""
    last_run_at: str | None = None   # ISO timestamps — JSON-portable
    last_run_status: str | None = None

    def next_run_time(self, after: datetime) -> datetime:
        return CronExpr.parse(self.schedule_cron).next_fire(after)


class ScheduleStore:
    """File-backed schedule catalog (the metadata plane is JSON here, not
    Postgres — same durability contract as `runs.RunLog`): upsert by
    procedure name, activate/deactivate, record run outcomes, and wire the
    active set into a `CronScheduler`."""

    def __init__(self, path: str) -> None:
        self.path = path
        self._specs: dict[str, ScheduleSpec] = {}
        # serializes mutate-and-save; the HTTP server is threaded and the
        # schedule routes do not take the control-plane lock
        self._mu = threading.Lock()
        self._load()

    def _load(self) -> None:
        import json
        import os

        if os.path.exists(self.path):
            with open(self.path) as f:
                for row in json.load(f):
                    self._specs[row["procedure_name"]] = ScheduleSpec(**row)

    def _save(self) -> None:
        import json
        import os

        from trialsync_etl_spark.storage import atomic_write_text

        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        rows = [vars(s) for s in sorted(
            self._specs.values(), key=lambda s: s.procedure_name)]
        atomic_write_text(self.path, json.dumps(rows, indent=1))

    def upsert(
        self,
        procedure_name: str,
        schedule_cron: str,
        is_active: bool = True,
        description: str = "",
    ) -> ScheduleSpec:
        CronExpr.parse(schedule_cron)  # validate before persisting
        with self._mu:
            prev = self._specs.get(procedure_name)
            spec = ScheduleSpec(
                procedure_name, schedule_cron, is_active, description,
                last_run_at=prev.last_run_at if prev else None,
                last_run_status=prev.last_run_status if prev else None,
            )
            self._specs[procedure_name] = spec
            self._save()
        return spec

    def set_active(self, procedure_name: str, is_active: bool) -> ScheduleSpec:
        with self._mu:
            spec = self._specs[procedure_name]
            spec.is_active = is_active
            self._save()
        return spec

    def record_run(self, procedure_name: str, status: str, at: datetime) -> None:
        with self._mu:
            spec = self._specs.get(procedure_name)
            if spec is None:
                return
            spec.last_run_at = at.isoformat()
            spec.last_run_status = status
            self._save()

    def get(self, procedure_name: str) -> ScheduleSpec | None:
        with self._mu:
            return self._specs.get(procedure_name)

    def delete(self, procedure_name: str) -> bool:
        with self._mu:
            if procedure_name not in self._specs:
                return False
            del self._specs[procedure_name]
            self._save()
        return True

    def list(self, active_only: bool = False) -> list[ScheduleSpec]:
        with self._mu:  # snapshot under the writers' lock (threaded HTTP)
            specs = sorted(self._specs.values(), key=lambda s: s.procedure_name)
        return [s for s in specs if s.is_active] if active_only else specs

    def wire(self, scheduler: CronScheduler, execute) -> list[str]:
        """Register every ACTIVE schedule into `scheduler`; `execute(name)`
        runs the procedure. Outcomes are recorded back into the store
        (last_run_at/status), mirroring the reference's trigger-maintained
        columns."""
        wired = []
        for spec in self.list(active_only=True):

            def fire(name: str = spec.procedure_name) -> None:
                from datetime import datetime as _dt

                try:
                    execute(name)
                except Exception:
                    self.record_run(name, "failed", _dt.now())
                    raise
                self.record_run(name, "success", _dt.now())

            scheduler.add_job(spec.procedure_name, spec.schedule_cron, fire)
            wired.append(spec.procedure_name)
        return wired
