"""Incremental (CDC-pull) layer: watermarks, checkpoints, dual cadence.

Maps the reference's incremental-load machinery (SURVEY.md §2.9) onto
Spark concepts:

- I1 watermark filtering: `col(ts) > last_watermark` — a pushed-down scan
  predicate (the reference's `$filter=modifiedDate gt <ts>`).
- I2 checkpoint/resume: a JSON checkpoint of {skip, page_index,
  total_records, parameter_index, failed_parameters} persisted atomically —
  the reference's `run_context` JSONB (src/etl/executor.py:34-89).
- I3 timeout→suspend: cooperative deadline that saves the checkpoint and
  reports resumable instead of failing.
- I4 partial-failure tolerance: per-parameter failures collected (last
  100), run fails only if ALL parameters fail (executor.py:677-748).
- I6 dual cadence: full vs changed variants of one pipeline sharing a
  job_group (create_patient_dual_job_pattern.sql:50-277).

The stores are driver-side metadata (tiny), exactly like the reference's
Postgres config tables — the data plane stays distributed.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from trialsync_etl_spark.storage import atomic_write_text

MAX_FAILED_PARAMS = 100


def incremental_filter(df: DataFrame, ts_col: str, watermark: str | None) -> DataFrame:
    """I1: rows newer than the watermark; None ⇒ full load. The predicate
    reaches the parquet scan (PushedFilters) so old files are skipped
    entirely when the table is partitioned/sorted by ts."""
    if watermark is None:
        return df
    return df.filter(F.col(ts_col) > F.lit(watermark).cast("timestamp"))


def odata_incremental_clause(ts_field: str, watermark: str) -> str:
    """F11: the OData `$filter` the reference builds for incremental pulls
    (src/etl/executor.py:1077-1094)."""
    return f"{ts_field} gt {watermark}"


#: WatermarkStore param under which the boundary row-count rides along
#: with a job's watermark (see boundary_stats)
BOUNDARY_PARAM = "__boundary_n"


def boundary_stats(df: DataFrame, ts_col: str) -> tuple[str | None, int]:
    """(max ts as string, row count AT that max) of an incremental slice
    in ONE job — a groupBy on the (small) slice, TakeOrdered(1). ISO
    date/timestamp strings order like their values, so the string max is
    the watermark. (None, 0) for an empty slice."""
    top = (
        df.groupBy(F.col(ts_col).cast("string").alias("__wm"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .orderBy(F.col("__wm").desc())
        .limit(1)
        .collect()
    )
    if not top or top[0]["__wm"] is None:
        return None, 0
    return top[0]["__wm"], int(top[0]["__n"])


def stale_slice(
    store: "WatermarkStore", job: str, wm: str | None, mx: str | None, n_at_mx: int
) -> bool:
    """True iff an INCLUSIVE watermark slice holds nothing the last run
    didn't already process — the early-exit that `inclusive=True` rescans
    would otherwise kill forever (the slice always re-contains the
    boundary rows, so `isEmpty()` can never fire after the first run,
    and every idle refresh would re-aggregate + rewrite its boundary
    partition). A genuinely late row landing AT the boundary changes the
    boundary count, so it still triggers a refresh."""
    if mx is None:
        return True
    if wm is None or mx != wm:
        return False
    prev = store.get(job, param=BOUNDARY_PARAM)
    return prev is not None and int(prev) == n_at_mx


def advance_boundary(
    store: "WatermarkStore", job: str, mx: str, n_at_mx: int
) -> None:
    """Record the watermark AND its boundary row count after a refresh."""
    store.advance(job, mx)
    store.set(job, str(n_at_mx), param=BOUNDARY_PARAM)


class WatermarkStore:
    """Per-(job, parameter) high-watermark persistence — the reference reads
    `dw_etl_runs.completed_at` of the last success (executor.py:950-997).
    Atomic JSON file keyed by job/param; swap for a Delta table in prod."""

    def __init__(self, path: str) -> None:
        self.path = path

    def _load(self) -> dict:
        if not os.path.exists(self.path):
            return {}
        with open(self.path) as f:
            return json.load(f)

    def _save(self, data: dict) -> None:
        atomic_write_text(self.path, json.dumps(data, indent=1, sort_keys=True))

    @staticmethod
    def _key(job: str, param: object = None) -> str:
        return f"{job}\x00{param}" if param is not None else job

    def get(self, job: str, param: object = None) -> str | None:
        return self._load().get(self._key(job, param))

    def set(self, job: str, watermark: str, param: object = None) -> None:
        data = self._load()
        data[self._key(job, param)] = watermark
        self._save(data)

    def advance(self, job: str, candidate: str, param: object = None) -> str:
        """Monotonic update — never move a watermark backwards."""
        cur = self.get(job, param)
        new = candidate if cur is None or candidate > cur else cur
        self.set(job, new, param)
        return new


@dataclass
class Checkpoint:
    """I2: resumable progress (ref: src/etl/executor.py:60-71)."""

    skip: int = 0
    page_index: int = 0
    total_records: int = 0
    parameter_index: int = 0
    failed_parameters: list = field(default_factory=list)
    #: every attempt's run_started_at lineage stamp, oldest first — a
    #: resumed run's earlier suspended attempts flushed rows under THEIR
    #: stamps, and post-load diagnostics (drift) must scan all of them,
    #: not just the resuming attempt's (old checkpoints lack the field
    #: and default to empty — the resuming attempt appends its own)
    attempt_timestamps: list = field(default_factory=list)

    def record_failure(self, param: object, error: str) -> None:
        self.failed_parameters.append({"parameter": param, "error": error})
        # keep the last MAX_FAILED_PARAMS only (executor.py keeps 100)
        if len(self.failed_parameters) > MAX_FAILED_PARAMS:
            self.failed_parameters = self.failed_parameters[-MAX_FAILED_PARAMS:]


class CheckpointStore:
    """Atomic persistence of one Checkpoint per run — the `run_context`
    JSONB analog. Cadence-gated save (every 60 s / 100 params)."""

    def __init__(self, path: str, save_interval_s: float = 60.0, save_every_params: int = 100):
        self.path = path
        self.save_interval_s = save_interval_s
        self.save_every_params = save_every_params
        # clock starts at construction (run start), matching the reference's
        # cadence: the first interval-triggered save happens save_interval_s
        # into the run, not immediately
        self._last_save = time.monotonic()
        self._last_param_index = 0

    def load(self, run_id: str) -> Checkpoint | None:
        if not os.path.exists(self.path):
            return None
        with open(self.path) as f:
            data = json.load(f)
        raw = data.get(run_id)
        return Checkpoint(**raw) if raw else None

    def save(self, run_id: str, cp: Checkpoint) -> None:
        data = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                data = json.load(f)
        data[run_id] = asdict(cp)
        atomic_write_text(self.path, json.dumps(data, indent=1))
        self._last_save = time.monotonic()
        self._last_param_index = cp.parameter_index

    def maybe_save(self, run_id: str, cp: Checkpoint) -> bool:
        """Checkpoint cadence: every save_interval_s seconds or every
        save_every_params parameters (executor.py:629-632,1107)."""
        due = (
            time.monotonic() - self._last_save >= self.save_interval_s
            or cp.parameter_index - self._last_param_index >= self.save_every_params
        )
        if due:
            self.save(run_id, cp)
        return due


class Deadline:
    """I3: cooperative timeout → suspend-with-checkpoint instead of failure
    (ref: src/etl/executor.py:1114-1132)."""

    def __init__(self, timeout_s: float, clock=time.monotonic) -> None:
        self.t0 = clock()
        self.timeout_s = timeout_s
        self.clock = clock

    def exceeded(self) -> bool:
        return self.clock() - self.t0 >= self.timeout_s


def changed_since(dim: DataFrame, watermark: str | None) -> DataFrame:
    """I5: current SCD2 rows whose version started after the last sync
    (ref: create_changed_patients_view.sql:23-39)."""
    out = dim.filter(F.col("is_current"))
    if watermark is not None:
        out = out.filter(F.col("effective_start") > F.lit(watermark).cast("timestamp"))
    return out


def changed_ids_topk(
    dim: DataFrame,
    since: str | None,
    limit: int,
    tiebreak_cols: tuple[str, ...] = (),
    ts_col: str = "effective_start",
) -> DataFrame:
    """The reference's parameterized changed-ids API,
    ``get_changed_patient_ids(since_timestamp, max_patients)``
    (ref: create_changed_patients_view.sql:76-86): current SCD2 rows newer
    than ``since``, most recent first, capped at ``limit``.

    Spark executes the ORDER BY ... LIMIT as TakeOrderedAndProject — a
    per-partition top-k then a k-row merge on the driver, never a full
    sort, so it holds at 100 TB. ``tiebreak_cols`` make the returned SET
    deterministic when ``ts_col`` ties at the cut line."""
    order = [F.col(ts_col).desc()] + [F.col(c).desc() for c in tiebreak_cols]
    return changed_since(dim, since).orderBy(*order).limit(limit)


@dataclass
class CadencePlan:
    """I6: paired full/changed variants of one pipeline sharing a job_group
    (ref: create_patient_dual_job_pattern.sql:50-277)."""

    job_group: str
    full_job: str
    changed_job: str

    def predicate_for(self, variant: str, ts_col: str, store: WatermarkStore) -> Column:
        if variant == "full":
            return F.lit(True)
        wm = store.get(self.job_group)
        if wm is None:
            return F.lit(True)
        return F.col(ts_col) > F.lit(wm).cast("timestamp")
