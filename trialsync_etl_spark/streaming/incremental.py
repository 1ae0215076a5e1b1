"""Incremental (CDC-pull) layer: watermarks, checkpoints, dual cadence.

Maps the reference's incremental-load machinery (SURVEY.md §2.9) onto
Spark concepts:

- I1 watermark filtering: `col(ts) > last_watermark` — a pushed-down scan
  predicate (the reference's `$filter=modifiedDate gt <ts>`). The
  incremental transforms run it through :func:`run_incremental`, which
  answers an idle poll from the watermark store and a listing of the
  source directory, with no Spark job; only a changed listing reads the
  slice.
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

import hashlib
import json
import os
import time
from collections.abc import Callable
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trialsync_etl_spark.catalog import load_table_and_since, table_path
from trialsync_etl_spark.storage import atomic_write_json, file_lock

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
#: WatermarkStore param under which the source listing fingerprint the
#: job last consumed rides along with its watermark (see run_incremental)
FINGERPRINT_PARAM = "__listing"


def boundary_stats(df: DataFrame, ts_col: str) -> tuple[str | None, int]:
    """(max ts as string, row count AT that max) of an incremental slice
    in one query — a groupBy on the (small) slice, TakeOrdered(1); under
    AQE that is two jobs (the shuffle map stage, then the result). ISO
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


def _later(cur: str | None, candidate: str) -> str:
    return candidate if cur is None or candidate > cur else cur


def advance_boundary(
    store: "WatermarkStore",
    job: str,
    mx: str,
    n_at_mx: int,
    fingerprint: str | None = None,
) -> None:
    """Record the watermark (monotonic), its boundary row count and the
    source listing fingerprint the refresh consumed, in ONE locked write:
    a crash leaves all three as they were or all three new. Without a
    fingerprint the recorded one is dropped, so the next poll reads."""

    def commit(data: dict) -> None:
        key = store._key(job)
        data[key] = _later(data.get(key), mx)
        data[store._key(job, BOUNDARY_PARAM)] = str(n_at_mx)
        if fingerprint is None:
            data.pop(store._key(job, FINGERPRINT_PARAM), None)
        else:
            data[store._key(job, FINGERPRINT_PARAM)] = fingerprint

    store.update(commit)


def _visible(name: str) -> bool:
    """Spark's listing rule for a file source: names starting with ``.``
    or ``_`` (``.crc``, ``_SUCCESS``, ``_temporary``) are skipped, except
    ``key=value`` partition dirs; so are in-flight ``._COPYING_`` files."""
    if name.startswith(".") or name.endswith("._COPYING_"):
        return False
    return not name.startswith("_") or "=" in name


def source_fingerprint(path: str) -> str:
    """Digest of what a ``spark.read.parquet(path)`` would read: the
    resolved root, then the relative name, size and ``mtime_ns`` of every
    visible file under it (see :func:`_visible`). Driver-side ``stat``
    calls only — no Spark job. An appended part file or a file rewritten
    in place changes it; Spark's bookkeeping files do not. A missing path
    digests to its root alone, which no successful read ever recorded."""
    root = os.path.realpath(path)
    entries = []
    if os.path.isfile(root):
        st = os.stat(root)
        entries.append(("", st.st_size, st.st_mtime_ns))
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if _visible(x)]
        for f in files:
            if not _visible(f):
                continue
            full = os.path.join(d, f)
            try:
                st = os.stat(full)
            except FileNotFoundError:  # removed mid-listing: not readable
                continue
            entries.append((os.path.relpath(full, root), st.st_size, st.st_mtime_ns))
    h = hashlib.sha256(root.encode())
    for rel, size, mtime_ns in sorted(entries):
        h.update(f"\0{rel}\0{size}\0{mtime_ns}".encode())
    return h.hexdigest()


def run_incremental(
    spark: SparkSession,
    store: "WatermarkStore",
    job: str,
    sf_dir: str,
    table: str,
    ts_col: str,
    refresh: Callable[[DataFrame, DataFrame], int],
) -> int:
    """The one I1 cadence protocol of the incremental transforms:
    fingerprint → inclusive slice → boundary → refresh → commit.

    1. List the source table (:func:`source_fingerprint`). With a stored
       watermark and the same listing as the last commit, nothing can
       have changed: return 0 without a Spark job (the idle poll).
    2. Otherwise open the table ONCE and derive both the full table and
       the slice at or after the watermark (``inclusive``: a row landing
       exactly at the stored watermark must still be seen; the refresh
       is idempotent for re-seen boundary rows).
    3. :func:`boundary_stats` + :func:`stale_slice`: a slice that holds
       only the rows the last run processed returns 0 (and records the
       listing, so the next idle poll needs no job).
    4. ``refresh(new, full)`` writes the job's output and returns the
       rows it wrote; then :func:`advance_boundary` commits watermark,
       boundary count and the listing in one write. A failed refresh
       commits nothing, so the next poll reads again.

    The listing recorded is the one taken BEFORE the read: a file that
    lands while the job runs is not in it, so the next poll refreshes
    rather than marking that file consumed unread."""
    listing = source_fingerprint(table_path(sf_dir, table))
    wm = store.get(job)
    if wm is not None and listing == store.get(job, param=FINGERPRINT_PARAM):
        return 0
    full, new = load_table_and_since(spark, sf_dir, table, ts_col, wm, inclusive=True)
    mx, n_at_mx = boundary_stats(new, ts_col)
    if stale_slice(store, job, wm, mx, n_at_mx):
        if wm is not None:
            store.set(job, listing, param=FINGERPRINT_PARAM)
        return 0
    n = refresh(new, full)
    advance_boundary(store, job, mx, n_at_mx, fingerprint=listing)
    return n


def _read_json_doc(path: str) -> dict:
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def _update_json_doc(path: str, change: Callable[[dict], object]):
    """Apply ``change`` to the whole JSON document at ``path`` (``{}``
    when missing) under the ``<path>__lock`` flock and write it once with
    ``atomic_write_json``; returns what ``change`` returns. The one
    read-modify-write of the run-state files: without the lock two
    writers that read the same document each drop the other's update."""
    with file_lock(path + "__lock"):
        data = _read_json_doc(path)
        out = change(data)
        atomic_write_json(path, data)
    return out


class WatermarkStore:
    """Per-(job, parameter) high-watermark persistence — the reference reads
    `dw_etl_runs.completed_at` of the last success (executor.py:950-997).
    One JSON file keyed by job/param; every change goes through
    :func:`_update_json_doc`. Swap for a Delta table in prod."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.lock_path = path + "__lock"

    def _load(self) -> dict:
        return _read_json_doc(self.path)

    @staticmethod
    def _key(job: str, param: object = None) -> str:
        return f"{job}\x00{param}" if param is not None else job

    def get(self, job: str, param: object = None) -> str | None:
        return self._load().get(self._key(job, param))

    def update(self, change: Callable[[dict], object]):
        """Apply ``change`` to the whole document under the store lock and
        write it once; returns what ``change`` returns."""
        return _update_json_doc(self.path, change)

    def set(self, job: str, watermark: str, param: object = None) -> None:
        self.update(lambda data: data.__setitem__(self._key(job, param), watermark))

    def advance(self, job: str, candidate: str, param: object = None) -> str:
        """Monotonic update — never move a watermark backwards."""
        key = self._key(job, param)

        def step(data: dict) -> str:
            data[key] = _later(data.get(key), candidate)
            return data[key]

        return self.update(step)


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
    JSONB analog, every run id in one JSON file that each save updates
    through :func:`_update_json_doc`. Cadence-gated save (every 60 s /
    100 params)."""

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
        raw = _read_json_doc(self.path).get(run_id)
        return Checkpoint(**raw) if raw else None

    def save(self, run_id: str, cp: Checkpoint) -> None:
        _update_json_doc(
            self.path, lambda data: data.__setitem__(run_id, asdict(cp))
        )
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
