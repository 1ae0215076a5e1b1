"""Transformation registry — the reference's stored-procedure surface (U7).

The reference executes Bronze→Silver→Gold via named PL/pgSQL procedures
(`load_dw_dim_*`, `load_dw_fact_*`), chained by master procedures that wrap
each call in its own exception handler so one failing dim doesn't abort the
rest (ref: transformation_procedures.txt:3-275,
sql/silver/update_load_all_new_dimensions.sql:12-84, src/web/api.py:949-1065).

Here each "procedure" is a Python function composing DataFrame transforms,
registered by name; `run_chain` reproduces the master-procedure semantics
(per-call wrapping, continue-on-error, per-call timing).
"""

from __future__ import annotations

import time
import traceback
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import SparkSession


@dataclass
class WarehouseContext:
    """Where a transformation reads from and writes to.

    ``sf_dir`` holds the Bronze-equivalent source parquet; ``warehouse_dir``
    receives Silver/Gold tables (one parquet dir per table).
    """

    sf_dir: str
    warehouse_dir: str
    options: dict = field(default_factory=dict)

    def table_path(self, name: str) -> str:
        return f"{self.warehouse_dir}/{name}"


TransformFn = Callable[[SparkSession, WarehouseContext], int]

TRANSFORMS: dict[str, TransformFn] = {}

#: master-procedure chains (update_load_all_new_dimensions.sql:12-84 analog);
#: populated by the registering modules below.
CHAINS: dict[str, list[str]] = {}

#: chains whose members are MUTUALLY INDEPENDENT (each reads only source
#: tables / previously-built layers and writes its own table) and may run
#: overlapped under :func:`run_chain`. Dependency-ordered chains —
#: verify_warehouse reads what the load chains wrote, maintain_warehouse
#: steps share fact_orders and the stores — are NOT listed: parallelizing
#: them silently races cross-step dependencies, so the runner (and the
#: CLI's ``--max-parallel``) refuses rather than relying on help text.
PARALLEL_SAFE_CHAINS: frozenset[str] = frozenset(
    {"load_all_new_dimensions", "load_all_new_facts", "refresh_gold_views"}
)


def transform(name: str, chain: str | None = None) -> Callable[[TransformFn], TransformFn]:
    """Register a named transformation (a stored-procedure analog). The
    function returns the number of rows written."""

    def deco(fn: TransformFn) -> TransformFn:
        if name in TRANSFORMS:
            raise ValueError(f"duplicate transform: {name}")
        TRANSFORMS[name] = fn
        if chain is not None:
            CHAINS.setdefault(chain, []).append(name)
        return fn

    return deco


@dataclass
class TransformResult:
    name: str
    status: str  # success | failed
    rows: int = 0
    duration_s: float = 0.0
    error: str | None = None


def run_transform(
    spark: SparkSession, name: str, ctx: WarehouseContext, run_log=None
) -> TransformResult:
    """Execute one registered transformation with timing + error capture
    (the reference's POST /transformations/{name}/execute shape,
    src/web/api.py:981-1065). With ``run_log`` (a :class:`runs.RunLog`),
    each execution is tracked as a C5 run record — the dw_etl_runs analog
    the reference writes for procedure executions."""
    # existence check BEFORE creating a run record: a typo'd name must not
    # pollute the run log with phantom job rows (the dw_etl_runs analog
    # only ever sees real procedures)
    if name not in TRANSFORMS:
        return TransformResult(
            name=name, status="failed", error=f"unknown transform: {name}"
        )
    rec = run_log.create(name) if run_log is not None else None
    t0 = time.monotonic()
    try:
        rows = TRANSFORMS[name](spark, ctx)
        res = TransformResult(
            name=name, status="success", rows=rows, duration_s=time.monotonic() - t0
        )
    except Exception:
        res = TransformResult(
            name=name,
            status="failed",
            duration_s=time.monotonic() - t0,
            error=traceback.format_exc(limit=5),
        )
    if rec is not None:
        if res.status == "success":
            run_log.update(rec, "success", records_loaded=res.rows)
        else:
            run_log.update(rec, "failed", error=res.error)
    return res


#: worker-pool width for overlapped chain execution. A handful of jobs in
#: flight is enough to back-fill each job's straggler tail without the jobs
#: fighting for executors (guide §2.6); deliberately NOT derived from the
#: core count — the same width is right on local[8] and a 1000-executor
#: cluster because it bounds concurrent JOBS, not tasks.
DEFAULT_CHAIN_PARALLEL = 4


def run_chain(
    spark: SparkSession,
    names: Sequence[str] | str,
    ctx: WarehouseContext,
    run_log=None,
    max_parallel: int | None = None,
) -> list[TransformResult]:
    """Master-procedure semantics: run a chain with per-call wrapping so
    later members still run after a failure
    (update_load_all_new_dimensions.sql:12-84).

    The reference executes its 2AM master chains serially — one cursor,
    one stored procedure at a time. On Spark each transform is just a
    job: submitted from worker threads, the scheduler interleaves their
    stages across the executor pool (back-filling one member's straggler
    tail with the next member's tasks), so chain wall time approaches the
    longest member instead of the sum while per-member shuffle/broadcast
    shapes are untouched. The API contract is the same either way:
    results return in chain order with per-member timing, and a failure
    in one member never stops the others.

    ``max_parallel`` is the worker-pool width; 1 runs the members in
    order on the calling thread. ``None`` picks the policy:
    :data:`DEFAULT_CHAIN_PARALLEL` for a chain named in
    :data:`PARALLEL_SAFE_CHAINS` — whose members are mutually independent
    by construction — and in-order for everything else
    (verify_warehouse reads what the load chains wrote; maintenance
    steps share fact_orders). An explicit width above 1 on any other
    NAMED chain raises instead of silently racing its cross-step
    dependencies; an explicit member LIST is the caller's to vouch for.
    """
    if isinstance(names, str):
        safe = names in PARALLEL_SAFE_CHAINS
        if names in CHAINS and not safe and (max_parallel or 1) > 1:
            raise ValueError(
                f"chain {names!r} has cross-step dependencies and is not "
                "parallel-safe; run it sequentially or pass an explicit "
                "independent subset of its members"
            )
        if max_parallel is None and safe:
            max_parallel = DEFAULT_CHAIN_PARALLEL
        names = CHAINS.get(names, [])
    if (max_parallel or 1) > 1:
        return _run_overlapped(spark, names, ctx, run_log, max_parallel)
    return [run_transform(spark, n, ctx, run_log=run_log) for n in names]


def _run_overlapped(
    spark: SparkSession,
    names: Sequence[str],
    ctx: WarehouseContext,
    run_log,
    max_parallel: int,
) -> list[TransformResult]:
    """The overlapped-execution body of :func:`run_chain`."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from trialsync_etl_spark.cache import release_persisted

    names = list(names)

    if run_log is not None:
        # RunLog appends one buffered write per record; concurrent
        # appends could interleave a large (traceback-carrying) record
        # mid-line. Serialize just the log calls, not the transforms.
        lock = threading.Lock()
        inner = run_log

        class _LockedLog:
            def create(self, *a, **k):
                with lock:
                    return inner.create(*a, **k)

            def update(self, *a, **k):
                with lock:
                    return inner.update(*a, **k)

        run_log = _LockedLog()

    def _one(name: str) -> TransformResult:
        try:
            return run_transform(spark, name, ctx, run_log=run_log)
        finally:
            # operators invoked by a transform may track_persist on THIS
            # worker thread; its tracker never sees another build, so the
            # release must happen here or the blocks leak for the session
            release_persisted()

    with ThreadPoolExecutor(max_workers=max_parallel) as pool:
        return list(pool.map(_one, names))


def load_all() -> None:
    """Import registering modules (mirrors plans.registry.load_all)."""
    from trialsync_etl_spark.transforms import silver  # noqa: F401
    from trialsync_etl_spark import gold  # noqa: F401
    from trialsync_etl_spark.transforms import quality  # noqa: F401
    from trialsync_etl_spark.transforms import maintenance  # noqa: F401
