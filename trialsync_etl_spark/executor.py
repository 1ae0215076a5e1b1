"""Job executor: the reference's §3.1 extract-and-load lifecycle end-to-end.

Composes the engine layers exactly as JobExecutor.execute_job does
(ref: src/etl/executor.py:145-1234): config resolution → run creation →
optional incremental $filter → paginated fetch → lineage stamping →
last-wins keyed upsert into Bronze → periodic checkpoint → timeout-suspend
with resume → watermark advance → run finalization + metrics.

Driver/executor split: page fetch is driver-side (rate-limited HTTP, like
the reference), everything from JSON batch onward is distributed. For
parameterized fan-out jobs use sources.odata.fanout_fetch (executor-side)
with the partial-failure semantics of I4.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trialsync_etl_spark.bronze import (
    DryRunSink,
    keyed_upsert,
    stamp_lineage,
    with_ingest_seq,
)
from trialsync_etl_spark.jobs import JobSpec
from trialsync_etl_spark.metrics import MetricsRegistry
from trialsync_etl_spark.runs import RunLog, RunRecord
from trialsync_etl_spark.sources.odata import ODataParams, ODataSource
from trialsync_etl_spark.streaming.incremental import (
    MAX_FAILED_PARAMS,
    Checkpoint,
    CheckpointStore,
    Deadline,
    WatermarkStore,
    odata_incremental_clause,
)


class JobNotFoundError(Exception):
    pass


class JobInactiveError(Exception):
    pass


@dataclass
class ExecutionOutcome:
    run: RunRecord
    records_loaded: int
    pages: int
    resumed_from_skip: int
    status: str  # success | suspended | failed


class JobExecutor:
    """One executor instance per engine deployment; `execute` is re-entrant
    per job and resumable across invocations (the reference's retry-with-
    resume, src/web/api.py POST /jobs/{id}/retry)."""

    def __init__(
        self,
        spark: SparkSession,
        source: ODataSource,
        bronze_root: str,
        run_log: RunLog,
        watermarks: WatermarkStore,
        checkpoints: CheckpointStore,
        metrics: MetricsRegistry | None = None,
        batch_pages: int = 1,
        dry_run: bool = False,
        drift_check: bool = False,
        drift_sample: float | None = 0.25,
    ) -> None:
        self.spark = spark
        self.source = source
        self.bronze_root = bronze_root
        self.run_log = run_log
        self.watermarks = watermarks
        self.checkpoints = checkpoints
        self.metrics = metrics or MetricsRegistry()
        self.batch_pages = batch_pages
        self.dry_run = dry_run
        self.drift_check = drift_check
        self.drift_sample = drift_sample

    def _post_load_drift(
        self,
        spec: JobSpec,
        run_started_at: str | None = None,
        attempt_timestamps: list[str] | None = None,
    ) -> dict | None:
        """Opt-in post-load contract check: when the job's staging table
        maps to a pinned entity, diff the landed payload keys against the
        schema (deterministic sample) and return {"unknown_keys": {...}}
        for the run record. Unknown keys mean the upstream API is sending
        fields from_json silently drops — a drift signal, never a failure
        (the load already succeeded; operators decide what to do).

        The scan is restricted to THIS run's rows via the stamped
        ``loaded_at`` lineage timestamp (every row of a run carries its
        attempt's start instant as a literal — an IN predicate parquet
        footer stats prune to the files the run's attempts wrote) —
        without it every incremental pull would pay a full
        historical-table payload scan for a diagnostic. A resumed run
        passes ALL its attempts' stamps (checkpointed
        ``attempt_timestamps``): the suspended attempt's flushes carry
        the original stamp, and excluding them would silently skip drift
        in the first attempt's payload."""
        from trialsync_etl_spark.entities import entity_for_table

        entity = entity_for_table(spec.target_table)
        if entity is None:
            return None
        path = self._bronze_path(spec)
        if not os.path.exists(path):
            return None
        from trialsync_etl_spark.operators.drift import schema_drift_report

        stamps = list(attempt_timestamps or [])
        if run_started_at is not None and run_started_at not in stamps:
            stamps.append(run_started_at)
        landed = self.spark.read.parquet(path)
        if stamps and "loaded_at" in landed.columns:
            landed = landed.filter(
                F.col("loaded_at").isin(
                    [F.lit(s).cast("timestamp") for s in stamps]
                )
            )
        report = schema_drift_report(
            landed, entity,
            sample_fraction=self.drift_sample,
        )
        unknown = {
            r["key"]: r["n_rows"]
            for r in report.filter(report.status == "unknown").collect()
        }
        return {"entity": entity, "unknown_keys": unknown}

    # -- config resolution (executor.py:145-212) ----------------------------
    @staticmethod
    def resolve(catalog: list[JobSpec] | tuple[JobSpec, ...], job_id: int) -> JobSpec:
        match = [j for j in catalog if j.job_id == job_id]
        if not match:
            raise JobNotFoundError(f"job {job_id} not found")
        if not match[0].active:
            raise JobInactiveError(f"job {job_id} is inactive")
        return match[0]

    @classmethod
    def for_instance(
        cls,
        spark: SparkSession,
        spec: JobSpec,
        credential_store,
        transport_factory,
        **kw,
    ) -> "JobExecutor":
        """C10: build an executor wired to the job's source instance —
        credentials resolved by spec.source_instance_id drive base_url and
        the rate limit (ref: src/etl/executor.py:888-948)."""
        creds = credential_store.get(spec.source_instance_id)
        source = ODataSource(
            transport_factory(creds),
            base_url=creds.base_url,
            rate_limit_rps=creds.rate_limit_rps,
        )
        return cls(spark=spark, source=source, **kw)

    def _bronze_path(self, spec: JobSpec) -> str:
        return os.path.join(self.bronze_root, spec.target_table)

    def _load_existing(self, spec: JobSpec) -> DataFrame | None:
        path = self._bronze_path(spec)
        if os.path.exists(path):
            return self.spark.read.parquet(path)
        return None

    def _params_for(self, spec: JobSpec) -> ODataParams:
        """I1: `modifiedDate gt <last successful watermark>` when the job is
        incremental and has run before (executor.py:1077-1094)."""
        if spec.incremental:
            wm = self.watermarks.get(spec.name)
            if wm is not None:
                return ODataParams(filter=odata_incremental_clause(spec.incremental_field, wm))
        return ODataParams()

    def execute(
        self,
        spec: JobSpec,
        timeout_s: float | None = None,
        resume_run_id: str | None = None,
        run_started_at: str = "2024-01-01 00:00:00",
    ) -> ExecutionOutcome:
        """Run (or resume) one job. ``run_started_at`` doubles as the
        deterministic lineage timestamp and the next incremental watermark
        (the reference stores dw_etl_runs.completed_at; a fixed ingest
        timestamp keeps re-runs byte-identical)."""
        rec = self.run_log.create(spec.name)
        deadline = Deadline(timeout_s) if timeout_s is not None else None

        cp = (self.checkpoints.load(resume_run_id) if resume_run_id else None) or Checkpoint()
        resumed_from_skip = cp.skip
        # lineage stamps across attempts: the suspended attempt(s) flushed
        # rows under THEIR run_started_at; this attempt appends its own so
        # post-load diagnostics can scan the whole run, not just the tail
        if run_started_at not in cp.attempt_timestamps:
            cp.attempt_timestamps = [*cp.attempt_timestamps, run_started_at]
        attempt_stamps = list(cp.attempt_timestamps)
        params = self._params_for(spec)

        # Durable progress = records actually flushed to Bronze. Only THIS
        # state may ever be checkpointed: persisting cp itself while pages
        # sit in `pending` would, on a later failure, resume past records
        # that were never written (silent Bronze data loss on the
        # retry-with-resume path).
        flushed = Checkpoint(
            skip=cp.skip,
            page_index=cp.page_index,
            total_records=cp.total_records,
            attempt_timestamps=attempt_stamps,
        )

        pages = 0
        records = 0
        sink = DryRunSink() if self.dry_run else None
        pending: list[str] = []
        try:
            for page in self.source.pages(
                spec.endpoint, params, start_skip=cp.skip, start_page_index=cp.page_index
            ):
                pending.extend(json.dumps(item, sort_keys=True) for item in page.items)
                pages += 1
                cp.skip = page.skip + len(page.items)
                cp.page_index = page.page_index + 1
                cp.total_records += len(page.items)

                if len(pending) >= self.batch_pages * self.source.page_size:
                    records += self._flush(spec, pending, run_started_at, cp.page_index, sink)
                    pending = []
                    flushed = Checkpoint(
                        skip=cp.skip,
                        page_index=cp.page_index,
                        total_records=cp.total_records,
                        attempt_timestamps=attempt_stamps,
                    )
                # I2: cadence-gated checkpoint (60 s / 100 params analog);
                # saves flushed-only progress, never buffered pages
                self.checkpoints.maybe_save(rec.run_id, flushed)

                # I3: timeout → flush what we have, suspend resumable
                if deadline is not None and deadline.exceeded():
                    records += self._flush(spec, pending, run_started_at, cp.page_index, sink)
                    self.checkpoints.save(rec.run_id, cp)
                    self.run_log.update(
                        rec,
                        "suspended",
                        records_loaded=records,
                        run_context={"checkpoint": cp.__dict__},
                    )
                    self.metrics.record_job(spec.name, "suspended", 0.0, records)
                    return ExecutionOutcome(rec, records, pages, resumed_from_skip, "suspended")

            records += self._flush(spec, pending, run_started_at, cp.page_index, sink)
            self.checkpoints.save(rec.run_id, cp)
            if spec.incremental:
                self.watermarks.advance(spec.name, run_started_at)
            drift = None
            if self.drift_check:
                # diagnostics must never fail a load that already
                # succeeded (checkpoint saved, watermark advanced — a
                # 'failed' here would trigger a retry against moved state)
                try:
                    drift = self._post_load_drift(
                        spec,
                        run_started_at=run_started_at,
                        attempt_timestamps=attempt_stamps,
                    )
                except Exception as drift_exc:  # noqa: BLE001
                    drift = {"error": str(drift_exc)[:200]}
            if drift is not None:
                self.run_log.update(
                    rec, "success", records_loaded=records,
                    run_context={"drift": drift},
                )
            else:
                self.run_log.update(rec, "success", records_loaded=records)
            self.metrics.record_job(spec.name, "success", 0.0, records)
            return ExecutionOutcome(rec, records, pages, resumed_from_skip, "success")
        except Exception as exc:
            self.run_log.update(rec, "failed", records_loaded=records, error=str(exc))
            self.metrics.record_job(spec.name, "failed", 0.0, records)
            raise

    def execute_parameterized(
        self,
        spec: JobSpec,
        fetch_one,
        run_started_at: str = "2024-01-01 00:00:00",
    ) -> ExecutionOutcome:
        """§3.1 step 4 for parameterized jobs (P6/J7/I4): distinct parent
        keys from the parent Bronze table → per-key fetch ON EXECUTORS via
        fanout_fetch → parent-key injection → keyed Bronze upsert. Per-key
        failures are collected (the run fails only if EVERY key failed —
        src/etl/executor.py:677-748).

        ``fetch_one(key) -> list[json_str]`` must be picklable (it runs in
        executors); build it from the job's credentials, not a live client.
        """
        from trialsync_etl_spark.sources.odata import fanout_fetch

        rec = self.run_log.create(spec.name)
        fetched = None
        try:
            parent = self.spark.read.parquet(
                os.path.join(self.bronze_root, spec.parent_table)
            )
            parent_keys = parent.select(
                F.get_json_object("data", f"$.{spec.parent_key}").cast("long").alias("k")
            )
            fetched = fanout_fetch(
                self.spark, parent_keys, fetch_one, key_col="k"
            ).persist()
            failures = fetched.filter(F.col("_error").isNotNull())
            ok = fetched.filter(F.col("_error").isNull())
            n_failed = failures.select("_parentId").distinct().count()
            n_keys = parent_keys.distinct().count()

            if n_keys > 0 and n_failed == n_keys:
                errs = [r["_error"] for r in failures.limit(3).collect()]
                raise RuntimeError(f"all {n_keys} parameters failed; first errors: {errs}")

            # child rows stay distributed: P7 parent-key column + upsert
            records = ok.count()
            self._upsert_frame(
                spec,
                ok.select("data", F.col("_parentId").alias("_parent_id")),
                run_started_at,
                batch_seq=0,
                sink=None,
            )
            # I4: persist the failed-parameter audit list (key + error),
            # capped like the reference's run_context (executor.py:677-748),
            # so failed keys can be inspected and selectively retried.
            # Ordered by key before the cap: limit() without an order would
            # persist an arbitrary partition-dependent subset, so two
            # identical reruns could audit different keys.
            cp = Checkpoint()
            if n_failed:
                for r in (
                    failures.select("_parentId", "_error")
                    .orderBy("_parentId")
                    .limit(MAX_FAILED_PARAMS)
                    .collect()
                ):
                    cp.record_failure(r["_parentId"], r["_error"])
            ctx = {
                "failed_parameters": cp.failed_parameters,
                "n_failed_parameters": n_failed,
                "total_parameters": n_keys,
            }
            self.run_log.update(rec, "success", records_loaded=records,
                                records_failed=n_failed, run_context=ctx)
            self.metrics.record_job(spec.name, "success", 0.0, records)
            return ExecutionOutcome(rec, records, 0, 0, "success")
        except Exception as exc:
            self.run_log.update(rec, "failed", error=str(exc))
            self.metrics.record_job(spec.name, "failed", 0.0)
            raise
        finally:
            # on every exit: a cached frame would pin the fetched rows in
            # the session cache for the life of the application
            if fetched is not None:
                fetched.unpersist()

    def _flush(
        self,
        spec: JobSpec,
        json_rows: list[str],
        loaded_at: str,
        batch_seq: int,
        sink: DryRunSink | None,
    ) -> int:
        """One Bronze upsert batch: JSON rows → lineage envelope → last-wins
        keyed upsert on (source_instance_id, data->>'id') — the reference's
        ON CONFLICT target (loader.py:357-376). Returns the records loaded
        from this batch (the run's records_loaded accounting).

        ``batch_seq`` is the checkpoint page index — monotonic within a run
        AND across resumes, so last-wins ordering survives suspension."""
        if not json_rows:
            return 0
        df = self.spark.createDataFrame([(s,) for s in json_rows], schema="data string")
        self._upsert_frame(spec, df, loaded_at, batch_seq, sink)
        return len(json_rows)

    def _upsert_frame(self, spec: JobSpec, df, loaded_at: str, batch_seq: int, sink) -> None:
        df = stamp_lineage(df, spec.job_id, 0, loaded_at=loaded_at).withColumn(
            "source_instance_id", F.lit(spec.source_instance_id)
        ).withColumn("source_id", F.get_json_object("data", "$.id"))
        df = with_ingest_seq(df, batch_seq=batch_seq)

        if sink is not None:  # S11: dry run counts, never writes
            sink.write(df)
            return

        from trialsync_etl_spark.storage import swap_publish

        path = self._bronze_path(spec)
        existing = self._load_existing(spec)
        merged = keyed_upsert(existing, df, key_cols=["source_instance_id", "source_id"])
        swap_publish(merged, path)
