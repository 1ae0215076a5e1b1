"""Structured Streaming pipeline (SURVEY.md §2.9 I1–I3 as true streams).

The reference's incremental loop — filter source by watermark, checkpoint
progress, resume after timeout — is exactly Structured Streaming's model:
source offsets ARE the watermark, `checkpointLocation` IS run_context, and
`Trigger.AvailableNow` IS timeout→suspend→resume (each invocation drains
what's available and stops, resuming from the checkpoint next time).

The module-level helpers are the file-landing-zone stream (the shape a
REST ingestor lands pages into), the availableNow drain and watermarked
windowed aggregation for the snapshot fact.

The foreachBatch sinks are the six ingest gates the benchmarks run
(quality, near-dup, substring, semantic-dup, decontamination and
perplexity band). Each is the streaming cadence of an operator whose
batch path stays live; an operator with no ingest gate (SCD2, export,
the sketch and count-min rollups, media near-dup, the curation funnel)
has only its batch cadence. Every sink subclasses one skeleton,
`_GateSink`, which owns the loop:

- `attach(stream_df, checkpoint_dir)` loads the sink's recovery state
  from the checkpoint dir (`_restore`: the stream-instance tag named by
  the class-level `_marker`, plus any sink-specific state) and drains
  what's available through the INSTANCE's `process_batch` attribute, so
  a caller may wrap `process_batch` per instance.
- `process_batch(batch_df, batch_id)` pins the micro-batch once
  (`_pin_batch`: one parse, the row count riding the pin job), returns
  on an empty batch, refuses to run before `attach` when the sink needs
  a stream tag, calls the subclass's gate hook
  `_gate(batch_df, batch_id, n_rows)`, and releases the thread's
  tracked persists in a `finally` (the stream thread never sees another
  build, cache.py).

A subclass supplies its constructor, its marker name and `_gate`.

Replay contract: after a crash Structured Streaming re-delivers the last
uncommitted batch id, and every sink converges on that replay. Landed
output overwrites `root/batch=<id>` wholesale (`_land`); store appends
are tagged `<stream-instance-uuid>-<batch_id>` (`_batch_tag`), the uuid
persisted in the checkpoint dir (`_stream_instance_tag`), so a replay
rewrites or excludes its own earlier attempt while a wiped checkpoint or
a second stream on the same store never collides with it.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

from trialsync_etl_spark.cache import release_persisted
from trialsync_etl_spark.storage import atomic_write_text


def read_landing_stream(
    spark: SparkSession,
    landing_dir: str,
    schema: T.StructType,
    fmt: str = "json",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The Bronze landing-zone stream: the ingestor drops page files into
    `landing_dir`; the stream picks up exactly-once per file (I1's
    incremental pull with the offset log as the watermark)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.format(fmt).load(landing_dir)


def run_available_now(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    fmt: str = "parquet",
) -> None:
    """I2+I3: drain everything currently available, then stop. Re-invoking
    resumes from the checkpoint — the reference's suspend/resume loop
    (src/etl/executor.py:804-836) with Spark owning the bookkeeping."""
    _drain(
        stream_df.writeStream.format(fmt).option("path", out_dir),
        checkpoint_dir,
    )


def _drain(writer: DataStreamWriter, checkpoint_dir: str) -> None:
    """Start ``writer`` as an availableNow query checkpointed at
    ``checkpoint_dir`` and wait for it: everything currently available
    is processed, then the query stops."""
    (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def windowed_event_counts(
    stream_df: DataFrame,
    ts_col: str = "ts",
    window_duration: str = "1 hour",
    watermark_delay: str = "1 day",
    group_cols: Sequence[str] = ("event_type",),
) -> DataFrame:
    """A9's snapshot fact as a streaming tumbling-window aggregate with
    late-data tolerance: events later than `watermark_delay` are dropped,
    everything else lands in its event-time window regardless of arrival
    order."""
    return (
        stream_df.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(F.col(ts_col), window_duration), *group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *group_cols,
            "n_events",
            "total_value",
        )
    )


def run_windowed_to_parquet(
    windowed: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """Append-mode windowed write: a window is emitted once its watermark
    passes — the append-only snapshot-fact stream."""
    _drain(
        windowed.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append"),
        checkpoint_dir,
    )


def _pin_batch(batch_df: DataFrame) -> tuple[DataFrame, int]:
    """Parse the micro-batch source exactly ONCE: localCheckpoint the
    batch with the row count riding the pin job as an ``Observation`` —
    the count doubles as the emptiness probe, so the old
    ``batch_df.isEmpty()`` pre-job (which parsed the landing files a
    first time) and every later re-parse by a second consumer (signing,
    the survivors join, the landed write) read the pinned blocks
    instead. Returns ``(pinned_df, n_rows)``; callers skip the batch on
    ``n_rows == 0``. The SemanticDupStreamSink measured this re-parse
    as a dominant slice of the small-batch floor; every sink now pins
    this way (``_GateSink.process_batch``), and the count reaches each
    gate hook (the semantic-dup gate sizes its shuffle width with it)."""
    from pyspark.sql import Observation

    obs = Observation()
    pinned = batch_df.observe(
        obs, F.count(F.lit(1)).alias("n")
    ).localCheckpoint(eager=True)
    return pinned, int(obs.get["n"])


def _stream_instance_tag(checkpoint_dir: str, marker_name: str) -> str:
    """Stream-instance uuid persisted in the checkpoint dir: reused
    across crash-restarts (intact checkpoint → the same store tags, so
    replay exclusion / partition overwrite converges), fresh after a
    checkpoint wipe or for a new stream (batch numbering restarts at 0,
    so a reused tag would collide with another stream's batch ids in a
    shared store)."""
    import uuid

    os.makedirs(checkpoint_dir, exist_ok=True)
    marker = os.path.join(checkpoint_dir, marker_name)
    try:
        with open(marker, encoding="utf-8") as fh:
            tag = fh.read().strip()
        if tag:
            return tag
    except FileNotFoundError:
        pass
    tag = uuid.uuid4().hex
    atomic_write_text(marker, tag)
    return tag


def _land(df: DataFrame, root: str, batch_id: int) -> None:
    """Land a micro-batch's output at ``root/batch=<id>``, overwriting
    the dir wholesale: a re-delivered batch id rewrites its own earlier
    attempt instead of appending duplicates."""
    df.write.mode("overwrite").parquet(os.path.join(root, f"batch={batch_id}"))


class _GateSink:
    """The foreachBatch skeleton every sink shares (see the module
    docstring): ``attach`` restores the recovery state and drains the
    stream through ``self.process_batch``; ``process_batch`` pins the
    batch, skips an empty one, checks the stream tag, runs ``_gate`` and
    releases the thread's tracked persists."""

    #: checkpoint-dir file holding the stream-instance uuid that tags the
    #: sink's store appends; None for a sink without a stream tag
    _marker: str | None = None
    _stream_tag: str | None = None

    def attach(self, stream_df: DataFrame, checkpoint_dir: str) -> None:
        """Restore the recovery state, then drain what's available
        (availableNow), resuming from the checkpoint on the next call."""
        self._restore(checkpoint_dir)
        _drain(
            stream_df.writeStream.foreachBatch(self.process_batch),
            checkpoint_dir,
        )

    def _restore(self, checkpoint_dir: str) -> None:
        """Load the state a restart must reuse from the checkpoint dir."""
        if self._marker is not None:
            self._stream_tag = _stream_instance_tag(checkpoint_dir, self._marker)

    def _batch_tag(self, batch_id: int) -> str:
        """The store-append tag of one micro-batch of this stream."""
        return f"{self._stream_tag}-{batch_id}"

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        try:
            batch_df, n_rows = _pin_batch(batch_df)
            if n_rows == 0:
                return
            if self._marker is not None and self._stream_tag is None:
                raise RuntimeError(
                    f"{type(self).__name__}.process_batch before attach(): "
                    "the stream tag comes from the checkpoint dir"
                )
            self._gate(batch_df, batch_id, n_rows)
        finally:
            release_persisted()

    def _gate(self, batch_df: DataFrame, batch_id: int, n_rows: int) -> None:
        """One pinned, non-empty micro-batch of ``n_rows`` rows."""
        raise NotImplementedError


class QualityGateStreamSink(_GateSink):
    """Streaming cadence of the post-load DQ suite (operators/quality.py):
    each micro-batch runs the DECLARED check list — the same single
    aggregate pass the warehouse chain uses — before landing. Green
    batches append to ``out_dir``; a batch with any red check is diverted
    wholesale to ``quarantine_dir`` with its report, never half-landed
    (batch-level gating: aggregate checks like unique/foreign_key have no
    row-level verdict, and a red batch is an operational event — the
    row-level dead-letter path for malformed payloads is
    `bronze.parse_with_quarantine`).

    Replay-safe: every landing writes its own ``batch=<id>`` directory
    wholesale (`_land`), so a re-delivered batch id
    converges instead of duplicating. Per-batch reports land under
    ``report_dir/batch=<id>`` — the streaming twin of the warehouse
    ``dq_report`` table.
    """

    def __init__(
        self,
        out_dir: str,
        checks: list,
        quarantine_dir: str,
        report_dir: str | None = None,
    ) -> None:
        self.out_dir = out_dir
        self.checks = list(checks)
        self.quarantine_dir = quarantine_dir
        self.report_dir = report_dir

    def _gate(self, batch_df: DataFrame, batch_id: int, n_rows: int) -> None:
        from trialsync_etl_spark.operators.quality import check_table

        report = check_table(batch_df, self.checks)
        verdicts = report.collect()  # one tiny row per check
        passed = all(r["passed"] for r in verdicts)
        target = self.out_dir if passed else self.quarantine_dir
        _land(batch_df, target, batch_id)
        if self.report_dir is not None:
            _land(
                report.withColumn("batch_id", F.lit(batch_id))
                .withColumn("landed", F.lit(passed)),
                self.report_dir,
                batch_id,
            )


class NearDupStreamSink(_GateSink):
    """Streaming near-duplicate gate against the persisted MinHash
    signature store (operators/dedup_store.py): each micro-batch probes
    the store's band partitions for history near-dups AND checks within
    the batch, drops every flagged doc (keep-first: `doc_b` is always the
    newer/higher doc of a pair), lands survivors, and appends the batch's
    signatures to the store — so the NEXT batch sees this one as history.
    The batch-mode twin is `incremental_dup_pairs` itself; one shared code
    path for both cadences.

    Replay-convergent: the store append is tagged
    ``<stream-instance-uuid>-<batch_id>``, where the instance uuid is
    persisted INSIDE the checkpoint dir (``__neardup_stream_id``). A
    crash-restart with an intact checkpoint reuses the uuid, so the probe
    excludes the current batch's own earlier crashed attempt; a wiped
    checkpoint (batch numbering restarts at 0) or a second stream sharing
    the store gets a fresh uuid, so its ``<uuid>-0`` never collides with
    another stream's batch 0 — reused tags would silently exclude that
    other batch's genuine history from the probe
    (the hazard dedup_store.py's docstring warns about),
    and survivors + the pair report land in per-batch overwritten subdirs
    — re-running a batch converges instead of duplicating. At 100 TB the
    probe touches only the band partitions the batch's keys hash into
    (partition pruning on the store scan); history is never re-hashed.
    """

    _marker = "__neardup_stream_id"

    def __init__(
        self,
        out_dir: str,
        store_path: str,
        min_est_jaccard: float = 0.5,
        id_col: str = "doc_id",
        text_col: str = "text",
        report_dir: str | None = None,
    ) -> None:
        self.out_dir = out_dir
        self.store_path = store_path
        self.min_est_jaccard = min_est_jaccard
        self.id_col = id_col
        self.text_col = text_col
        self.report_dir = report_dir

    def _gate(self, batch_df: DataFrame, batch_id: int, n_rows: int) -> None:
        from trialsync_etl_spark.operators.dedup_store import incremental_dup_pairs

        pairs = incremental_dup_pairs(
            batch_df.sparkSession,
            batch_df,
            self.store_path,
            self.min_est_jaccard,
            self.id_col,
            self.text_col,
            batch_id=self._batch_tag(batch_id),
        )
        dup_ids = pairs.select(F.col("doc_b").alias(self.id_col)).distinct()
        survivors = batch_df.join(dup_ids, self.id_col, "left_anti")
        _land(survivors, self.out_dir, batch_id)
        if self.report_dir is not None:
            _land(pairs, self.report_dir, batch_id)


class SubstringDedupStreamSink(_GateSink):
    """Streaming exact-substring dedup gate against the persisted
    first-occurrence gram store (operators/substring_store.py): each
    micro-batch is trimmed against history PLUS itself (verbatim blocks
    of ≥ ``min_len`` words lose every copy after the corpus-first, at
    ANY word offset), survivors land in per-batch overwritten subdirs,
    and the batch's new firsts fold into the store so the NEXT batch
    sees it as history. Batch twin: ``substring_dedup_incremental`` +
    ``append_gram_firsts`` — one code path for both cadences.

    Replay-convergent twice over: the store's min-merge semantics make a
    replayed batch's own stored firsts EQUAL its occurrences (equality =
    "this IS the first", never redundant — verdicts identical before and
    after its own fold), and the fold partition is tagged
    ``<stream-instance-uuid>-<batch_id>`` (uuid persisted in the
    checkpoint dir) so a wiped-checkpoint restart cannot overwrite a
    previous instance's partition and silently drop history firsts.
    ``drop_empty`` drops docs trimmed to nothing (pure duplicates) from
    the landed output; they still contribute history."""

    _marker = "__substr_stream_id"

    def __init__(
        self,
        out_dir: str,
        store_path: str,
        k: int = 8,
        min_len: int = 50,
        id_col: str = "doc_id",
        text_col: str = "text",
        hash_fn: str = "md5",
        drop_empty: bool = True,
    ) -> None:
        self.out_dir = out_dir
        self.store_path = store_path
        self.k = k
        self.min_len = min_len
        self.id_col = id_col
        self.text_col = text_col
        self.hash_fn = hash_fn
        self.drop_empty = drop_empty

    def _gate(self, batch_df: DataFrame, batch_id: int, n_rows: int) -> None:
        from trialsync_etl_spark.operators import substring_store as SS

        spark = batch_df.sparkSession
        SS.pin_substring_params(self.store_path, self.k, self.hash_fn)
        trimmed = SS.substring_dedup_incremental(
            spark, batch_df, self.store_path, self.min_len,
            self.id_col, self.text_col, k=self.k, hash_fn=self.hash_fn,
        )
        if self.drop_empty:
            trimmed = trimmed.filter(F.length(F.col(self.text_col)) > 0)
        # non-text columns survive the gate (trim only replaces the text)
        survivors = batch_df.drop(self.text_col).join(trimmed, self.id_col)
        _land(survivors, self.out_dir, batch_id)
        SS.append_gram_firsts(
            batch_df, self.store_path, self._batch_tag(batch_id),
            k=self.k, id_col=self.id_col, text_col=self.text_col,
            hash_fn=self.hash_fn,
        )


class SemanticDupStreamSink(_GateSink):
    """Streaming semantic near-duplicate gate against the persisted ANN
    index (operators/ann_store.py): each micro-batch of embedded docs
    probes the index for history near-dups AND checks within the batch
    (`incremental_semantic_dups` — SemDeDup's pair semantics at ingest
    cadence), drops every flagged vector (history wins; within the batch
    the lower id wins), lands survivors, and appends the batch to the
    index — so the NEXT batch sees this one as history. The embedding
    analog of NearDupStreamSink; the batch-mode twin is
    `operators.similarity.semdedup` over the accumulated corpus. Every
    candidate pair is scored exactly (one scoring path; see
    `incremental_semantic_dups`).

    Replay-convergent: the index append is tagged
    ``<stream-instance-uuid>-<batch_id>`` (uuid persisted in the
    checkpoint dir, ``__semdup_stream_id``), so a crash-restart with an
    intact checkpoint excludes the batch's own earlier partial append
    from the history probe — including the FIRST batch, whose bootstrap
    index build tags its rows the same way. Survivors and the pair
    report land in per-batch overwritten subdirs, so a replayed batch
    converges instead of duplicating. At 100 TB the probe scans only the
    ``n_probe`` cid partitions each batch vector hashes to (partition
    pruning on the lists table); history is never re-embedded or
    re-scored, and duplicate rows a crashed append left behind are
    healed by the nightly `compact_ann_index` maintenance fold.
    """

    _marker = "__semdup_stream_id"

    def __init__(
        self,
        out_dir: str,
        index_path: str,
        threshold: float = 0.95,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_probe: int = 2,
        n_lists: int | None = None,
        report_dir: str | None = None,
    ) -> None:
        self.out_dir = out_dir
        self.index_path = index_path
        self.threshold = threshold
        self.id_col = id_col
        self.vec_col = vec_col
        self.n_probe = n_probe
        self.n_lists = n_lists
        self.report_dir = report_dir

    def _gate(self, batch_df: DataFrame, batch_id: int, n_rows: int) -> None:
        from trialsync_etl_spark.operators.ann_store import (
            incremental_semantic_dups,
        )

        spark = batch_df.sparkSession
        # right-size the gate's shuffle width to the batch: full-CPU
        # width on a tiny batch is hundreds of task launches of pure
        # scheduling (the measured small-batch floor), while a big batch
        # still gets the full spread its quadratic scoring stage needs
        spread = max(4, min(
            spark.sparkContext.defaultParallelism, -(-n_rows // 250)
        ))
        pairs = incremental_semantic_dups(
            spark,
            batch_df,
            self.index_path,
            self.threshold,
            batch_id=self._batch_tag(batch_id),
            id_col=self.id_col,
            vec_col=self.vec_col,
            n_probe=self.n_probe,
            n_lists=self.n_lists,
            spread=spread,
            batch_rows=n_rows,
            # without a report sink the verdicts are consumed exactly
            # once (the survivors anti-join below, within this batch) —
            # lazy is safe and skips one whole query execution per
            # batch; with a report sink they're consumed twice, so pin
            pin=self.report_dir is not None,
        )
        dup_ids = pairs.select(
            F.col("doc_dup").alias(self.id_col)
        ).distinct()
        survivors = batch_df.join(dup_ids, self.id_col, "left_anti")
        _land(survivors, self.out_dir, batch_id)
        if self.report_dir is not None:
            _land(pairs, self.report_dir, batch_id)


class DecontamStreamSink(_GateSink):
    """Streaming benchmark-decontamination gate against the persisted
    shingle store (operators/decontam_store.py): each micro-batch of
    documents probes the stored benchmarks' (broadcast) shingle union,
    drops contaminated docs, and lands survivors — corpus history is
    never re-shingled, and adding a benchmark later is one tiny store
    build, not a corpus rescan. The batch-mode twin is
    ``decontaminate_incremental``; the one-shot operator is
    ``decontam.decontaminate``.

    Replay-convergent by construction: the per-batch verdicts are a pure
    function of (batch, store) and survivors land in per-batch
    OVERWRITTEN subdirs, so a re-delivered micro-batch converges. The
    optional ``report_dir`` lands each batch's full contamination
    profile the same way (audit trail per ingest)."""

    def __init__(
        self,
        out_dir: str,
        store_path: str,
        benchmark_ids: list[str] | None = None,
        min_overlap_frac: float = 0.2,
        id_col: str = "doc_id",
        text_col: str = "text",
        report_dir: str | None = None,
    ) -> None:
        self.out_dir = out_dir
        self.store_path = store_path
        self.benchmark_ids = benchmark_ids
        self.min_overlap_frac = min_overlap_frac
        self.id_col = id_col
        self.text_col = text_col
        self.report_dir = report_dir

    def _gate(self, batch_df: DataFrame, batch_id: int, n_rows: int) -> None:
        from trialsync_etl_spark.operators.decontam_store import (
            contamination_profile_store,
        )

        spark = batch_df.sparkSession
        profile = contamination_profile_store(
            spark, batch_df, self.store_path, self.benchmark_ids,
            min_overlap_frac=self.min_overlap_frac,
            id_col=self.id_col, text_col=self.text_col,
        )
        if self.report_dir is not None:
            profile = profile.localCheckpoint(eager=True)  # two consumers
            _land(profile, self.report_dir, batch_id)
        flagged = profile.filter(F.col("contaminated")).select(
            F.col("doc_id").alias("__flagged_id")
        )
        # NB: flagged.__flagged_id would name-mangle inside the class
        survivors = batch_df.join(
            flagged, batch_df[self.id_col] == flagged["__flagged_id"],
            "left_anti",
        )
        _land(survivors, self.out_dir, batch_id)


class PerplexityBandStreamSink(_GateSink):
    """Streaming statistical-quality gate against the persisted LM store
    (operators/lm_store.py): each micro-batch of documents is scored
    under the STORED model — unigram or interpolated bigram, routed by
    the store's ``order`` pin — and only docs whose perplexity lies in
    [min_ppl, max_ppl] land (drop the boilerplate floor and the
    gibberish ceiling). The model is trained once per reference-corpus
    version, never per batch — the only shape streaming can have, since
    a micro-batch cannot fit its own reference LM. Batch twin:
    ``perplexity_band_store`` / ``curate_corpus(perplexity_store=)``.

    Replay-convergent by construction: verdicts are a pure function of
    (batch, store) and survivors land in per-batch OVERWRITTEN subdirs.
    The optional ``report_dir`` lands each batch's full per-doc score
    table the same way (the audit trail a band decision should leave)."""

    def __init__(
        self,
        out_dir: str,
        store_path: str,
        model_id: str,
        min_ppl: float,
        max_ppl: float,
        lam: float = 0.5,
        id_col: str = "doc_id",
        text_col: str = "text",
        report_dir: str | None = None,
    ) -> None:
        self.out_dir = out_dir
        self.store_path = store_path
        self.model_id = model_id
        self.min_ppl = min_ppl
        self.max_ppl = max_ppl
        self.lam = lam
        self.id_col = id_col
        self.text_col = text_col
        self.report_dir = report_dir

    def _gate(self, batch_df: DataFrame, batch_id: int, n_rows: int) -> None:
        from trialsync_etl_spark.operators.lm_store import (
            score_perplexity_store,
        )

        spark = batch_df.sparkSession
        scored = score_perplexity_store(
            spark, batch_df, self.store_path, self.model_id,
            id_col=self.id_col, text_col=self.text_col, lam=self.lam,
        )
        if self.report_dir is not None:
            scored = scored.localCheckpoint(eager=True)  # two consumers
            _land(scored, self.report_dir, batch_id)
        keep = scored.filter(
            (F.col("perplexity") >= F.lit(float(self.min_ppl)))
            & (F.col("perplexity") <= F.lit(float(self.max_ppl)))
        ).select(F.col("doc_id").alias("__keep_id"))
        survivors = batch_df.join(
            keep, batch_df[self.id_col] == keep["__keep_id"], "semi"
        )
        _land(survivors, self.out_dir, batch_id)
