"""Structured Streaming pipeline (SURVEY.md §2.9 I1–I3 as true streams).

The reference's incremental loop — filter source by watermark, checkpoint
progress, resume after timeout — is exactly Structured Streaming's model:
source offsets ARE the watermark, `checkpointLocation` IS run_context, and
`Trigger.AvailableNow` IS timeout→suspend→resume (each invocation drains
what's available and stops, resuming from the checkpoint next time).

The module-level helpers are the file-landing-zone stream (the shape a
REST ingestor lands pages into), the availableNow drain, watermarked
exact dedup and watermarked windowed aggregation for the snapshot fact.

Every foreachBatch sink subclasses one skeleton, `_GateSink`, which owns
the loop:

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


def dedup_stream(
    stream_df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str = "ts",
    watermark_delay: str = "1 day",
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key, dropping
    re-deliveries that land within `watermark_delay` of each other — the
    at-least-once→exactly-once repair stage in front of a Bronze sink
    (the ingestor retries pages, so re-landed rows are expected, not
    exceptional).

    `dropDuplicatesWithinWatermark` keeps state only until the watermark
    passes a key's first arrival + delay, so state size is bounded by the
    key arrival rate × delay window — unlike a bare `dropDuplicates`,
    whose state grows without bound over a 100 TB stream's lifetime.
    """
    return stream_df.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(
        list(key_cols)
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
    df.write.mode("overwrite").parquet(_batch_dir(root, batch_id))


def _batch_dir(root: str, batch_id: int) -> str:
    return os.path.join(root, f"batch={batch_id}")


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


class Scd2StreamSink(_GateSink):
    """foreachBatch SCD2 maintenance: each micro-batch merges into the dim
    via the same `scd2_merge` the batch path uses — one code path for both
    cadences (I6's dual cadence collapses to trigger choice).

    The dim lives at `dim_path` (parquet, partitioned by is_current); the
    merge rewrite is atomic via write-then-swap.
    """

    def __init__(
        self,
        spark: SparkSession,
        dim_path: str,
        key_cols: Sequence[str],
        tracked_cols: Sequence[str],
        ts_col: str,
        tiebreak_cols: Sequence[str] = (),
    ) -> None:
        self.spark = spark
        self.dim_path = dim_path
        self.key_cols = list(key_cols)
        self.tracked_cols = list(tracked_cols)
        self.ts_col = ts_col
        self.tiebreak_cols = list(tiebreak_cols)

    def _gate(self, batch_df: DataFrame, batch_id: int, n_rows: int) -> None:
        from trialsync_etl_spark.operators.scd2 import scd2_merge
        from trialsync_etl_spark.storage import swap_publish

        dim = None
        if os.path.exists(self.dim_path):
            dim = self.spark.read.parquet(self.dim_path)
        merged = scd2_merge(
            dim,
            batch_df,
            key_cols=self.key_cols,
            tracked_cols=self.tracked_cols,
            ts_col=self.ts_col,
            tiebreak_cols=self.tiebreak_cols,
        )
        swap_publish(merged, self.dim_path)


class CurateStreamSink(_GateSink):
    """Streaming corpus curation: the landing stream of raw documents is
    cross-batch deduplicated (`dedup_stream`, watermark-bounded state),
    then each micro-batch runs the SAME batch operators the offline
    funnel uses — clean, quality/repetition filter, benchmark
    decontamination — via foreachBatch, landing survivors in the
    curated store's per-batch overwritten ``batch=<id>`` subdirs. One
    code path for both cadences: the batch funnel
    (operators/curate.py) and this sink share every stage function.
    Reading ``out_dir`` back (``spark.read.parquet``) therefore yields
    an extra partition column ``batch`` (int); an ``out_dir`` holding
    flat part files from an older run mixes layouts Spark refuses to
    read, so move those files aside before resuming.

    The benchmark is static reference data (tiny): re-read per batch and
    broadcast by the decontamination probe — or, with
    ``benchmark_store``, read from the persisted shingle store so the
    benchmark is never re-shingled per batch (decontam_store.py);
    ``benchmark_ids`` selects a store subset, the same knob batch
    ``curate_corpus`` exposes — the two funnels stay twins.
    ``quality_model`` adds the trained filter stage after the heuristic
    mask, same as the batch funnel (operators/quality_model.py).
    ``substring_store`` adds the batch funnel's exact-substring-dedup
    stage at ingest cadence (store-backed cross-batch state —
    operators/substring_store.py): verbatim ≥ substring_min_len-word
    blocks lose every copy after the corpus-first at any offset, pure
    duplicates drop, and each batch's firsts fold so later batches see
    it as history. ``perplexity_store=(path, model_id)`` +
    ``perplexity_band=(lo, hi)`` adds the batch funnel's perplexity-band
    stage against a PERSISTED unigram LM (operators/lm_store.py) —
    store-backed only: a micro-batch cannot train its own reference
    model, so the one-shot ``perplexity_ref`` arm has no streaming twin.
    ``benchmark_emb_store=`` + ``embeddings_path=`` adds the batch
    funnel's SEMANTIC decontamination stage (the paraphrase gap): the
    stored benchmark embeddings probe each batch's embeddings, read
    from a stream-static side table and matched to the batch's doc ids.
    """

    def __init__(
        self,
        out_dir: str,
        benchmark: DataFrame | None = None,
        min_tokens: int = 5,
        max_top_token_frac: float = 0.6,
        min_distinct_ratio: float = 0.2,
        decontam_min_overlap: float = 0.2,
        id_col: str = "doc_id",
        text_col: str = "text",
        benchmark_store: str | None = None,
        benchmark_ids: list[str] | None = None,
        url_col: str = "url",
        url_blocklist: tuple[str, ...] | None = None,
        max_per_domain: int | None = None,
        domain_store: str | None = None,
        html_extract: bool | dict = False,
        html_col: str = "html",
        script_aware: bool = False,
        c4_clean: bool | dict = False,
        gopher_rules: bool | dict = False,
        gopher_repetition: bool | dict = False,
        allowed_langs: tuple[str, ...] | None = None,
        langid_model=None,
        quality_model=None,
        min_quality_score: float = 0.5,
        substring_store: str | None = None,
        substring_k: int = 8,
        substring_min_len: int = 50,
        perplexity_store: tuple[str, str] | None = None,
        perplexity_band: tuple[float, float] | None = None,
        perplexity_lam: float = 0.5,
        benchmark_emb_store: str | None = None,
        benchmark_emb_ids: list[str] | None = None,
        semantic_decontam_threshold: float = 0.95,
        embeddings_path: str | None = None,
        emb_id_col: str = "vec_id",
        emb_vec_col: str = "embedding",
    ) -> None:
        if benchmark_emb_store is not None and embeddings_path is None:
            # the doc stream carries (doc_id, text); the semantic probe
            # needs each doc's embedding — a stream-static side table
            raise ValueError(
                "benchmark_emb_store requires embeddings_path= (a parquet "
                "of (vec_id, embedding) read per batch and semi-joined to "
                "the batch's doc ids — the stream-static join shape)"
            )
        if benchmark is not None and benchmark_store is not None:
            raise ValueError(
                "pass benchmark (one-shot re-shingle) OR benchmark_store "
                "(persisted shingle store), not both"
            )
        if benchmark_ids is not None and benchmark_store is None:
            raise ValueError(
                "benchmark_ids selects within a benchmark_store — pass "
                "benchmark_store too"
            )
        if (perplexity_store is None) != (perplexity_band is None):
            # streaming has no "train on the batch itself" arm: a
            # micro-batch is far too small to fit a reference LM, so the
            # stage exists ONLY store-backed — both knobs or neither
            raise ValueError(
                "the streaming perplexity stage is store-backed only: "
                "pass BOTH perplexity_store=(path, model_id) and "
                "perplexity_band=(lo, hi) (train the model once with "
                "lm_store.build_lm_model), or neither"
            )
        self.out_dir = out_dir
        self.benchmark = benchmark
        self.benchmark_store = benchmark_store
        self.benchmark_ids = benchmark_ids
        self.substring_store = substring_store
        self.substring_k = substring_k
        self.substring_min_len = substring_min_len
        self._substr_tag: str | None = None
        self._domain_tag: str | None = None
        self.min_tokens = min_tokens
        self.max_top_token_frac = max_top_token_frac
        self.min_distinct_ratio = min_distinct_ratio
        self.decontam_min_overlap = decontam_min_overlap
        if max_per_domain is not None and domain_store is None:
            # cross-batch cap state must persist somewhere: a per-batch
            # cap would reset every micro-batch and keep cap docs PER
            # BATCH instead of per corpus
            raise ValueError(
                "the streaming domain cap is store-backed only: pass "
                "domain_store= (a dir for the persisted per-domain "
                "count table) along with max_per_domain"
            )
        self.url_col = url_col
        self.url_blocklist = url_blocklist
        self.max_per_domain = max_per_domain
        self.domain_store = domain_store
        self.html_extract = html_extract
        self.html_col = html_col
        self.script_aware = script_aware
        self.c4_clean = c4_clean
        self.gopher_rules = gopher_rules
        self.gopher_repetition = gopher_repetition
        self.allowed_langs = allowed_langs
        self.langid_model = langid_model
        self.quality_model = quality_model
        self.min_quality_score = min_quality_score
        self.perplexity_store = perplexity_store
        self.perplexity_band = perplexity_band
        self.perplexity_lam = perplexity_lam
        self.benchmark_emb_store = benchmark_emb_store
        self.benchmark_emb_ids = benchmark_emb_ids
        self.semantic_decontam_threshold = semantic_decontam_threshold
        self.embeddings_path = embeddings_path
        self.emb_id_col = emb_id_col
        self.emb_vec_col = emb_vec_col
        self.id_col = id_col
        self.text_col = text_col

    def _gate(self, batch_df: DataFrame, batch_id: int, n_rows: int) -> None:
        from trialsync_etl_spark.operators import textstats
        from trialsync_etl_spark.operators.decontam import decontaminate

        text = F.col(self.text_col)
        cur = batch_df
        fold = None
        if self.url_blocklist is not None or self.max_per_domain is not None:
            # the batch funnel's URL-level stages, FIRST (same order) —
            # the blocklist is the shared Column expression; the cap
            # goes through the persisted per-domain count table so the
            # cap holds across batches, not per micro-batch
            from trialsync_etl_spark.operators import urlcurate

            if self.url_blocklist is not None:
                cur = cur.filter(
                    urlcurate.blocklist_mask(
                        F.col(self.url_col), self.url_blocklist
                    )
                )
            if self.max_per_domain is not None:
                # the count store is keyed by <stream-uuid>-<batch_id>:
                # a re-delivered micro-batch rewrites its own partition
                # and its prior excludes it, so replays converge instead
                # of dropping every previously-kept row
                cur = urlcurate.cap_per_domain_incremental(
                    cur.sparkSession,
                    cur,
                    self.domain_store,
                    self.max_per_domain,
                    batch_id=f"{self._domain_tag}-{batch_id}",
                    url_col=self.url_col,
                    id_col=self.id_col,
                )
        if self.html_extract:
            # the batch funnel's HTML → main-text stage (same Column
            # expression — the cadences cannot drift), after the URL
            # rails and before every text rule; no-block pages drop
            from trialsync_etl_spark.operators import htmlextract

            params = (
                self.html_extract
                if isinstance(self.html_extract, dict) else {}
            )
            cur = (
                cur.withColumn(
                    self.text_col,
                    htmlextract.extract_main_text(
                        F.col(self.html_col), **params
                    ),
                )
                .drop(self.html_col)
                .filter(F.length(text) > 0)
            )
        if self.c4_clean:
            # the batch funnel's C4 stage, FIRST and on the raw text
            # (clean_text collapses the newlines C4 needs)
            params = (
                self.c4_clean if isinstance(self.c4_clean, dict) else {}
            )
            cur = cur.filter(
                textstats.c4_quality_mask(text, **params)
            ).withColumn(self.text_col, textstats.c4_clean_text(text, **{
                k: v for k, v in params.items()
                if k == "min_words_per_line"
            }))
        if self.gopher_rules:
            # the batch funnel's full Gopher rule-set stage (same Column
            # expression — the cadences cannot drift), BEFORE clean_text
            # like the batch funnel: the line-level rules need the raw
            # newline structure clean_text collapses
            params = (
                self.gopher_rules
                if isinstance(self.gopher_rules, dict) else {}
            )
            params = {"script_aware": self.script_aware, **params}
            cur = cur.filter(textstats.gopher_quality_mask(text, **params))
        if self.gopher_repetition:
            # the batch funnel's Gopher repetition stage, BEFORE
            # clean_text for the same raw-line-structure reason
            params = (
                self.gopher_repetition
                if isinstance(self.gopher_repetition, dict) else None
            )
            cur = textstats.gopher_repetition_mask(
                cur, id_col=self.id_col, text_col=self.text_col,
                thresholds=params,
            )
        cur = cur.withColumn(self.text_col, textstats.clean_text(text))
        cur = cur.filter(
            textstats.quality_mask(
                text,
                min_tokens=self.min_tokens,
                max_top_token_frac=self.max_top_token_frac,
                min_distinct_ratio=self.min_distinct_ratio,
                script_aware=self.script_aware,
            )
        )
        if self.allowed_langs is not None:
            # the batch funnel's trained language gate, at ingest
            # cadence — the SAME language_gate routing curate_corpus
            # uses (inline predicate below the model-size ceiling, a
            # broadcast weight-table semi-join at the committed
            # 21-language breadth), same position (after the cheap
            # rails, before the learned filters), so the two cadences
            # cannot drift
            from trialsync_etl_spark.operators.langid import language_gate

            cur = language_gate(
                cur, self.allowed_langs, self.langid_model,
                id_col=self.id_col, text_col=self.text_col,
            )
        if self.quality_model is not None:
            # the TRAINED filter stage after the heuristic mask — same
            # literal-inlined JVM sigmoid the batch funnel applies
            from trialsync_etl_spark.operators.quality_model import (
                quality_model_mask,
            )

            cur = cur.filter(
                quality_model_mask(
                    text, self.min_quality_score, self.quality_model
                )
            )
        if self.perplexity_store is not None:
            # the batch funnel's perplexity-band stage at ingest cadence
            # (operators/lm_store.py): the unigram LM was trained ONCE on
            # the reference corpus — each micro-batch pays one token join
            # against the stored vocabulary, never a re-train
            from trialsync_etl_spark.operators.lm_store import (
                perplexity_band_store,
            )

            store_path, model_id = self.perplexity_store
            lo, hi = self.perplexity_band
            cur = perplexity_band_store(
                batch_df.sparkSession, cur, store_path, model_id, lo, hi,
                id_col=self.id_col, text_col=self.text_col,
                lam=self.perplexity_lam,
            )
        if self.substring_store is not None:
            # exact substring dedup at ingest cadence (the batch funnel's
            # substring_dedup=True stage, store-backed for cross-batch
            # state): trim vs history+self, drop pure duplicates, fold
            # the batch's firsts (after landing, below) so the NEXT batch
            # sees it as history
            from trialsync_etl_spark.operators import substring_store as SS

            cur = fold = cur.localCheckpoint(eager=True)
            SS.pin_substring_params(self.substring_store, self.substring_k)
            trimmed = SS.substring_dedup_incremental(
                batch_df.sparkSession, cur, self.substring_store,
                self.substring_min_len, self.id_col, self.text_col,
                k=self.substring_k,
            ).filter(F.length(F.col(self.text_col)) > 0)
            cur = cur.drop(self.text_col).join(trimmed, self.id_col)
        if self.benchmark is not None:
            cur = decontaminate(
                cur,
                self.benchmark,
                id_col=self.id_col,
                text_col=self.text_col,
                min_overlap_frac=self.decontam_min_overlap,
            )
        elif self.benchmark_store is not None:
            # store-backed gate: benchmark shingled once at build time,
            # this batch only scans itself (the 100 TB shape)
            from trialsync_etl_spark.operators.decontam_store import (
                decontaminate_incremental,
            )

            cur = decontaminate_incremental(
                batch_df.sparkSession,
                cur,
                self.benchmark_store,
                benchmark_ids=self.benchmark_ids,
                min_overlap_frac=self.decontam_min_overlap,
                id_col=self.id_col,
                text_col=self.text_col,
            )
        if self.benchmark_emb_store is not None:
            # SEMANTIC decontamination at ingest cadence (the batch
            # funnel's benchmark_emb_store= stage — the twin funnels
            # stay stage-for-stage equivalent): the paraphrase gap the
            # shingle gate above cannot see. The batch's embeddings come
            # from a stream-static side table (embeddings_path) read per
            # batch; docs without an embedding pass through (no
            # evidence, no drop — the SemDeDup contract).
            from trialsync_etl_spark.operators.decontam_store import (
                decontaminate_semantic_incremental,
            )

            emb = batch_df.sparkSession.read.parquet(self.embeddings_path)
            cur = decontaminate_semantic_incremental(
                batch_df.sparkSession,
                cur,
                emb,
                self.benchmark_emb_store,
                benchmark_ids=self.benchmark_emb_ids,
                threshold=self.semantic_decontam_threshold,
                id_col=self.id_col,
                emb_id_col=self.emb_id_col,
                emb_vec_col=self.emb_vec_col,
            )
        _land(cur, self.out_dir, batch_id)
        if fold is not None:
            # the landed rows were trimmed against the store as it stood;
            # folding first would rewrite, on a replay, the very
            # partition their lazy trim still has to read
            SS.append_gram_firsts(
                fold, self.substring_store,
                f"{self._substr_tag}-{batch_id}",
                k=self.substring_k, id_col=self.id_col,
                text_col=self.text_col,
            )

    def attach(
        self,
        stream_df: DataFrame,
        checkpoint_dir: str,
        ts_col: str = "ts",
        watermark_delay: str = "1 day",
    ) -> None:
        """Wire dedup_stream in front of the curation batches, then
        drain like every sink."""
        super().attach(
            dedup_stream(
                stream_df, [self.id_col], ts_col=ts_col,
                watermark_delay=watermark_delay,
            ),
            checkpoint_dir,
        )

    def _restore(self, checkpoint_dir: str) -> None:
        # one stream tag per store-backed stage that needs one
        if self.substring_store is not None:
            self._substr_tag = _stream_instance_tag(
                checkpoint_dir, "__curate_substr_id"
            )
        if self.max_per_domain is not None:
            self._domain_tag = _stream_instance_tag(
                checkpoint_dir, "__curate_domain_id"
            )


class ExportStreamSink(_GateSink):
    """Streaming JSONL export: each micro-batch is written as its own
    ``batch=<id>/shard=N`` JSONL shard set via
    :func:`operators.export.export_jsonl_shards` (same deterministic
    sharding and per-batch manifest as the offline sink — one code path
    for both cadences).

    Replay-safe: foreachBatch can re-deliver a batch id after a failure;
    the per-batch directory is overwritten wholesale, so a replay
    converges instead of appending duplicates (the reason batches don't
    append into shared shard files). :func:`combined_export_manifest`
    aggregates the landed lines across all batches into one per-shard
    manifest for the trainer.
    """

    def __init__(
        self,
        out_dir: str,
        n_shards: int = 8,
        id_col: str = "doc_id",
        hash_fn: str = "xxhash64",
    ) -> None:
        self.out_dir = out_dir
        self.n_shards = n_shards
        self.id_col = id_col
        self.hash_fn = hash_fn

    def _gate(self, batch_df: DataFrame, batch_id: int, n_rows: int) -> None:
        from trialsync_etl_spark.operators.export import export_jsonl_shards

        export_jsonl_shards(
            batch_df,
            _batch_dir(self.out_dir, batch_id),
            self.n_shards,
            id_col=self.id_col,
            hash_fn=self.hash_fn,
        )


def combined_export_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    """One per-shard manifest over every landed batch: counts, payload
    bytes, and the same order-insensitive mod-p checksum as the offline
    manifest — partition discovery turns batch=/shard= dirs into columns,
    so this is one pruned scan + one aggregate."""
    from trialsync_etl_spark.operators.export import _CHECKSUM_P, line_checksum

    spark.catalog.refreshByPath(out_dir)
    landed = spark.read.option("basePath", out_dir).text(
        out_dir + "/batch=*/shard=*"
    )
    return landed.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.octet_length("value")).alias("total_bytes"),
        F.pmod(F.sum(line_checksum(F.col("value"))), F.lit(_CHECKSUM_P)).alias(
            "checksum"
        ),
    )


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
    wholesale (the ExportStreamSink pattern), so a re-delivered batch id
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
    path for both cadences, mirroring CurateStreamSink.

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


class MediaNearDupStreamSink(_GateSink):
    """Streaming perceptual media gate against the persisted signature
    store (operators/media_dedup.py): each micro-batch signatures its
    binary payloads ONCE, probes the store's batch partitions banded for
    history near-dups AND checks within the batch (lower-id precedence),
    lands survivors in a per-batch overwritten subdir, and folds its
    signatures so the NEXT batch sees this one as history — the media
    member of the per-ingest store-sibling pattern (text → NearDupStream-
    Sink, substrings → SubstringDedupStreamSink). The batch-mode twin is
    ``media_neardup_incremental`` itself; one code path for both
    cadences. ``sig_kind`` selects dHash / pHash / audio-envelope; the
    store meta pins it, so a stream pointed at a store of another kind
    fails loudly instead of reporting silent zero duplication.

    Replay-convergent via ``<stream-instance-uuid>-<batch_id>`` tags
    (uuid persisted in the checkpoint dir, the NearDupStreamSink
    discipline): a replayed batch rewrites its own signature partition
    and its probe never sees its own earlier attempt as history.
    """

    _marker = "__media_neardup_stream_id"

    def __init__(
        self,
        out_dir: str,
        store_path: str,
        id_col: str = "media_id",
        content_col: str = "content",
        max_distance: int | None = None,
        n_bands: int | None = None,
        sig_kind: str = "dhash63",
        use_real_codec: bool = False,
    ) -> None:
        self.out_dir = out_dir
        self.store_path = store_path
        self.id_col = id_col
        self.content_col = content_col
        self.max_distance = max_distance
        self.n_bands = n_bands
        self.sig_kind = sig_kind
        self.use_real_codec = use_real_codec

    def _gate(self, batch_df: DataFrame, batch_id: int, n_rows: int) -> None:
        from trialsync_etl_spark.operators.media_dedup import (
            media_neardup_incremental,
        )

        survivors = media_neardup_incremental(
            batch_df.sparkSession,
            batch_df,
            self.store_path,
            batch_id=self._batch_tag(batch_id),
            id_col=self.id_col,
            content_col=self.content_col,
            max_distance=self.max_distance,
            n_bands=self.n_bands,
            sig_kind=self.sig_kind,
            use_real_codec=self.use_real_codec,
        )
        _land(survivors, self.out_dir, batch_id)


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


class SketchRollupStreamSink(_GateSink):
    """Streaming cadence of the mergeable HLL rollup store
    (operators/sketch_store.py): each micro-batch folds its slice into
    per-key sketches under its own store partition, so distinct-count
    estimates over the stream are always a kilobyte sketch-row union away
    — one shared code path with the offline append, mirroring the other
    dual-cadence sinks.

    Replay-convergent: the store partition key is
    ``<stream-instance-uuid>-<batch_id>`` (uuid persisted in the
    checkpoint dir). A replayed micro-batch OVERWRITES its own partition
    (no double-counted ``n_rows``); a wiped checkpoint gets a fresh uuid,
    so its restarted batch 0 cannot clobber the previous instance's
    batch-0 sketches.
    """

    _marker = "__sketch_stream_id"

    def __init__(
        self,
        store_path: str,
        key_cols: list[str],
        distinct_cols: list[str],
        lgk: int | None = None,
    ) -> None:
        from trialsync_etl_spark.operators.sketch_store import DEFAULT_LGK

        self.store_path = store_path
        self.key_cols = list(key_cols)
        self.distinct_cols = list(distinct_cols)
        self.lgk = DEFAULT_LGK if lgk is None else lgk

    def _gate(self, batch_df: DataFrame, batch_id: int, n_rows: int) -> None:
        from trialsync_etl_spark.operators.sketch_store import (
            append_sketch_rollup,
        )

        append_sketch_rollup(
            batch_df,
            self.store_path,
            self.key_cols,
            self.distinct_cols,
            batch_id=self._batch_tag(batch_id),
            lgk=self.lgk,
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
    ``perplexity_band_store`` / ``curate_corpus(perplexity_store=)``;
    the in-funnel streaming stage is ``CurateStreamSink(
    perplexity_store=)``.

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


class FreqRollupStreamSink(_GateSink):
    """Streaming hot-key monitor: each micro-batch folds its key
    frequencies into a persisted count-min rollup store
    (operators/freq.py) — at most depth×width cells per batch whatever
    the batch size, exact additive merge on read — so "which keys are
    hot right now / this window" is answered from kilobytes of cells
    while the stream runs, feeding the salting / AQE-skew decisions
    without ever rescanning landed data. Batch twin: `append_cm_rollup`;
    the maintenance fold is `compact_sketch_store`, unchanged.

    Replay-convergent: appends are tagged ``<stream-uuid>-<batch_id>``
    (uuid persisted in the checkpoint dir, the NearDupStreamSink
    pattern), and a replayed micro-batch REPLACES its own store
    partition (dynamic partition overwrite) instead of double-counting.
    A WIPED checkpoint restarts batch numbering under a fresh uuid and
    re-ingests everything — a counting store cannot know rows were seen
    before, so wipe the store with the checkpoint (the same contract as
    re-appending batch data under a fresh id in batch mode).
    """

    _marker = "__freq_stream_id"

    def __init__(
        self,
        store_path: str,
        key_col: str = "doc_id",
        depth: int | None = None,
        width: int | None = None,
    ) -> None:
        from trialsync_etl_spark.operators.freq import (
            DEFAULT_DEPTH,
            DEFAULT_WIDTH,
        )

        self.store_path = store_path
        self.key_col = key_col
        self.depth = depth or DEFAULT_DEPTH
        self.width = width or DEFAULT_WIDTH

    def _gate(self, batch_df: DataFrame, batch_id: int, n_rows: int) -> None:
        from trialsync_etl_spark.operators.freq import append_cm_rollup

        append_cm_rollup(
            batch_df,
            self.store_path,
            self.key_col,
            self._batch_tag(batch_id),
            self.depth,
            self.width,
        )

