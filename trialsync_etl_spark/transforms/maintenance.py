"""Scheduled warehouse maintenance — the reference's nightly chain shape.

The reference runs its maintenance as cron-staged procedures (the 2AM
dimension load → 3AM fact load → 4AM verification cadence,
docs/05_Job_Sequencing_and_Incremental_Loading.md); its handoff doc lists
storage upkeep as manual. Here the layout/retention operators the CLI
exposes (`compact`, `zorder`, `sketch compact`) are ALSO registered as a
transformation chain, so the schedule store (scheduler.ScheduleStore →
CronScheduler) runs them on cadence like any other procedure:

- ``maintain_compact_tables`` — small-file compaction of every published
  warehouse table (incremental cadences accrete per-batch files; at
  cluster scale every extra file is an open + footer read + task).
- ``maintain_zorder_facts`` — z-order the configured fact tables on
  their hot filter columns (default: ``fact_orders`` on
  (customer_key, order_date_key)), so footer-stat pruning survives
  multi-column predicates.
- ``maintain_compact_sketch_store`` / ``maintain_compact_freq_store`` —
  fold finished batch partitions of the events sketch/frequency rollups
  into ``__base`` (recurring ``full-refresh`` stays live — see
  operators/sketch_store.compact_sketch_store; the CM fold is exact).
- ``maintain_compact_ann_index`` / ``maintain_compact_dedup_store`` /
  ``maintain_compact_substring_store`` — fold appended batches of the
  persisted ANN / MinHash-signature / substring-gram stores when the
  warehouse carries them (ctx.options paths; quietly 0 rows when
  absent — maintenance must be runnable against any warehouse).
- ``maintain_rebuild_ann_index`` — retrain the ANN index at √N lists
  when sustained appends drift it past balance (model_version bump +
  append re-assign protocol; cheap meta-read no-op while balanced).
- ``check_quality_drift`` — score the corpus with the trained quality
  filter, publish per-source quantiles (``quality_score_report``) and
  the sources whose median/mean moved past the delta cutoff vs the
  previous report (``quality_drift_report`` → the
  ``quality_score_drift`` alert rule).
- ``check_perplexity_drift`` — the statistical-quality twin: score the
  corpus against the STORED unigram LM (ctx.options ``lm_store`` +
  ``lm_model_id``; no-op without them), publish per-source perplexity
  quantiles (``perplexity_report``) and relative-delta drifters
  (``perplexity_drift_report`` → the ``perplexity_drift`` alert rule).
- ``check_lang_drift`` — the composition twin: predict every document's
  language with the trained model (operators/langid.py), publish each
  source's dominant language + share (``lang_mix_report``) and the
  sources whose dominant language flipped or share moved past the delta
  (``lang_drift_report`` → the ``lang_mix_drift`` alert rule).

Every step preserves each table's existing retention width
(keep_versions=None contract) — a maintenance rewrite must never shrink
a time-travel window someone configured on publish.

:func:`register_maintenance_schedule` persists the chain into a
ScheduleStore under a nightly cron (default 02:00), giving the engine
the reference's staged-cadence operations model with storage upkeep
included.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from trialsync_etl_spark.reports import (
    FREQ_DRIFT,
    HOT_KEYS,
    LANG_DRIFT,
    PERPLEXITY_DRIFT,
    QUALITY_DRIFT,
    Report,
)
from trialsync_etl_spark.transforms import WarehouseContext, transform

MAINT_CHAIN = "maintain_warehouse"

#: default z-order targets: table -> hot filter columns
DEFAULT_ZORDER = {"fact_orders": ["customer_key", "order_date_key"]}


def _published_tables(warehouse_dir: str) -> list[str]:
    """Plain table dirs / publish pointers under the warehouse root —
    version dirs, locks, and loose files are publication artifacts."""
    if not os.path.isdir(warehouse_dir):
        return []
    out = []
    for name in sorted(os.listdir(warehouse_dir)):
        full = os.path.join(warehouse_dir, name)
        if "__" in name:
            continue
        if os.path.islink(full) or os.path.isdir(full):
            out.append(name)
    return out


@transform("maintain_compact_tables", chain=MAINT_CHAIN)
def maintain_compact_tables(spark: SparkSession, ctx: WarehouseContext) -> int:
    """Compact every published warehouse table; returns total files after.
    Stores with their own compaction (sketch/ann/dedup) are separate
    steps — their partition layout IS their index and must not be
    flattened by a generic rewrite."""
    from trialsync_etl_spark.storage import compact_table

    skip = set(
        ctx.options.get("compact_skip", ("sketch_events", "freq_events"))
    )
    target = int(ctx.options.get("compact_target_bytes", 128 << 20))
    total_files = 0
    for name in _published_tables(ctx.warehouse_dir):
        if name in skip:
            continue
        stats = compact_table(
            spark, ctx.table_path(name), target_file_bytes=target
        )
        total_files += stats["files_after"]
    return total_files


@transform("maintain_zorder_facts", chain=MAINT_CHAIN)
def maintain_zorder_facts(spark: SparkSession, ctx: WarehouseContext) -> int:
    """Z-order the configured fact tables on their hot filter columns;
    returns total files written. Tables absent from this warehouse are
    skipped — the chain must run against partial builds."""
    from trialsync_etl_spark.operators.layout import zorder_table

    targets = ctx.options.get("zorder", DEFAULT_ZORDER)
    total_files = 0
    for name, cols in targets.items():
        path = ctx.table_path(name)
        if not (os.path.islink(path) or os.path.isdir(path)):
            continue
        stats = zorder_table(spark, path, list(cols))
        total_files += stats["files"]
    return total_files


@transform("maintain_compact_sketch_store", chain=MAINT_CHAIN)
def maintain_compact_sketch_store(
    spark: SparkSession, ctx: WarehouseContext
) -> int:
    """Fold the events sketch rollup's finished batches into ``__base``
    (recurring full-refresh partition stays live); returns keys kept."""
    from trialsync_etl_spark.operators.sketch_store import compact_sketch_store

    path = ctx.table_path("sketch_events")
    if not os.path.isdir(path):
        return 0
    return int(compact_sketch_store(spark, path)["keys"])


@transform("maintain_compact_freq_store", chain=MAINT_CHAIN)
def maintain_compact_freq_store(
    spark: SparkSession, ctx: WarehouseContext
) -> int:
    """Fold the events frequency rollup's finished batches into
    ``__base`` — the CM store shares the sketch store's layout and
    maintenance verbatim, and its additive cells make the fold EXACT
    (recurring full-refresh partition stays live); returns cells kept."""
    from trialsync_etl_spark.operators.sketch_store import compact_sketch_store

    path = ctx.table_path("freq_events")
    if not os.path.isdir(path):
        return 0
    return int(compact_sketch_store(spark, path)["keys"])


@transform("check_freq_drift", chain=MAINT_CHAIN)
def check_freq_drift(spark: SparkSession, ctx: WarehouseContext) -> int:
    """The scheduled consumer of the hot-key surface: compare the
    ``freq_events`` CM store's HISTORY window (everything except the
    recurring full-refresh partition, compacted ``__base`` included) with
    the CURRENT full-refresh window and publish the keys whose share grew
    by ≥ ``ctx.options['drift_min_share_delta']`` (default 0.05) as the
    ``freq_drift_report`` table — the artifact ``GET /freq/drift`` serves
    and the ``hot_key_drift`` alert rule reads. Candidates come from the
    gold chain's ``hot_keys`` table (current heavy hitters — exactly the
    keys whose drift matters); with no landed list the check nominates
    them itself with one bounded ``heavy_hitters`` pass. No history
    window yet (first run, nothing compacted or ingested outside the
    refresh) ⇒ an EMPTY report, not every-key-is-new noise. Returns the
    number of drifted keys."""
    from pyspark.sql import functions as F

    from trialsync_etl_spark.catalog import load_table
    from trialsync_etl_spark.operators.freq import (
        heavy_hitters,
        hot_key_drift,
        read_cm_store,
    )
    from trialsync_etl_spark.operators.sketch_store import FULL_REFRESH_BATCH
    from trialsync_etl_spark.storage import swap_publish

    store = ctx.table_path("freq_events")
    report_path = ctx.table_path(FREQ_DRIFT.table)
    empty = spark.createDataFrame([], FREQ_DRIFT.schema)
    if not os.path.isdir(store):
        swap_publish(
            empty.withColumn("checked_at", F.current_timestamp()), report_path
        )
        return 0
    where_hist = f"batch_id != '{FULL_REFRESH_BATCH}'"
    hist_total = (
        read_cm_store(spark, store, where_hist, include_base=True)
        .agg(F.sum("cnt"))
        .first()[0]
    )
    if not hist_total:
        swap_publish(
            empty.withColumn("checked_at", F.current_timestamp()), report_path
        )
        return 0
    hk_path = ctx.table_path(HOT_KEYS.table)
    if os.path.isdir(hk_path):
        keys = spark.read.parquet(hk_path).select("user_id")
    else:
        keys = heavy_hitters(
            load_table(spark, ctx.sf_dir, "events").select("user_id"),
            "user_id",
            phi=float(ctx.options.get("hot_key_phi", 0.01)),
        ).select("user_id")
    drift = hot_key_drift(
        spark,
        store,
        keys,
        "user_id",
        where_a=where_hist,
        where_b=f"batch_id = '{FULL_REFRESH_BATCH}'",
        min_share_delta=float(ctx.options.get("drift_min_share_delta", 0.05)),
        include_base_a=True,
    ).withColumn("checked_at", F.current_timestamp())
    return swap_publish(drift, report_path, return_count=True)


def _publish_with_drift(
    spark: SparkSession,
    ctx: WarehouseContext,
    report_df,
    report_table: str,
    drift: Report,
    compare,
) -> int:
    """The per-source drift checks' shared tail, in this order: read the
    PREVIOUSLY published ``report_table``, publish ``report_df`` over it,
    read the new report back, and publish ``drift`` with one row per
    source present in both whose ``compare(old_row, new_row)`` returns
    the row's non-source fields (None = no drift). A new source is a
    baseline, not drift — so the first run publishes an EMPTY drift
    report. Returns the number of drifted sources."""
    from pyspark.sql import functions as F

    from trialsync_etl_spark.storage import read_published_pylist, swap_publish

    report_path = ctx.table_path(report_table)
    prev = (
        {r["source"]: r for r in read_published_pylist(report_path)}
        if os.path.isdir(report_path)
        else {}
    )
    swap_publish(report_df, report_path)
    drifted = []
    for r in read_published_pylist(report_path):
        old = prev.get(r["source"])
        found = None if old is None else compare(old, r)
        if found is not None:
            drifted.append((r["source"], *found))
    swap_publish(
        spark.createDataFrame(drifted, drift.schema).withColumn(
            "checked_at", F.current_timestamp()
        ),
        ctx.table_path(drift.table),
    )
    return len(drifted)


@transform("check_quality_drift", chain=MAINT_CHAIN)
def check_quality_drift(spark: SparkSession, ctx: WarehouseContext) -> int:
    """Per-source quality-score distribution monitoring — the observable
    the trained filter was missing: a retrained model (or a degrading
    source) silently changes corpus composition unless someone watches
    the score distributions. Nightly, this member scores the documents
    table with the configured model (``ctx.options['quality_model_path']``,
    default: the committed constants), publishes per-source quantiles as
    the ``quality_score_report`` table, and compares them against the
    PREVIOUSLY published report: sources whose median or mean score moved
    by ≥ ``ctx.options['quality_drift_min_delta']`` (default 0.05) land in
    ``quality_drift_report`` — the artifact the ``quality_score_drift``
    alert rule reads (same publish-only-drifted discipline as
    ``check_freq_drift``: any row IS an alert). First run (no prior
    report) ⇒ baseline established, empty drift report. Scoring is the
    literal-inlined sigmoid — one scan, whole-stage codegen, and the
    quantiles are ``percentile_approx`` (deterministic for fixed data,
    and the only sane choice at 100 TB — exact percentiles would sort
    every group). Returns the number of drifted sources."""
    from pyspark.sql import functions as F

    from trialsync_etl_spark.catalog import load_table
    from trialsync_etl_spark.operators.quality_model import (
        QualityModel,
        quality_model_score,
    )

    model_path = ctx.options.get("quality_model_path")
    model = QualityModel.load(model_path) if model_path else None
    min_delta = float(ctx.options.get("quality_drift_min_delta", 0.05))

    docs = load_table(spark, ctx.sf_dir, "documents")
    score = quality_model_score(F.col("text"), model)
    report = (
        docs.select("source", score.alias("__s"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("__s"), 4).alias("mean_score"),
            F.round(F.percentile_approx("__s", 0.25, 10000), 4).alias("p25"),
            F.round(F.percentile_approx("__s", 0.5, 10000), 4).alias("p50"),
            F.round(F.percentile_approx("__s", 0.75, 10000), 4).alias("p75"),
        )
        .withColumn("checked_at", F.current_timestamp())
    )

    def compare(old: dict, new: dict):
        d_p50 = round(abs(new["p50"] - old["p50"]), 4)
        d_mean = round(abs(new["mean_score"] - old["mean_score"]), 4)
        if max(d_p50, d_mean) >= min_delta:
            return (old["p50"], new["p50"], d_p50,
                    old["mean_score"], new["mean_score"], d_mean)
        return None

    return _publish_with_drift(
        spark, ctx, report, "quality_score_report", QUALITY_DRIFT, compare
    )


@transform("check_perplexity_drift", chain=MAINT_CHAIN)
def check_perplexity_drift(spark: SparkSession, ctx: WarehouseContext) -> int:
    """Per-source perplexity-distribution monitoring against the STORED
    unigram LM (operators/lm_store.py) — the statistical-quality twin of
    ``check_quality_drift``: a source drifting toward boilerplate (p50
    falls) or gibberish (p50 climbs) changes what the perplexity band
    keeps, and nobody notices unless the distributions are watched.
    Requires ``ctx.options['lm_store']`` + ``['lm_model_id']``; no-op 0
    otherwise (the ANN members' contract — a warehouse without a stored
    LM has nothing to monitor). Publishes per-source quantiles as
    ``perplexity_report`` and the sources whose median or mean moved
    RELATIVELY by ≥ ``ctx.options['perplexity_drift_min_rel']`` (default
    0.10) vs the previous report into ``perplexity_drift_report`` — the
    artifact the ``perplexity_drift`` alert rule reads. RELATIVE, not
    absolute, unlike the quality score's 0.05: the score is bounded in
    [0, 1] while perplexity is unbounded — an absolute cutoff meaningful
    at ppl 3 is pure noise at ppl 800. First run ⇒ baseline, empty
    drift report. Returns the number of drifted sources."""
    from pyspark.sql import functions as F

    from trialsync_etl_spark.catalog import load_table
    from trialsync_etl_spark.operators.lm_store import (
        score_perplexity_store,
    )

    store = ctx.options.get("lm_store")
    model_id = ctx.options.get("lm_model_id")
    if not store or not model_id or not os.path.isdir(store):
        return 0
    min_rel = float(ctx.options.get("perplexity_drift_min_rel", 0.10))

    docs = load_table(spark, ctx.sf_dir, "documents")
    scored = score_perplexity_store(
        spark, docs.select("doc_id", "text"), store, model_id
    )
    report = (
        docs.select("doc_id", "source")
        .join(scored.select("doc_id", "perplexity"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("perplexity"), 4).alias("mean_ppl"),
            F.round(
                F.percentile_approx("perplexity", 0.25, 10000), 4
            ).alias("p25"),
            F.round(
                F.percentile_approx("perplexity", 0.5, 10000), 4
            ).alias("p50"),
            F.round(
                F.percentile_approx("perplexity", 0.75, 10000), 4
            ).alias("p75"),
        )
        .withColumn("model_id", F.lit(model_id))
        .withColumn("checked_at", F.current_timestamp())
    )

    # NOTE: a model-version swap is deliberately NOT a baseline reset —
    # "a retrained model silently changes corpus composition" is exactly
    # the event this observable exists to surface (check_quality_drift's
    # contract); the report rows carry model_id so the operator can
    # attribute the shift
    def compare(old: dict, new: dict):
        rel_p50 = round(abs(new["p50"] - old["p50"]) / max(old["p50"], 1e-9), 4)
        rel_mean = round(
            abs(new["mean_ppl"] - old["mean_ppl"]) / max(old["mean_ppl"], 1e-9),
            4,
        )
        if max(rel_p50, rel_mean) >= min_rel:
            return (old["p50"], new["p50"], rel_p50,
                    old["mean_ppl"], new["mean_ppl"], rel_mean)
        return None

    return _publish_with_drift(
        spark, ctx, report, "perplexity_report", PERPLEXITY_DRIFT, compare
    )


@transform("maintain_compact_ann_index", chain=MAINT_CHAIN)
def maintain_compact_ann_index(spark: SparkSession, ctx: WarehouseContext) -> int:
    """Fold appended ANN batches into the base lists (ctx.options
    ``ann_index`` path; 0 when this warehouse carries no index)."""
    from trialsync_etl_spark.operators.ann_store import compact_ann_index

    path = ctx.options.get("ann_index")
    if not path or not os.path.isdir(path):
        return 0
    return int(compact_ann_index(spark, path).get("count", 0))


@transform("maintain_rebuild_ann_index", chain=MAINT_CHAIN)
def maintain_rebuild_ann_index(spark: SparkSession, ctx: WarehouseContext) -> int:
    """Retrain the ANN index when sustained appends have drifted its
    lists past the √N balance (ctx.options ``ann_index``; cheap meta-read
    no-op otherwise — see
    operators/ann_store.rebuild_ann_index_if_oversized). Returns the
    new list count when a rebuild ran, else 0."""
    from trialsync_etl_spark.operators.ann_store import (
        rebuild_ann_index_if_oversized,
    )

    path = ctx.options.get("ann_index")
    if not path or not os.path.isdir(path):
        return 0
    result = rebuild_ann_index_if_oversized(spark, path)
    return int(result["n_lists"]) if result.get("rebuilt") else 0


@transform("maintain_compact_dedup_store", chain=MAINT_CHAIN)
def maintain_compact_dedup_store(
    spark: SparkSession, ctx: WarehouseContext
) -> int:
    """Fold the MinHash signature store's batch partitions (ctx.options
    ``dedup_store`` path; 0 when absent)."""
    from trialsync_etl_spark.operators.dedup_store import compact_store

    path = ctx.options.get("dedup_store")
    if not path or not os.path.isdir(path):
        return 0
    return int(compact_store(spark, path))


@transform("maintain_compact_substring_store", chain=MAINT_CHAIN)
def maintain_compact_substring_store(
    spark: SparkSession, ctx: WarehouseContext
) -> int:
    """Fold the substring-dedup gram store's batch partitions into
    ``__base`` (ctx.options ``substring_store`` path; 0 when absent) —
    the read-side file count stops growing with ingest history; verdicts
    are preserved by the store's min-merge semantics."""
    from trialsync_etl_spark.operators.substring_store import (
        compact_gram_store,
    )

    path = ctx.options.get("substring_store")
    if not path or not os.path.isdir(path):
        return 0
    return int(compact_gram_store(spark, path))


def register_maintenance_schedule(
    store, cron: str = "0 2 * * *", description: str | None = None
):
    """Persist the maintenance chain into a scheduler.ScheduleStore under
    a nightly cron (the reference's 2AM-stage slot). The store's `wire`
    hooks it into a CronScheduler next to the load/verify chains."""
    return store.upsert(
        MAINT_CHAIN,
        cron,
        description=description
        or "nightly storage maintenance: compaction + z-order + store folds",
    )


@transform("check_lang_drift", chain=MAINT_CHAIN)
def check_lang_drift(spark: SparkSession, ctx: WarehouseContext) -> int:
    """Per-source language-mix monitoring with the TRAINED language-ID
    model (operators/langid.py) — the composition observable the lang
    signal was missing: a crawler misroute, an upstream encoding bug, or
    a swapped model silently changes which language each source feeds
    the corpus, and release splits / datacard dominant-language inherit
    the error. Nightly, this member predicts every document's language
    (``ctx.options['langid_model_path']``, default: the committed
    constants), publishes each source's dominant predicted language and
    its share as the ``lang_mix_report`` table, and compares against the
    PREVIOUSLY published report: sources whose dominant language CHANGED,
    or whose dominant-language share moved by
    ≥ ``ctx.options['lang_drift_min_delta']`` (default 0.10), land in
    ``lang_drift_report`` — the artifact the ``lang_mix_drift`` alert
    rule reads (publish-only-drifted: any row IS an alert). First run ⇒
    baseline, empty drift report. Scoring routes by model size like the
    funnel (``annotate_language``): literal-inlined below the cell
    ceiling (one scan, zero python stages), the broadcast weight-table
    join above it — at the committed 21-language breadth the inline
    plan cost ~19 s of query build and OOM'd default-heap sessions.
    Predictions are bit-identical either way (parity test-pinned).
    Returns the number of drifted sources."""
    from pyspark.sql import functions as F

    from trialsync_etl_spark.catalog import load_table
    from trialsync_etl_spark.operators.langid import (
        LangIdModel,
        annotate_language,
    )

    model_path = ctx.options.get("langid_model_path")
    model = LangIdModel.load(model_path) if model_path else None
    min_delta = float(ctx.options.get("lang_drift_min_delta", 0.10))

    docs = load_table(spark, ctx.sf_dir, "documents")
    counts = (
        annotate_language(
            docs.select("doc_id", "source", "text"), "text", "__lang", model
        )
        .groupBy("source", "__lang")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(
        F.col("__n").desc(), F.col("__lang").asc()
    )
    totals = counts.groupBy("source").agg(F.sum("__n").alias("__total"))
    report = (
        counts.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .join(totals, "source")
        .select(
            "source",
            F.col("__total").cast("long").alias("n_docs"),
            F.col("__lang").alias("top_lang"),
            F.round(F.col("__n") / F.col("__total"), 4).alias("top_frac"),
        )
        .withColumn("checked_at", F.current_timestamp())
    )

    def compare(old: dict, new: dict):
        d_frac = round(abs(new["top_frac"] - old["top_frac"]), 4)
        if new["top_lang"] != old["top_lang"] or d_frac >= min_delta:
            return (old["top_lang"], new["top_lang"],
                    old["top_frac"], new["top_frac"], d_frac)
        return None

    return _publish_with_drift(
        spark, ctx, report, "lang_mix_report", LANG_DRIFT, compare
    )
