"""Persisted first-occurrence gram store — INCREMENTAL exact substring
dedup at arbitrary word offsets.

`operators/dedup.duplicate_spans` is the one-shot shape: it re-shingles
the whole corpus per call. At ingest cadence you never do that — every
other dedup-family member already has a store sibling (MinHash →
dedup_store, SemDeDup → the ANN ingest gate, decontamination →
decontam_store); this is the substring member's:

- ``<store>/firsts/batch_id=<id>/`` — (h, doc_id, pos): the corpus-
  global FIRST occurrence of each k-gram hash, one row per distinct
  gram first seen in that batch. Reads MIN-MERGE across partitions
  (min(struct) is idempotent and order-free), so duplicate rows left by
  a crashed append, or an overlapping replay, converge instead of
  corrupting verdicts — no replay tags needed: a replayed batch's own
  stored firsts EQUAL its occurrences' (doc_id, pos), and equality means
  "this IS the first", never "redundant".
- ``<store>__meta.json`` — pinned (k, hash_fn) under the store's
  ``__lock`` flock, the decontam-store discipline: probing md5 grams
  with xxhash64 (or a different k) silently reports zero duplication.

Per ingest batch the probe is ONE shuffle join of the batch's
positional grams against the store on h — the store holds one row per
DISTINCT corpus gram (smaller than the corpus; boilerplate repeats
collapse), the batch side is partial-aggregated, and this join is the
inherent cost of exact any-offset substring dedup (a suffix array scans
as much). History wins: a block seen in ANY earlier batch is trimmed
from every later copy at any offset; within a batch the lowest
(doc_id, pos) wins.

Ordering contract: keep-first means first ARRIVAL, which equals the
one-shot :func:`dedup.duplicate_spans` over the concatenation whenever
batches arrive in id order (parity pinned in tests and the registry
query's DuckDB oracle); out-of-order ids keep the earlier-arrived copy
— the same history-wins contract as dedup_store.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trialsync_etl_spark.operators import dedup
from trialsync_etl_spark.storage import PinnedParams, file_lock

FIRSTS_TABLE = "firsts"
BASE_BATCH = "__base"


_PARAMS = PinnedParams(
    label="substring store",
    suffix="__meta.json",
    lock_suffix="/__lock",
    keys=("k", "hash_fn"),
    hint="re-append any batch to re-pin, or restore the meta file from "
    "the store's source of truth",
    why="mixed gram spaces report silent zero duplication",
    first_step="append a batch first (append_gram_firsts)",
)


def read_substring_params(store_path: str) -> dict | None:
    """Pinned (k, hash_fn), or None when never pinned; PRESENT-but-
    unreadable meta raises the rebuild-instructing error (a corrupt pin
    must never be silently re-pinned with different params)."""
    return _PARAMS.read(store_path)


def read_gram_firsts(spark: SparkSession, store_path: str) -> DataFrame:
    """The min-merged (h, __first) relation of the whole store — the
    history side of every probe. Min-merging on read is what makes
    appends crash/replay-safe (duplicate rows for one h collapse to the
    true first)."""
    grams = spark.read.parquet(os.path.join(store_path, FIRSTS_TABLE))
    return grams.groupBy("h").agg(
        F.min(F.struct("doc_id", "pos")).alias("__first")
    )


def append_gram_firsts(
    docs: DataFrame,
    store_path: str,
    batch_id: str,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "md5",
) -> int:
    """Fold ONE batch's new first occurrences into the store (the write
    half of the ingest cadence; run AFTER the batch was probed/trimmed).
    Only grams the store has never seen land (anti-join on h) — the
    store stays one row per distinct corpus gram. Re-appending the same
    ``batch_id`` overwrites its partition (replay-convergent: the batch's
    own earlier fold is not history to it). Returns the number of new
    grams folded."""
    if not batch_id or any(c in batch_id for c in "/=%"):
        raise ValueError(
            f"batch_id {batch_id!r} must be a non-empty partition-safe tag"
        )
    _PARAMS.pin(store_path, k=k, hash_fn=hash_fn)
    mins = (
        dedup.positional_shingles(docs, id_col, text_col, k, hash_fn)
        .groupBy("h")
        .agg(F.min(F.struct("doc_id", "pos")).alias("__first"))
    )
    table = os.path.join(store_path, FIRSTS_TABLE)
    if os.path.isdir(table):
        # no .distinct() on the store side: left_anti is already
        # membership semantics, and a distinct would add a full store
        # shuffle to every append
        seen = (
            docs.sparkSession.read.parquet(table)
            .filter(F.col("batch_id").cast("string") != batch_id)
            .select("h")
        )
        mins = mins.join(seen, "h", "left_anti")
    new = mins.select(
        "h", F.col("__first.doc_id").alias("doc_id"),
        F.col("__first.pos").alias("pos"),
    )
    from pyspark.sql import Observation

    obs = Observation()
    new.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).parquet(os.path.join(table, f"batch_id={batch_id}"))
    return int(obs.get["n"])


def duplicate_spans_incremental(
    spark: SparkSession,
    docs: DataFrame,
    store_path: str,
    min_len: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int | None = None,
    hash_fn: str | None = None,
) -> DataFrame:
    """One batch's duplicated spans against the STORE plus itself — the
    per-ingest detection call, a pure function of (batch, store):

    - a gram whose hash is in the store is redundant UNLESS this
      occurrence IS the stored first (equality = replay of the batch
      that owns it — history wins, never self-flags);
    - a store-unseen gram is redundant iff a lower (doc_id, pos)
      occurrence exists in this same batch.

    Same output contract as :func:`dedup.duplicate_spans`. (k, hash_fn)
    come from the store pin; pass them only to assert expectations."""
    k, hash_fn = _PARAMS.resolve(store_path, k=k, hash_fn=hash_fn)
    if min_len < k:
        raise ValueError(
            f"min_len ({min_len}) must be >= k ({k}): spans are unions "
            "of whole k-grams"
        )
    grams = dedup.positional_shingles(
        dedup.spread_for_cpu(docs), id_col, text_col, k, hash_fn
    )
    batch_mins = grams.groupBy("h").agg(
        F.min(F.struct("doc_id", "pos")).alias("__bmin")
    )
    history = read_gram_firsts(spark, store_path)
    occ = F.struct("doc_id", "pos")
    redundant = (
        grams.join(batch_mins, "h")
        .join(history, "h", "left")
        .filter(
            F.when(F.col("__first").isNotNull(), occ != F.col("__first"))
            .otherwise(occ != F.col("__bmin"))
        )
        .select("doc_id", "pos")
    )
    return dedup.merge_spans(redundant, k, min_len)


def substring_dedup_incremental(
    spark: SparkSession,
    docs: DataFrame,
    store_path: str,
    min_len: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int | None = None,
    hash_fn: str | None = None,
) -> DataFrame:
    """Trim one batch's duplicated spans against the store (+ itself) and
    reassemble — the per-ingest gating call; returns (id, text) for
    every batch doc, like the one-shot. Fold the batch afterwards with
    :func:`append_gram_firsts` so the NEXT batch sees it as history."""
    spans = duplicate_spans_incremental(
        spark, docs, store_path, min_len, id_col, text_col, k, hash_fn
    )
    return dedup.trim_spans(docs, spans, id_col, text_col)


def compact_gram_store(spark: SparkSession, store_path: str) -> int:
    """Fold every batch partition into one ``batch_id=__base`` partition
    (min-merged) and drop the folded partitions — read-side file count
    stops growing with ingest history. Crash-safe by the same min-merge:
    a failure between the base write and the partition removals leaves
    duplicate rows that every read collapses; re-running converges.
    Returns the number of distinct grams kept."""
    import shutil

    table = os.path.join(store_path, FIRSTS_TABLE)
    if not os.path.isdir(table):
        return 0
    with file_lock(os.path.join(store_path, "__lock")):
        parts = [
            d for d in os.listdir(table)
            if d.startswith("batch_id=") and d != f"batch_id={BASE_BATCH}"
        ]
        merged = read_gram_firsts(spark, store_path).select(
            "h", F.col("__first.doc_id").alias("doc_id"),
            F.col("__first.pos").alias("pos"),
        ).localCheckpoint(eager=True)  # materialize BEFORE overwriting inputs
        n = merged.count()
        merged.write.mode("overwrite").parquet(
            os.path.join(table, f"batch_id={BASE_BATCH}")
        )
        for d in parts:
            shutil.rmtree(os.path.join(table, d), ignore_errors=True)
    return n
