"""Persisted first-occurrence gram store — INCREMENTAL exact substring
dedup at arbitrary word offsets.

`operators/dedup.duplicate_spans` is the one-shot shape: it re-shingles
the whole corpus per call. At ingest cadence you never do that — every
other dedup-family member already has a store sibling (MinHash →
dedup_store, SemDeDup → the ANN ingest gate, decontamination →
decontam_store); this is the substring member's:

- ``<store>/firsts/batch_id=<id>/`` — (h, doc_id, pos): the corpus-
  global FIRST occurrence of each k-gram hash, one row per distinct
  gram first seen in that batch — an append-log table
  (``storage.append_batch``): a replayed batch rewrites its own
  partition, and its probe excludes that partition, so its own earlier
  fold is never history to it. Reads MIN-MERGE across partitions
  (min(struct) is idempotent and order-free), so grams two batches both
  first saw collapse to the true first; and a replayed batch's own
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
from trialsync_etl_spark.storage import (  # noqa: F401 (BASE_BATCH re-exported)
    BASE_BATCH,
    PinnedParams,
    append_batch,
    check_tag,
    compact,
    read_batches,
)

FIRSTS_TABLE = "firsts"


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


def pin_substring_params(store_path: str, k: int = 8, hash_fn: str = "md5") -> None:
    """Pin (k, hash_fn) on the store's first use, before any gram lands
    (a stream's first probe needs the pin); raise if a later use
    differs."""
    _PARAMS.pin(store_path, k=k, hash_fn=hash_fn)


def _min_firsts(grams: DataFrame) -> DataFrame:
    """(h, __first): the lowest (doc_id, pos) per gram hash."""
    return grams.groupBy("h").agg(
        F.min(F.struct("doc_id", "pos")).alias("__first")
    )


def _flat(firsts: DataFrame) -> DataFrame:
    """(h, doc_id, pos) — the stored row shape of :func:`_min_firsts`."""
    return firsts.select(
        "h", F.col("__first.doc_id").alias("doc_id"),
        F.col("__first.pos").alias("pos"),
    )


def read_gram_firsts(spark: SparkSession, store_path: str) -> DataFrame | None:
    """The min-merged (h, __first) relation of the whole store — the
    history side of every probe — or None when no gram has landed yet.
    Min-merging on read collapses grams several batches first saw to
    the true first."""
    grams = read_batches(spark, os.path.join(store_path, FIRSTS_TABLE))
    return None if grams is None else _min_firsts(grams)


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
    check_tag("batch_id", batch_id)
    pin_substring_params(store_path, k, hash_fn)
    mins = _min_firsts(dedup.positional_shingles(docs, id_col, text_col, k, hash_fn))
    table = os.path.join(store_path, FIRSTS_TABLE)
    seen = read_batches(docs.sparkSession, table, exclude=batch_id)
    if seen is not None:
        # no .distinct() on the store side: left_anti is already
        # membership semantics, and a distinct would add a full store
        # shuffle to every append
        mins = mins.join(seen.select("h"), "h", "left_anti")
    return append_batch(_flat(mins), table, batch_id)


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
    batch_mins = _min_firsts(grams).withColumnRenamed("__first", "__bmin")
    occ = grams.join(batch_mins, "h")
    first = F.col("__bmin")
    history = read_gram_firsts(spark, store_path)
    if history is not None:
        occ = occ.join(history, "h", "left")
        first = F.coalesce(F.col("__first"), first)
    redundant = occ.filter(
        F.struct("doc_id", "pos") != first
    ).select("doc_id", "pos")
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
    """Fold every batch partition into ``__base``, min-merged
    (``storage.compact``) — the read-side file count stops growing with
    ingest history, and the store's verdicts are unchanged. Returns the
    number of distinct grams kept."""
    return compact(
        spark, os.path.join(store_path, FIRSTS_TABLE),
        lambda rows: _flat(_min_firsts(rows)),
    )["base_rows"]
