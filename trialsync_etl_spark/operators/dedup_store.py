"""Incremental near-dup detection against a persisted signature store.

At 100 TB you never re-MinHash the whole corpus per ingest: new batches
probe a PERSISTED signature store, emitting only new-vs-historical and
new-vs-new candidate pairs, then append their own signatures — history
is never re-hashed, re-shingled, or re-scored.

Layout (two append-log tables, ``storage.append_batch`` — the classic
LSH-index shape):

- ``<store>/bands`` — the band index, partitioned by ``batch_id``:
  (doc_id, band, band_key). Narrow rows; this is the only side the
  candidate join touches.
- ``<store>/sigs`` — (doc_id, h0..h{n-1}), partitioned by ``batch_id``:
  each document's MinHash signature stored ONCE. Only the few candidate
  pairs' rows are fetched for scoring.

Keeping the signature out of the band rows matters: a single table
carrying the full n-hash signature on EVERY band row is a ~(n_bands)×
write/storage/shuffle amplification (at 100 TB, a store ~12× larger than
the signatures it indexes). This two-table layout is the only one read:
a non-empty store dir without ``bands/``, or with a ``bands/`` partitioned
by ``band``, is refused with a ``ValueError`` (see :func:`_store_frames`),
never read as an empty store.

Each append lands as the caller's ``batch_id`` partition of both tables,
and the history probe excludes that partition — so re-running a batch
after a partial or complete append derives the same pair set (its own
earlier signatures are not mistaken for history) and rewrites its own
partitions, so the store converges too, crashed appends included, with
no compaction. :func:`compact_store` folds finished batches into
``__base`` (``storage.compact``) to bound the file count.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trialsync_etl_spark.operators.dedup import (
    est_jaccard,
    minhash_signatures_narrow,
)
from trialsync_etl_spark.storage import (
    append_batch,
    check_tag,
    compact,
    file_lock,
    read_batches,
)

BANDS_TABLE = "bands"
SIGS_TABLE = "sigs"


def _band_structs() -> list:
    """One (band, band_key) struct per LSH band, derived from the h0..h
    signature columns in the SAME projection — never via a
    ``lsh_band_keys(sigs).join(sigs)`` self-join, which would shuffle and
    evaluate the CPU-heavy signing subtree once per side."""
    from trialsync_etl_spark.operators.dedup import N_BANDS, ROWS_PER_BAND

    out = []
    for b in range(N_BANDS):
        cols = [
            F.col(f"h{j}").cast("string")
            for j in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)
        ]
        out.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("_", *cols)).alias("band_key"),
            )
        )
    return out


def _h_cols() -> list[str]:
    from trialsync_etl_spark.operators.dedup import MINHASH_SEEDS

    return [f"h{j}" for j in range(len(MINHASH_SEEDS))]


def _signed(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """Narrow per-doc signatures (doc_id, h0..h{n-1}) at full signing
    parallelism — `minhash_signatures_narrow` spreads under-partitioned
    inputs itself (dedup.spread_for_cpu), so a 1-file micro-batch still
    signs across the whole executor."""
    return minhash_signatures_narrow(docs, id_col, text_col, k, hash_fn)


def _band_keys(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) exploded from a signature frame — the
    narrow band-index rows; 3 columns regardless of signature width."""
    return sigs.select(
        "doc_id", F.explode(F.array(*_band_structs())).alias("__bk")
    ).select(
        "doc_id",
        F.col("__bk.band").alias("band"),
        F.col("__bk.band_key").alias("band_key"),
    )


def _store_frames(
    spark: SparkSession, store_path: str, exclude: str | None = None
) -> tuple[DataFrame, DataFrame] | None:
    """(bands, sigs) of a store without batch ``exclude``, or None when
    the store holds no history yet (a missing or empty dir, or a first
    append that landed its bands but not its sigs). A dir without
    ``bands/``, or with the ``band=``-partitioned ``bands/`` of an older
    layout, is a foreign layout and raises ``ValueError``: reading it as
    "no history" would silently drop every history verdict and land new
    batches beside the old files."""
    bands_dir = os.path.join(store_path, BANDS_TABLE)
    foreign = (
        any(n.startswith("band=") for n in os.listdir(bands_dir))
        if os.path.isdir(bands_dir)
        else os.path.isdir(store_path)
        and any(not n.endswith("__lock") for n in os.listdir(store_path))
    )
    if foreign:
        raise ValueError(
            f"near-dup store {store_path} is not in the store layout: "
            f"expected {store_path}/{BANDS_TABLE} (doc_id, band, band_key; "
            f"partitioned by batch_id) and {store_path}/{SIGS_TABLE} "
            f"(doc_id, h0..h{{n-1}}; partitioned by batch_id)"
        )
    bands = read_batches(spark, bands_dir, exclude)
    sigs = read_batches(spark, os.path.join(store_path, SIGS_TABLE), exclude)
    return None if bands is None or sigs is None else (bands, sigs)


def incremental_dup_pairs(
    spark: SparkSession,
    new_docs: DataFrame,
    store_path: str,
    min_est_jaccard: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    *,
    batch_id: str,
) -> DataFrame:
    """Detect near-dups of `new_docs` against the store AND within the
    batch, then append the batch's signatures (tagged ``batch_id``) to
    the store.

    Returns (doc_a, doc_b, est_jaccard, vs) with vs ∈ {'history','batch'};
    `doc_b` is always the new doc. Candidates come from the narrow band
    index (equi-join on band + band_key); only the candidate pairs'
    signature rows are fetched for scoring — the n-hash columns are never
    shuffled per band.

    ``batch_id`` must be a stable per-ingest identifier (the ETL run id):
    the history probe excludes rows tagged with the CURRENT batch_id, so
    re-running a batch whose previous attempt already appended (partially
    or fully) derives the same pairs instead of re-labelling its own
    signatures as history. Distinct batches must use distinct ids —
    reusing an id hides that earlier batch from the probe, which is why
    the argument is required (a shared default would silently exclude
    every prior default-tagged append from history).

    A store dir in a foreign layout raises ``ValueError`` (see
    :func:`_store_frames`).
    """
    check_tag("batch_id", batch_id)
    sigs = _signed(new_docs, id_col, text_col, k).persist()
    keys = _band_keys(sigs).persist()

    # the WHOLE probe-then-append sequence holds the store lock: the probe
    # lists store files and materializes lazily, so a concurrent
    # compact_store (which removes the partitions it folds) could yank
    # files out from under in-flight probe tasks if the lock only
    # covered the append
    try:
        with file_lock(store_path + "__lock"):
            result = _probe_and_append_locked(
                spark, sigs, keys, store_path, min_est_jaccard, batch_id
            )
    finally:
        # also on a failed probe/append — a streaming sink retrying a
        # micro-batch must not accumulate pinned signature blocks
        keys.unpersist()
        sigs.unpersist()
    return result


def _probe_and_append_locked(
    spark: SparkSession,
    sigs: DataFrame,
    keys: DataFrame,
    store_path: str,
    min_est_jaccard: float,
    batch_id: str,
) -> DataFrame:
    h_cols = _h_cols()
    cands = []
    a_sides = [
        sigs.select("doc_id", *h_cols, F.lit("batch").alias("__side"))
    ]
    frames = _store_frames(spark, store_path, exclude=batch_id)
    if frames is not None:
        bands_h, sigs_h = frames
        cands.append(
            bands_h.alias("hb")
            .join(
                keys.alias("nk"),
                (F.col("hb.band") == F.col("nk.band"))
                & (F.col("hb.band_key") == F.col("nk.band_key"))
                & (F.col("hb.doc_id") != F.col("nk.doc_id")),
            )
            .select(
                F.col("hb.doc_id").alias("doc_a"),
                F.col("nk.doc_id").alias("doc_b"),
                F.lit("history").alias("vs"),
            )
        )
        a_sides.append(
            sigs_h.select(
                "doc_id", *h_cols, F.lit("history").alias("__side")
            )
        )

    cands.append(
        keys.alias("ka")
        .join(
            keys.alias("kb"),
            (F.col("ka.band") == F.col("kb.band"))
            & (F.col("ka.band_key") == F.col("kb.band_key"))
            & (F.col("ka.doc_id") < F.col("kb.doc_id")),
        )
        .select(
            F.col("ka.doc_id").alias("doc_a"),
            F.col("kb.doc_id").alias("doc_b"),
            F.lit("batch").alias("vs"),
        )
    )

    # ONE scoring pipeline for both verdict kinds: candidates (with their
    # per-band duplicates — cheaper to score 16 narrow comparisons than to
    # pre-shuffle a distinct) fetch the a-side signature from the union of
    # history + batch sigs and the b-side from the batch, then one
    # aggregate collapses band-duplicates (identical sigs → identical
    # scores). The __side tag keeps the fetch version-correct: a doc
    # re-ingested under a new batch shares its id with its history copy,
    # and a 'history' candidate must score against the STORED signature,
    # never the batch's fresh one.
    cand = cands[0]
    for c in cands[1:]:
        cand = cand.unionByName(c)
    a_sigs = a_sides[0]
    for s in a_sides[1:]:
        a_sigs = a_sigs.unionByName(s)
    out = (
        cand.join(
            a_sigs.alias("a"),
            (F.col("doc_a") == F.col("a.doc_id"))
            & (F.col("vs") == F.col("a.__side")),
        )
        .join(
            sigs.select("doc_id", *h_cols).alias("b"),
            F.col("doc_b") == F.col("b.doc_id"),
        )
        .select(
            "doc_a",
            "doc_b",
            est_jaccard("a", "b").alias("est_jaccard"),
            "vs",
        )
        # ONE row per (pair, verdict kind): the max over stored versions —
        # a history doc re-ingested under several batches carries a
        # signature per version, and scoring against each would emit
        # duplicate pair rows with different estimates (downstream
        # consumers key on the pair). Max-then-threshold means "a dup if
        # ANY stored version matches", and collapses band-duplicates as a
        # bonus (identical sigs → identical scores), so no distinct pass.
        .groupBy("doc_a", "doc_b", "vs")
        .agg(F.max("est_jaccard").alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= min_est_jaccard)
        .select("doc_a", "doc_b", "est_jaccard", "vs")
    )

    # localCheckpoint (eager) pins the pair set BEFORE the store mutates:
    # a lazily-evaluated result would re-list the store after the append
    # and re-read the just-appended rows. Caller holds the store lock.
    result = out.localCheckpoint(eager=True)
    if sigs.isEmpty():
        # an empty batch must not CREATE the store: a bands/ dir holding
        # only _SUCCESS has no batch to read and no schema to infer.
        # (Appending empty to an existing store is a no-op.)
        return result
    # bands first: a crash between the two appends leaves bands without
    # sigs, which the probe reads as no history for that batch, and the
    # replay rewrites both partitions
    append_batch(keys, os.path.join(store_path, BANDS_TABLE), batch_id)
    append_batch(sigs, os.path.join(store_path, SIGS_TABLE), batch_id)
    return result


def compact_store(spark: SparkSession, store_path: str) -> int:
    """Maintenance: fold both store tables' batches into ``__base``
    (``storage.compact``), distinct-merged — a signature stored by two
    batches for one doc is kept once per distinct version. Holds the
    store's ``__lock`` too, so no probe is reading the partitions the
    fold removes. Returns the signature rows of the new base, observed
    on its write. A store dir in a foreign layout raises ``ValueError``
    (see :func:`_store_frames`)."""
    with file_lock(store_path + "__lock"):
        if _store_frames(spark, store_path) is None:
            return 0
        compact(spark, os.path.join(store_path, BANDS_TABLE), DataFrame.distinct)
        return compact(
            spark, os.path.join(store_path, SIGS_TABLE), DataFrame.distinct
        )["base_rows"]
