"""Incremental near-dup detection against a persisted signature store.

At 100 TB you never re-MinHash the whole corpus per ingest: new batches
probe a PERSISTED signature store, emitting only new-vs-historical and
new-vs-new candidate pairs, then append their own signatures — history
is never re-hashed, re-shingled, or re-scored.

Layout (two tables — the classic LSH-index shape):

- ``<store>/bands`` — the band index, partitioned by ``band``:
  (doc_id, band, band_key, batch_id). Narrow rows; this is the only
  side the candidate join touches.
- ``<store>/sigs`` — (doc_id, h0..h{n-1}, batch_id): each document's
  MinHash signature stored ONCE. Only the few candidate pairs' rows are
  fetched for scoring.

The earlier single-table layout carried the full n-hash signature on
EVERY band row — a ~(n_bands)× write/storage/shuffle amplification that
dominated the streaming gate's per-batch cost (and at 100 TB would have
made the store ~12× larger than the signatures it indexes). Legacy
combined stores are migrated in place, under the store lock, on first
probe/compact (:func:`_migrate_v1_locked`).

Each appended row is tagged with the caller's ``batch_id``, and the
history probe excludes the current batch's id — so re-running a batch
after a partial or complete append still derives the same pair set (its
own earlier signatures are not mistaken for history). A rerun of the
last COMPLETED append (``<store>/_last_append`` names its batch_id)
appends nothing, so the store converges too. An append that crashed
midway is NOT atomic: its rerun can leave duplicate rows for the same
(doc_id, batch_id); pair derivation is insensitive to them (pairs are
DISTINCT and re-derived, never stored), and :func:`compact_store`
removes them during maintenance.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trialsync_etl_spark.operators.dedup import (
    est_jaccard,
    minhash_signatures_narrow,
)
from trialsync_etl_spark.storage import atomic_write_text, file_lock, swap_publish

BANDS_TABLE = "bands"
SIGS_TABLE = "sigs"
LAST_APPEND = "_last_append"  # batch_id of the last completed append


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


def batch_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """(doc_id, band, band_key, h0..h{n-1}) for a batch — the LEGACY
    combined-store row shape, kept for the plan gate on the signing
    filter form and for reading v1 stores during migration. The live
    probe/append path uses :func:`_signed` + :func:`_band_keys`, which
    never materialize the signature × band cross product."""
    sigs = _signed(docs, id_col, text_col, k, hash_fn)
    h_cols = _h_cols()
    return sigs.select(
        "doc_id", F.explode(F.array(*_band_structs())).alias("__bk"), *h_cols
    ).select(
        "doc_id",
        F.col("__bk.band").alias("band"),
        F.col("__bk.band_key").alias("band_key"),
        *h_cols,
    )


def _is_v2(store_path: str) -> bool:
    return os.path.isdir(os.path.join(store_path, BANDS_TABLE))


def _staged_complete(tmp: str) -> bool:
    return all(
        os.path.exists(os.path.join(tmp, t, "_SUCCESS"))
        for t in (BANDS_TABLE, SIGS_TABLE)
    )


def _migrate_v1_locked(spark: SparkSession, store_path: str) -> None:
    """One-off in-place rewrite of a legacy combined store (wide rows,
    band-partitioned, possibly behind a swap_publish pointer) into the
    bands/ + sigs/ layout. Caller holds the store lock. Crash-safe by
    ordering: the rewrite is staged to ``__migrate`` first, the legacy
    store (dir or pointer) is RENAMED aside to ``__premigration`` (never
    deleted before the staged copy is in place), the staged copy renames
    in, and only then are the old files dropped — every crash window
    leaves either the intact legacy store or a recoverable pair, and the
    preamble below finishes or rolls back an interrupted attempt."""
    import glob
    import shutil

    tmp = store_path + "__migrate"
    bak = store_path + "__premigration"

    def _cleanup() -> None:
        shutil.rmtree(tmp, ignore_errors=True)
        if os.path.islink(bak):
            # the legacy pointer: its version-dir target dies with the
            # publish artifacts below
            os.unlink(bak)
        else:
            shutil.rmtree(bak, ignore_errors=True)
        for leftover in glob.glob(store_path + "__*"):
            if leftover in (store_path + "__lock", tmp, bak):
                continue
            if os.path.islink(leftover) or not os.path.isdir(leftover):
                os.remove(leftover)
            else:
                shutil.rmtree(leftover, ignore_errors=True)

    # recovery from an interrupted earlier migration (we hold the lock):
    # store gone but both pieces present → finish or roll back
    if not os.path.exists(store_path) and os.path.exists(bak):
        if _staged_complete(tmp):
            os.rename(tmp, store_path)
            _cleanup()
        else:
            os.rename(bak, store_path)
            shutil.rmtree(tmp, ignore_errors=True)
    if _is_v2(store_path):
        # stale staging/backup from a crash after the final rename
        if os.path.exists(tmp) or os.path.exists(bak):
            _cleanup()
        return
    if not os.path.exists(store_path):
        return
    real = os.path.realpath(store_path)
    if not os.listdir(real):  # bare dir, nothing landed: treat as fresh
        return
    wide = spark.read.option("mergeSchema", "true").parquet(real)
    if "batch_id" not in wide.columns:  # pre-tagging stores
        wide = wide.withColumn("batch_id", F.lit(None).cast("string"))
    shutil.rmtree(tmp, ignore_errors=True)
    wide.select("doc_id", "band", "band_key", "batch_id").write.mode(
        "overwrite"
    ).partitionBy("band").parquet(os.path.join(tmp, BANDS_TABLE))
    # every doc has exactly one row per band — band 0 carries the sig
    wide.filter(F.col("band") == 0).select(
        "doc_id", *_h_cols(), "batch_id"
    ).write.mode("overwrite").parquet(os.path.join(tmp, SIGS_TABLE))
    if os.path.islink(bak):
        os.unlink(bak)  # stale leftover; rename below must not collide
    else:
        shutil.rmtree(bak, ignore_errors=True)
    os.rename(store_path, bak)  # renames a pointer link itself, not its target
    os.rename(tmp, store_path)
    _cleanup()


def _store_frames(
    spark: SparkSession, store_path: str
) -> tuple[DataFrame, DataFrame] | None:
    """(bands, sigs) of a v2 store, or None when the store doesn't exist
    yet. mergeSchema: migrated legacy rows may lack columns later appends
    carry; a sampled-footer read could resolve either schema."""
    if not _is_v2(store_path):
        return None
    bands = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(store_path, BANDS_TABLE)
    )
    sigs = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(store_path, SIGS_TABLE)
    )
    return bands, sigs


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
    also_exclude: tuple[str, ...] = (),
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

    ``also_exclude``: extra batch_ids treated as this batch's own earlier
    attempts — for callers whose tagging scheme changed (the streaming
    sink's pre-uuid ``stream-<n>`` tags), so a replay after an upgrade
    still excludes the crashed attempt's partial append instead of
    probing it as history (which would drop BOTH docs of each pair).
    """
    if not batch_id:
        raise ValueError("batch_id must be a non-empty per-ingest identifier")
    sigs = _signed(new_docs, id_col, text_col, k).persist()
    keys = _band_keys(sigs).persist()

    # the WHOLE probe-then-append sequence holds the store lock: the probe
    # lists store files and materializes lazily, so a concurrent
    # compact_store republish (which deletes the previous version dir
    # right after its swap) could yank files out from under in-flight
    # probe tasks if the lock only covered the append
    try:
        with file_lock(store_path + "__lock"):
            _migrate_v1_locked(spark, store_path)
            result = _probe_and_append_locked(
                spark, sigs, keys, store_path, min_est_jaccard, batch_id,
                also_exclude,
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
    also_exclude: tuple[str, ...] = (),
) -> DataFrame:
    h_cols = _h_cols()
    cands = []
    a_sides = [
        sigs.select("doc_id", *h_cols, F.lit("batch").alias("__side"))
    ]
    frames = _store_frames(spark, store_path)
    if frames is not None:
        bands_h, sigs_h = frames
        excluded = (batch_id, *also_exclude)
        keep = F.col("batch_id").isNull() | ~F.col("batch_id").isin(*excluded)
        cands.append(
            bands_h.filter(keep)
            .alias("hb")
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
            sigs_h.filter(keep).select(
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
    # history + batch sigs and the b-side from the batch, then a single
    # distinct collapses band-duplicates and any duplicate signature rows
    # a crashed un-compacted append left (identical sigs → identical
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
    if _last_append(store_path) == batch_id:
        # a rerun of the append that completed last: its rows are
        # already in the store, appending them again would duplicate
        return result
    if sigs.isEmpty():
        # an empty batch must not CREATE the store: a bands/ dir holding
        # only _SUCCESS has no inferable schema and would wedge every
        # later probe. (Appending empty to an existing store is a no-op.)
        return result
    # no makedirs: the bands write creates the store dir, so a crash
    # before it can never leave a bare dir that later reads as a store
    real = os.path.realpath(store_path)
    keys.withColumn("batch_id", F.lit(batch_id)).write.mode(
        "append"
    ).partitionBy("band").parquet(
        os.path.realpath(os.path.join(real, BANDS_TABLE))
        if os.path.exists(os.path.join(real, BANDS_TABLE))
        else os.path.join(real, BANDS_TABLE)
    )
    sigs.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
        os.path.realpath(os.path.join(real, SIGS_TABLE))
        if os.path.exists(os.path.join(real, SIGS_TABLE))
        else os.path.join(real, SIGS_TABLE)
    )
    atomic_write_text(os.path.join(store_path, LAST_APPEND), batch_id)
    return result


def _last_append(store_path: str) -> str | None:
    """The batch_id of the store's last completed append, if recorded.
    The marker lives inside the store dir, so it dies with the store."""
    try:
        with open(os.path.join(store_path, LAST_APPEND), encoding="utf-8") as fh:
            return fh.read()
    except FileNotFoundError:
        return None


def compact_store(spark: SparkSession, store_path: str) -> int:
    """Maintenance: drop duplicate rows left by re-run appends (same
    doc_id from the same batch_id) from both store tables and rewrite
    them atomically; legacy combined stores are migrated first. The read
    and the republish share the store's ``__lock`` so a concurrent
    ``incremental_dup_pairs`` append cannot commit between them and be
    dropped by the swap. Returns the compacted signature-row count (one
    row per (doc_id, batch_id))."""
    with file_lock(store_path + "__lock"):
        _migrate_v1_locked(spark, store_path)
        frames = _store_frames(spark, store_path)
        if frames is None:
            return 0
        bands, sigs = frames
        swap_publish(
            bands.dropDuplicates(["doc_id", "band", "batch_id"]),
            os.path.join(store_path, BANDS_TABLE),
            partition_by=("band",),
            already_locked=True,
        )
        swap_publish(
            sigs.dropDuplicates(["doc_id", "batch_id"]),
            os.path.join(store_path, SIGS_TABLE),
            already_locked=True,
        )
    return spark.read.parquet(os.path.join(store_path, SIGS_TABLE)).count()
