"""Persisted mergeable-sketch rollups — incremental distinct-count stats.

The reference recomputes COUNT(DISTINCT ...) style verification and
profile numbers by rescanning staging tables per run (the pattern behind
its verification queries, docs/03_Data_Warehouse_Layers.md:775-814). At
100 TB a distinct-count over a year of raw data is a full scan; the
scale answer is the rollup-table (a.k.a. hypertable continuous
aggregate) shape: each ingest folds its slice into per-key HLL sketches
ONCE, and any later question — "distinct users last week / this quarter
/ all time" — is answered by UNIONING a handful of kilobyte sketch rows,
never re-reading the raw table. HLL union is associative, commutative,
and idempotent, which buys replay safety for free: re-merging the same
rows cannot inflate the estimate.

Everything stays JVM-side: Spark's Datasketches-backed
``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``.

Layout mirrors the other persisted artifacts (dedup_store, ann_store):
one parquet table partitioned by ``batch_id``; an append OVERWRITES its
own batch partition (dynamic partition overwrite), so a crashed-and-
retried ingest converges instead of double-counting ``n_rows``.
:func:`compact_sketch_store` folds finished batches into a single base
partition during maintenance — recurring batch ids (the gold chain's
``full-refresh``, anything passed via ``exclude``) stay live, and the
folded ids are persisted so re-appending one is a loud error rather
than a silent ``n_rows`` double-count. All store mutations serialize on
the same ``<path>__lock`` flock the other stores use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trialsync_etl_spark.storage import (
    atomic_write_json,
    file_lock,
    read_json_sidecar,
)

#: Datasketches lgConfigK: 2^12 registers ≈ 1.6% relative standard error
#: at ~4 KB per sketch — the usual accuracy/size sweet spot for rollups
DEFAULT_LGK = 12

BASE_BATCH = "__base"  # compaction target partition

#: The warehouse gold chain's fixed full-refresh batch id
#: (gold.refresh_sketch_rollup_events). Recurring ids are RE-APPENDED on
#: every refresh, so compaction must never fold them into ``__base``:
#: the next refresh would land the same rows under the then-empty
#: partition and ``n_rows`` would double-count (HLL distinct estimates
#: survive — union is idempotent — but the row count would not).
FULL_REFRESH_BATCH = "full-refresh"

#: Batch ids compaction leaves as live partitions by default.
DEFAULT_RECURRING = (FULL_REFRESH_BATCH,)

_SKETCH_SUFFIX = "__hll"


def sketch_rollup(
    df: DataFrame,
    key_cols: list[str],
    distinct_cols: list[str],
    lgk: int = DEFAULT_LGK,
) -> DataFrame:
    """One rollup row per key: an HLL sketch per tracked column plus the
    observed row count. A plain hash aggregate — one shuffle on the
    rollup key, map-side partial sketches, no matter how wide the scan."""
    aggs = [
        F.hll_sketch_agg(F.col(c), F.lit(lgk)).alias(c + _SKETCH_SUFFIX)
        for c in distinct_cols
    ] + [F.count(F.lit(1)).alias("n_rows")]
    return df.groupBy(*[F.col(k) for k in key_cols]).agg(*aggs)


def _merge_rollups(rollup: DataFrame, key_cols: list[str]) -> DataFrame:
    """Union sketch rows sharing a key (associative HLL merge)."""
    sketch_cols = [c for c in rollup.columns if c.endswith(_SKETCH_SUFFIX)]
    aggs = [
        F.hll_union_agg(F.col(c), F.lit(True)).alias(c) for c in sketch_cols
    ] + [F.sum("n_rows").alias("n_rows")]
    return rollup.groupBy(*[F.col(k) for k in key_cols]).agg(*aggs)


def append_rollup(rollup: DataFrame, store_path: str, batch_id: str) -> None:
    """Locked batch-partition append of a PREBUILT mergeable rollup: any
    key columns, any number of ``__hll`` sketch columns (zero is fine —
    the CM frequency cells of operators/freq.py use exactly this with
    key cols ``(d, idx)``), and one additive ``n_rows`` count column.
    Re-running a batch REPLACES its partition (dynamic partition
    overwrite), so retries converge — ``n_rows`` cannot double-count and
    the idempotent sketch union cannot inflate."""
    if not batch_id or batch_id.startswith("__"):
        raise ValueError("batch_id must be non-empty and not start with '__'")
    with file_lock(store_path + "__lock"):
        # the folded check lives INSIDE the lock: a concurrent
        # compact_sketch_store folding this batch_id between an unlocked
        # check and the write would re-land the partition and silently
        # double-count n_rows — the exact inflation the check exists to
        # make loud. (The batch's contribution already lives inside
        # ``__base`` and an HLL base cannot be subtracted from.) Loud
        # beats silently wrong: pick a fresh batch id, or keep recurring
        # ids out of compaction via its ``exclude`` param.
        if batch_id in _read_folded(store_path):
            raise ValueError(
                f"batch_id {batch_id!r} was folded into {BASE_BATCH!r} by "
                "compact_sketch_store; re-appending it would double-count "
                "n_rows. Use a new batch id, or exclude recurring ids from "
                "compaction."
            )
        rollup.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "overwrite"
        ).option("partitionOverwriteMode", "dynamic").partitionBy(
            "batch_id"
        ).parquet(store_path)


def append_sketch_rollup(
    df: DataFrame,
    store_path: str,
    key_cols: list[str],
    distinct_cols: list[str],
    batch_id: str,
    lgk: int = DEFAULT_LGK,
) -> None:
    """Fold one ingest's slice into the store under its ``batch_id``
    partition (see :func:`append_rollup` for the replay/compaction
    contract)."""
    if not distinct_cols:
        raise ValueError("append_sketch_rollup needs at least one distinct_col")
    append_rollup(
        sketch_rollup(df, key_cols, distinct_cols, lgk), store_path, batch_id
    )


def read_sketch_store(spark: SparkSession, store_path: str) -> DataFrame:
    """Read the store with ``batch_id`` pinned to STRING. Partition
    discovery type-inference would otherwise mangle exactly the batch ids
    the contract recommends: a date-prefixed ``2026-08-01`` infers as
    DATE (breaking the folded-id JSON and every ``batch_id >= '<str>'``
    window), and a zero-padded ``0001`` infers as INT ``1`` — silently a
    DIFFERENT id, so a replay would double-count instead of replacing its
    partition. An explicit schema makes Spark take the raw partition
    directory value as-is."""
    from pyspark.sql.types import StringType, StructField, StructType

    spark.catalog.refreshByPath(store_path)
    df = spark.read.parquet(store_path)
    if "batch_id" in df.columns and dict(df.dtypes)["batch_id"] != "string":
        pinned = StructType([
            f if f.name != "batch_id" else StructField("batch_id", StringType())
            for f in df.schema.fields
        ])
        df = spark.read.schema(pinned).parquet(store_path)
    return df


def store_key_cols(store: DataFrame) -> list[str]:
    """The rollup key columns ARE the store's schema minus the sketch,
    count, and batch columns — derived, never caller-supplied: trusting a
    flag here would let a mistyped compact silently collapse every
    per-key rollup into one keyless row."""
    return [
        c
        for c in store.columns
        if not c.endswith(_SKETCH_SUFFIX) and c not in ("n_rows", "batch_id")
    ]


def _folded_path(store_path: str) -> str:
    return store_path + "__folded.json"


def _read_folded(store_path: str) -> set[str]:
    """Batch ids whose contribution lives inside ``__base`` — persisted
    by compaction so a later append of the same id fails loudly instead
    of double-counting (HLL cannot subtract). A corrupt file raises
    instead of reading as empty: an empty set would let a folded id land
    again (double-counted ``n_rows``), and the next compaction would
    rewrite the file without the lost ids."""
    folded = read_json_sidecar(
        _folded_path(store_path),
        "sketch store folded-id list",
        "restore it, or rewrite it as a JSON list of every batch id ever "
        "folded into '__base' (re-appending one of those double-counts "
        "n_rows)",
    )
    return set(folded or ())


def _write_folded(store_path: str, folded: set[str]) -> None:
    atomic_write_json(_folded_path(store_path), sorted(folded))


def compact_sketch_store(
    spark: SparkSession,
    store_path: str,
    exclude: tuple[str, ...] = DEFAULT_RECURRING,
) -> dict:
    """Maintenance: fold finished batch partitions into the single
    ``__base`` partition — the store stays O(keys), not O(keys×batches).

    ``exclude``d batch ids (default: the gold chain's recurring
    ``full-refresh`` id) are left as live partitions: a recurring id is
    re-appended on every refresh, and folding it into a base that HLL
    cannot subtract from would double-count ``n_rows`` on the next
    refresh. The ids that WERE folded are persisted next to the store
    (``<path>__folded.json``); :func:`append_sketch_rollup` rejects them,
    so a stale producer (e.g. a streaming replay straddling the compact)
    surfaces as an error, never as silent inflation — quiesce streams
    writing to a store before compacting it.

    The read happens under the same lock as the rewrite (listing outside
    it would drop a concurrent append, cf. storage.compact_table)."""
    with file_lock(store_path + "__lock"):
        # read BEFORE the rewrite: a corrupt list must stop the fold, not
        # surface after the data already moved into __base
        folded = _read_folded(store_path)
        store = read_sketch_store(spark, store_path)
        key_cols = store_key_cols(store)
        batch_ids = {
            r["batch_id"] for r in store.select("batch_id").distinct().collect()
        }
        fold_ids = batch_ids - set(exclude)
        kept = batch_ids - fold_ids
        if not fold_ids or fold_ids == {BASE_BATCH}:
            return {
                "batches_merged": 0,
                "kept_batches": len(kept),
                "keys": store.count(),
            }
        base = _merge_rollups(
            store.filter(F.col("batch_id").isin(list(fold_ids))).drop("batch_id"),
            key_cols,
        ).withColumn("batch_id", F.lit(BASE_BATCH))
        out = base
        if kept:
            out = store.filter(
                F.col("batch_id").isin(list(kept))
            ).select(*base.columns).unionByName(base)
        # overwrite the WHOLE table (static overwrite): folded batch
        # partitions are replaced by the merged base + kept live partitions
        out.localCheckpoint().write.mode("overwrite").partitionBy(
            "batch_id"
        ).parquet(store_path)
        _write_folded(store_path, (folded | fold_ids) - {BASE_BATCH})
    n_keys = read_sketch_store(spark, store_path).count()
    return {
        "batches_merged": len(fold_ids - {BASE_BATCH}),
        "kept_batches": len(kept),
        "keys": n_keys,
    }


def estimate_rollup(
    spark: SparkSession,
    store_path: str,
    key_cols: list[str] | None = None,
    where: str | None = None,
) -> DataFrame:
    """Distinct-count estimates from the store alone — never the raw
    table. ``key_cols=None`` collapses everything into one global row;
    a subset of the stored keys re-groups (sketches union across the
    dropped keys); ``where`` prunes rollup rows first (e.g.
    ``"event_date >= '2026-01-01'"`` — a partition/footer prune over
    kilobytes). Output: keys..., <col>_distinct per sketch, n_rows."""
    store = read_sketch_store(spark, store_path).drop("batch_id")
    if where:
        store = store.filter(where)
    keys = key_cols or []
    sketch_cols = [c for c in store.columns if c.endswith(_SKETCH_SUFFIX)]
    merged = _merge_rollups(store, keys) if keys else store.agg(
        *[F.hll_union_agg(F.col(c), F.lit(True)).alias(c) for c in sketch_cols],
        F.sum("n_rows").alias("n_rows"),
    )
    return merged.select(
        *keys,
        *[
            F.hll_sketch_estimate(F.col(c))
            .alias(c[: -len(_SKETCH_SUFFIX)] + "_distinct")
            for c in sketch_cols
        ],
        "n_rows",
    )
