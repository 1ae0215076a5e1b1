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

Layout: one append-log table (``storage.append_batch``), partitioned by
``batch_id``; an append OVERWRITES its own batch partition, so a
crashed-and-retried ingest converges instead of double-counting
``n_rows``. :func:`compact_sketch_store` folds finished batches into the
``__base`` partition during maintenance (``storage.compact``) —
recurring batch ids (the gold chain's ``full-refresh``, anything passed
via ``exclude``) stay live, and the folded ids land in the table's
ledger, so re-appending one is a loud error rather than a silent
``n_rows`` double-count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trialsync_etl_spark.storage import (  # noqa: F401 (BASE_BATCH re-exported)
    BASE_BATCH,
    append_batch,
    compact,
    read_batches,
)

#: Datasketches lgConfigK: 2^12 registers ≈ 1.6% relative standard error
#: at ~4 KB per sketch — the usual accuracy/size sweet spot for rollups
DEFAULT_LGK = 12

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


def append_sketch_rollup(
    df: DataFrame,
    store_path: str,
    key_cols: list[str],
    distinct_cols: list[str],
    batch_id: str,
    lgk: int = DEFAULT_LGK,
) -> int:
    """Fold one ingest's slice into the store under its ``batch_id``
    partition (``storage.append_batch``: a replay replaces its partition,
    a folded id is refused); returns the rollup rows written."""
    if not distinct_cols:
        raise ValueError("append_sketch_rollup needs at least one distinct_col")
    return append_batch(
        sketch_rollup(df, key_cols, distinct_cols, lgk), store_path, batch_id
    )


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
    refresh. The ids that WERE folded are recorded in the store's
    folded-id ledger; :func:`append_sketch_rollup` rejects them,
    so a stale producer (e.g. a streaming replay straddling the compact)
    surfaces as an error, never as silent inflation — quiesce streams
    writing to a store before compacting it.

    Returns ``storage.compact``'s counts."""
    return compact(
        spark, store_path,
        lambda rows: _merge_rollups(rows, store_key_cols(rows)),
        keep=exclude,
    )


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
    store = read_batches(spark, store_path).drop("batch_id")
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
