"""Bounded-memory frequency estimation: count-min sketch + exact heavy
hitters — the skew DIAGNOSIS side of the skew story.

`skew.top_keys` is exact but shuffles one row per DISTINCT key — fine for
enum-grade dimensions, corpus-sized for user/url-grade keys at 100 TB.
`salted_agg` / `salted_join` and the AQE skew-join all consume a hot-key
decision someone has to make; these operators make it with every stage
bounded:

- :func:`cm_sketch` — a count-min sketch materialized as a ``(d, idx,
  cnt)`` cell table of at most ``depth × width`` rows. The explode
  multiplies rows ``depth``× BEFORE the aggregate, but map-side partial
  aggregation collapses each task to ≤ depth·width cells, so shuffle
  volume is ``tasks × depth × width`` whatever N is. Counts are additive,
  so merging is EXACT: ``cm_merge(cm_sketch(A), cm_sketch(B))`` equals
  ``cm_sketch(A ∪ B)`` row for row — the same mergeable-rollup property
  the HLL store (operators/sketch_store.py) builds on, for frequencies
  instead of distincts.
- :func:`cm_estimate` — point lookups: min over the key's ``depth``
  cells; classic CM guarantee: ``true ≤ est``, and
  ``est ≤ true + N·e/width`` with probability ≥ 1 − e^−depth per key.
- :func:`heavy_hitters` — the keys with frequency ≥ ``phi·N``, EXACTLY,
  in two bounded passes: a seeded Bernoulli sample nominates candidates
  (a true hot key is missed with probability ≤ ``delta`` — Chernoff on
  the sample hit count; at most ~2/phi candidates cross the driver), and
  one exact count over JUST the candidate rows verifies. False
  candidates are removed exactly, so the output equals the exact
  ``GROUP BY … HAVING count ≥ phi·N`` whenever no true hot key was
  missed. NULL keys are ignored (they are a data-quality question, not a
  skew question — and `isin` can't express them).

Reference anchor: the reference has no frequency sketches; this extends
the beyond-reference scale surface next to `operators/skew.py` (salting
consumes exactly the keys `heavy_hitters` emits) and
`operators/sketch_store.py` (the distinct-count sibling).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from trialsync_etl_spark.storage import (
    BASE_BATCH,
    PinnedParams,
    append_batch,
    read_batches,
)

DEFAULT_DEPTH = 4
DEFAULT_WIDTH = 4096


def _cells(key: Column, depth: int, width: int) -> Column:
    """The key's one cell per hash row: xxhash64 seeded by the row index
    is the standard pairwise-independent-enough family, JVM-codegen'd."""
    return F.array(*[
        F.struct(
            F.lit(i).alias("d"),
            F.pmod(
                F.xxhash64(F.lit(i), key.cast("string")), F.lit(width)
            ).cast("int").alias("idx"),
        )
        for i in range(depth)
    ])


def cm_sketch(
    df: DataFrame,
    key_col: str,
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
) -> DataFrame:
    """Build the sketch: ``(d, idx, cnt)`` with at most depth·width rows.
    NULL keys are dropped (see module docstring)."""
    c = F.explode(_cells(F.col(key_col), depth, width)).alias("c")
    return (
        df.filter(F.col(key_col).isNotNull())
        .select(c)
        .groupBy(F.col("c.d").alias("d"), F.col("c.idx").alias("idx"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cm_merge(*sketches: DataFrame) -> DataFrame:
    """Exact union of sketches built with the SAME (depth, width): cell
    counts are additive, so this is algebraically ``cm_sketch`` of the
    concatenated inputs."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("d", "idx").agg(F.sum("cnt").alias("cnt"))


def cm_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
) -> DataFrame:
    """Estimated frequency for each (distinct, non-null) key in ``keys``:
    min over its ``depth`` cells, 0 for a never-seen key (its cell has no
    row — the left join's null coalesces to 0, which keeps the
    overestimate-only direction). ``depth``/``width`` MUST match the
    sketch's build parameters. The sketch side is broadcast — it is at
    most depth·width rows by construction."""
    # the key travels under an internal name so a key column that happens
    # to be called d/idx/cnt cannot collide with the sketch's own columns
    cells = (
        keys.filter(F.col(key_col).isNotNull())
        .select(F.col(key_col).alias("__key"))
        .distinct()
        .select(
            "__key", F.explode(_cells(F.col("__key"), depth, width)).alias("c")
        )
        .select("__key", F.col("c.d").alias("d"), F.col("c.idx").alias("idx"))
    )
    return (
        cells.join(F.broadcast(sketch), ["d", "idx"], "left")
        .groupBy("__key")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
        .select(F.col("__key").alias(key_col), "est_count")
    )


#: (depth, width) pinned beside the store on first append, under the
#: store's ``<store>__lock`` (the table lock ``storage.append_batch``
#: takes): cells hashed mod a different width would silently estimate 0
#: for genuinely hot keys — the exact silently-wrong failure the folded-
#: id ledger exists to keep loud. A store created before the params file
#: existed resolves to the caller's values or the module defaults.
_CM_PARAMS = PinnedParams(
    label="CM store",
    suffix="__cm.json",
    lock_suffix="__lock",
    keys=("depth", "width"),
    hint="restore it with the store's original (depth, width), or rebuild "
    "the store from its source",
    why="mixed parameters break the overestimate-only guarantee",
    defaults={"depth": DEFAULT_DEPTH, "width": DEFAULT_WIDTH},
)


def read_cm_params(store_path: str) -> dict | None:
    """The store's pinned (depth, width), or None for a store created
    before the params file existed (callers then fall back to their own
    arguments — the legacy behavior). A present-but-unreadable file
    raises the "unreadable … rebuild" error."""
    return _CM_PARAMS.read(store_path)


def append_cm_rollup(
    df: DataFrame,
    store_path: str,
    key_col: str,
    batch_id: str,
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
) -> int:
    """Fold one ingest's frequencies into a persisted CM store — the
    frequency sibling of ``append_sketch_rollup``, on the SAME append log
    (``storage.append_batch``): one parquet table partitioned by
    ``batch_id``, a re-append replaces its partition (replay
    convergence), and ``compact_sketch_store`` folds finished batches
    into ``__base`` UNCHANGED — with no ``__hll`` columns its merge
    degenerates to the additive cell sum, which for CM is exact, and the
    folded-id ledger keeps a stale replay loud. (depth, width) are pinned
    beside the store on first append; later appends and all reads
    validate against the pin. Window asks (``batch_id >= …``) only
    survive for batches not yet folded — compact closed windows only.
    Returns the cells written.

    Cell counts are ADDITIVE, so the same rows must fold exactly once:
    pick ONE cadence per store (a full-refresh transform OR per-ingest
    ids — never both over the same rows; unlike the HLL store, where a
    double fold only inflates the auxiliary n_rows, here it doubles the
    primary estimate). Exclude a window at read time with ``where`` if a
    store must carry both."""
    _CM_PARAMS.pin(store_path, depth=depth, width=width)
    cells = cm_sketch(df, key_col, depth, width).withColumnRenamed(
        "cnt", "n_rows"
    )
    return append_batch(cells, store_path, batch_id)


def read_cm_store(
    spark,
    store_path: str,
    where: str | None = None,
    include_base: bool | None = None,
) -> DataFrame:
    """The merged ``(d, idx, cnt)`` sketch from the store alone — never
    the raw table. ``where`` prunes batch partitions first (e.g.
    ``"batch_id >= '2026-08-01'"`` for a windowed hot-key question —
    kilobytes of cells, not a rescan).

    A ``where`` window ALWAYS excludes the compacted ``__base`` partition
    unless the caller states intent with ``include_base=True`` — no
    predicate inspection: ``'__base'`` sorts lexicographically ABOVE
    every digit-prefixed batch id (``'_' > '9'``), so a naive
    ``batch_id >= '<date>'`` range would silently fold ALL compacted
    history into the window after the first
    ``maintain_compact_freq_store`` run — the exact silently-wrong
    estimate this module exists to prevent. (Even a predicate that NAMES
    the base partition, e.g. ``"batch_id = '__base'"``, needs
    ``include_base=True``: substring-sniffing the where-string would
    flip on ``batch_id != '__base'`` too, so the explicit parameter is
    the only override.) A ``where`` that NAMES ``'__base'`` while
    ``include_base`` is unstated raises instead of silently emptying the
    window — state intent with ``include_base=True`` (window over the
    base) or ``include_base=False`` (assert its exclusion). With no
    ``where`` the full store (base included) merges, as before."""
    store = read_batches(spark, store_path)
    if where:
        # loud-contradiction guard: a predicate that NAMES the base
        # partition while include_base is unstated is ambiguous — under
        # the default exclusion, "batch_id = '__base'" selects the base
        # and then drops it, returning an EMPTY sketch (hot_key_drift
        # against compacted history would quietly report nothing).
        # Require the caller to state intent instead of guessing; this
        # is a hard error, not a predicate sniff that changes semantics.
        if include_base is None and BASE_BATCH in where:
            raise ValueError(
                f"read_cm_store: where predicate names the compacted "
                f"base partition ({BASE_BATCH!r}) but include_base is "
                "unstated — pass include_base=True to window over the "
                "base, or include_base=False to assert its exclusion "
                "(the default exclusion would silently empty a "
                "base-only window)"
            )
        store = store.filter(where)
        if not include_base:
            store = store.filter(F.col("batch_id") != BASE_BATCH)
    return store.groupBy("d", "idx").agg(F.sum("n_rows").alias("cnt"))


def cm_store_estimate(
    spark,
    store_path: str,
    keys: DataFrame,
    key_col: str,
    depth: int | None = None,
    width: int | None = None,
    where: str | None = None,
    include_base: bool | None = None,
) -> DataFrame:
    """Point frequency estimates straight from the persisted store:
    exactly :func:`cm_estimate` over :func:`read_cm_store` (the merge is
    exact, so this equals estimating against one sketch built over every
    stored batch's rows). (depth, width) come from the store's pinned
    params — pass them only to assert what you expect (mismatch raises).
    ``where`` windows exclude the compacted ``__base`` partition unless
    ``include_base=True`` (see :func:`read_cm_store`)."""
    depth, width = _CM_PARAMS.resolve(store_path, depth=depth, width=width)
    return cm_estimate(
        read_cm_store(spark, store_path, where, include_base),
        keys, key_col, depth, width,
    )


def hot_key_drift(
    spark,
    store_path: str,
    keys: DataFrame,
    key_col: str,
    where_a: str,
    where_b: str,
    min_share_delta: float = 0.05,
    depth: int | None = None,
    width: int | None = None,
    include_base_a: bool | None = None,
    include_base_b: bool | None = None,
) -> DataFrame:
    """Which keys got HOT between two windows of the persisted CM store —
    "is a key skewing today that wasn't last week" answered from cells
    alone, never a raw rescan. ``where_a``/``where_b`` are batch-partition
    filters selecting the two windows (e.g. the streaming sink's per-day
    tags, or ``"batch_id = '__base'"`` with ``include_base_a=True`` vs
    everything since the last compact — a window always excludes the
    compacted ``__base`` partition unless the matching
    ``include_base_a``/``include_base_b`` says otherwise, see
    :func:`read_cm_store`, so a date range never silently
    folds compacted history in); shares are each window's
    estimated count over that window's
    total (the cell sums give the total for free: every ingested row adds
    exactly 1 to each of the ``depth`` rows' cells). Returns
    ``(key_col, share_a, share_b, share_delta)`` for keys whose share
    grew by at least ``min_share_delta``, worst first. Estimates are
    overestimate-only, so a reported delta can be inflated by at most the
    CM error (N·e/width per side) — pick width accordingly; verify a
    flagged key exactly with one :func:`heavy_hitters`-style count if it
    gates an action."""
    if key_col in ("share_a", "share_b", "share_delta"):
        raise ValueError(f"key_col {key_col!r} collides with output columns")
    depth, width = _CM_PARAMS.resolve(store_path, depth=depth, width=width)
    out = None
    for tag, where, inc_base in (
        ("a", where_a, include_base_a), ("b", where_b, include_base_b)
    ):
        cells = read_cm_store(spark, store_path, where, inc_base)
        # each row increments one cell per depth row: total = sum/depth
        total = (cells.agg(F.sum("cnt")).first()[0] or 0) / depth
        est = cm_estimate(cells, keys, key_col, depth, width).select(
            key_col,
            (
                F.col("est_count") / F.lit(float(total or 1))
            ).alias(f"share_{tag}"),
        )
        out = est if out is None else out.join(est, key_col, "full")
    return (
        out.fillna(0.0, ["share_a", "share_b"])
        .withColumn(
            "share_delta", F.round(F.col("share_b") - F.col("share_a"), 6)
        )
        .withColumn("share_a", F.round("share_a", 6))
        .withColumn("share_b", F.round("share_b", 6))
        .filter(F.col("share_delta") >= F.lit(min_share_delta))
        .orderBy(F.col("share_delta").desc(), F.col(key_col))
    )


def heavy_hitters(
    df: DataFrame,
    key_col: str,
    phi: float = 0.01,
    delta: float = 1e-9,
    seed: int = 42,
    total: int | None = None,
) -> DataFrame:
    """EXACT keys with frequency ≥ ``phi``·N as ``(key_col, n_rows,
    share)``, share rounded to 6dp.

    Pass 1 nominates candidates from a Bernoulli sample at rate
    ``q = 8·ln(1/delta) / (phi·N)`` (clamped to 1): a key with true count
    ≥ phi·N has expected sample hits q·phi·N = 8·ln(1/delta), so by
    Chernoff it falls below the cutoff q·phi·N/2 with probability ≤
    delta. At most ~2/phi keys can clear the cutoff, so the collect is
    driver-bounded by construction, not by luck. Pass 2 counts ONLY the
    candidate keys' rows exactly (the `isin` filter pushes to the scan;
    the partial agg collapses each task to ≤ |candidates| rows) and
    applies the exact threshold — sampling can therefore only ever MISS
    a hot key (probability ≤ delta), never report a false one.

    ``total`` short-circuits the N count when the caller already knows it
    (e.g. from a manifest or a prior stage)."""
    if not (0.0 < phi <= 1.0):
        raise ValueError(f"phi must be in (0, 1], got {phi}")
    n = int(total) if total is not None else df.count()
    empty = df.sparkSession.createDataFrame(
        [],
        df.select(key_col).schema.add("n_rows", "long").add("share", "double"),
    )
    if n == 0:
        return empty
    q = min(1.0, (8.0 * math.log(1.0 / delta)) / (phi * n))
    sampled = df if q >= 1.0 else df.sample(False, q, seed)
    counts = (
        sampled.filter(F.col(key_col).isNotNull())
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("__s"))
    )
    if q >= 1.0:
        # small-N: pass 1 already IS the exact aggregation — apply the
        # exact threshold and return, no second scan
        return counts.filter(
            F.col("__s") >= F.lit(float(phi)) * F.lit(float(n))
        ).select(
            key_col,
            F.col("__s").alias("n_rows"),
            F.round(F.col("__s") / F.lit(float(n)), 6).alias("share"),
        )
    cutoff = q * phi * n / 2.0
    cand = counts.filter(F.col("__s") >= F.lit(float(cutoff))).select(key_col)
    candidates = [r[0] for r in cand.collect()]
    if not candidates:
        return empty
    return (
        df.filter(F.col(key_col).isin(candidates))
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") >= F.lit(float(phi)) * F.lit(float(n)))
        .withColumn(
            "share", F.round(F.col("n_rows") / F.lit(float(n)), 6)
        )
    )
