"""Multi-dimensional data layout clustering (z-order) for scan pruning.

A 100 TB table is usually filtered on more than one column (site AND
date, study AND status), but files sorted on one column give min/max
pruning on that column only — every other predicate scans everything.
Z-ordering interleaves the bits of rank-bucketed clustering columns into
one scalar and range-partitions + sorts the rows on it, so each output
file covers a small hyper-rectangle of the clustering space and parquet
footer min/max stats prune on EVERY clustering column (the Delta/Iceberg
``OPTIMIZE ZORDER BY`` answer, built from DataFrame ops).

Everything is JVM-side Column arithmetic: bucket boundaries come from one
``approxQuantile`` pass (driver holds 2^bits scalars per column, never
rows), bucket assignment is a broadcast-array rank count, and the bit
interleave is shift/or folds — no Python in the row path. The final
``repartitionByRange`` is the one (unavoidable) shuffle, the same cost a
plain sorted rewrite pays.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def rank_bucket(col: Column, boundaries: list[float], cast: str = "double") -> Column:
    """Bucket id in [0, len(boundaries)] = number of boundaries ≤ value
    (equi-depth buckets from approxQuantile splits). NULLs go to bucket 0
    so they cluster together at the low corner."""
    arr = F.array(*[F.lit(b) for b in boundaries])
    return F.coalesce(
        F.aggregate(
            arr,
            F.lit(0),
            lambda acc, b: acc + F.when(col.cast(cast) >= b, 1).otherwise(0),
        ),
        F.lit(0),
    )


def interleave_bits(buckets: list[Column], bits: int) -> Column:
    """Morton/z-value: bit i of bucket j lands at position i*n_cols+j.
    With n_cols*bits ≤ 32 the result fits comfortably in a BIGINT."""
    z = F.lit(0).cast("bigint")
    n = len(buckets)
    for i in range(bits):
        for j, b in enumerate(buckets):
            bit = F.shiftright(b.cast("bigint"), i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    return z


def _numeric_form(df: DataFrame, c: str) -> Column | None:
    """Order-preserving numeric Column for quantile bucketing, or None for
    types with no usable order (strings etc. — those hash-bucket, which
    clusters EQUAL values together: min/max still prunes equality
    predicates, just not ranges)."""
    from pyspark.sql.types import (
        BooleanType,
        DateType,
        NumericType,
        TimestampNTZType,
        TimestampType,
    )

    dt = {f.name: f.dataType for f in df.schema.fields}[c]
    col = F.col(c)
    if isinstance(dt, (NumericType, BooleanType)):
        return col.cast("double")
    if isinstance(dt, DateType):
        return F.unix_date(col).cast("double")
    if isinstance(dt, (TimestampType, TimestampNTZType)):
        # timestamp→double is illegal under ANSI; micros are exact
        return F.unix_micros(col.cast("timestamp")).cast("double")
    return None


def zorder_value(
    df: DataFrame, cols: list[str], bits: int = 8, relative_error: float = 0.01
) -> Column:
    """Z-value Column for ``df`` over ``cols``. Ordered types (numeric,
    date, timestamp) get equi-depth bucketing — rank space, not value
    space, so skewed columns don't collapse into a few buckets (the
    standard z-order refinement). Unordered types (strings) hash-bucket:
    equal values co-locate, giving footer-stat pruning for equality
    predicates (status = 'X'), the common filter shape for such columns."""
    n_buckets = 1 << bits
    splits = [i / n_buckets for i in range(1, n_buckets)]
    # ONE approxQuantile pass for every ordered column (the list form
    # computes all sketches in a single scan) — a per-column loop would
    # re-scan the table once per clustering column, inside zorder_table's
    # exclusive lock
    numeric = {c: _numeric_form(df, c) for c in cols}
    ordered = [c for c in cols if numeric[c] is not None]
    bounds_by_col: dict[str, list[float]] = {}
    if ordered:
        proj = df.select(
            *[numeric[c].alias(f"__n{i}") for i, c in enumerate(ordered)]
        )
        all_bounds = proj.approxQuantile(
            [f"__n{i}" for i in range(len(ordered))], splits, relative_error
        )
        bounds_by_col = dict(zip(ordered, all_bounds))
    buckets = []
    for c in cols:
        if numeric[c] is None:
            buckets.append(
                F.pmod(F.xxhash64(F.col(c)), F.lit(n_buckets)).cast("int")
            )
            continue
        # dedupe (heavy hitters repeat a boundary); order is preserved
        seen: list[float] = []
        for b in bounds_by_col[c]:
            if b is not None and (not seen or b > seen[-1]):
                seen.append(b)
        buckets.append(rank_bucket(numeric[c], seen))
    return interleave_bits(buckets, bits)


def zorder_layout(
    df: DataFrame,
    cols: list[str],
    n_files: int,
    bits: int = 8,
) -> DataFrame:
    """Rows arranged for a z-ordered write: range-partitioned into
    ``n_files`` tasks by z-value and sorted within each, so every output
    file covers a contiguous z-range = a small hyper-rectangle in the
    clustering space. Write the result with one file per partition (the
    natural ``df.write`` behavior) and parquet footer min/max prunes on
    every clustering column."""
    with_z = df.withColumn("__z", zorder_value(df, cols, bits))
    return (
        with_z.repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    )


def zorder_table(
    spark,
    path: str,
    cols: list[str],
    target_file_bytes: int = 128 << 20,
    bits: int = 8,
    keep_versions: int | None = None,
) -> dict:
    """Maintenance: rewrite a published table z-ordered on ``cols`` and
    republish atomically (same lock + pointer swap as compaction — see
    storage.compact_table for why listing outside the lock would race a
    concurrent append). ``keep_versions=None`` preserves the table's
    existing retention width, like compact_table. Returns
    {"files", "bytes", "cols"}."""
    import math

    from trialsync_etl_spark import storage
    from trialsync_etl_spark.storage import file_lock, swap_publish, table_file_stats

    with file_lock(path + "__lock"):
        if keep_versions is None:
            keep_versions = storage.table_keep_versions(path)
        _, total_bytes = table_file_stats(path)
        n_files = max(1, math.ceil(total_bytes / max(1, target_file_bytes)))
        df = spark.read.option("mergeSchema", "true").parquet(path)
        out = zorder_layout(df, cols, n_files, bits)
        swap_publish(
            out, path, already_locked=True, keep_versions=keep_versions
        )
        files_after, bytes_after = table_file_stats(path)
    return {"files": files_after, "bytes": bytes_after, "cols": list(cols)}
