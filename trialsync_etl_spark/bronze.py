"""Bronze layer: lineage stamping, last-wins dedup, keyed upsert.

The reference lands every API record as JSONB in a staging table with an
`ON CONFLICT (source_instance_id, (data->>'id')) DO UPDATE` upsert plus an
in-memory last-wins dedup pass (ref: src/db/loader.py:66-418,
docs/03_Data_Warehouse_Layers.md:74-141). Here the Bronze table is parquet;
the upsert is the MERGE-equivalent rewrite: new batch deduped last-wins,
unioned with the anti-joined existing table (SURVEY.md §7.3).

Scale: the upsert shuffles both sides once on the business key. At 100 TB,
partition Bronze by a stable hash bucket of the key (`pmod(xxhash64(key),
N)`) so the anti-join joins bucket-to-bucket and a MERGE rewrites only
touched partitions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trialsync_etl_spark.operators.scd2 import dedup_last_wins

#: envelope columns mirrored from the reference staging shape
#: (docs/03_Data_Warehouse_Layers.md:92-113)
LINEAGE_COLS = ("etl_job_id", "etl_run_id", "loaded_at", "created_at", "updated_at")


def stamp_lineage(
    df: DataFrame,
    job_id: int,
    run_id: int,
    loaded_at: str | None = None,
) -> DataFrame:
    """S12: add etl_job_id / etl_run_id / timestamps to every record
    (ref: src/db/loader.py:151-225). ``loaded_at`` is an explicit literal
    (not current_timestamp()) so re-runs are deterministic and the ingest
    sequence is reconstructible."""
    ts = F.lit(loaded_at).cast("timestamp") if loaded_at else F.current_timestamp()
    return (
        df.withColumn("etl_job_id", F.lit(job_id))
        .withColumn("etl_run_id", F.lit(run_id))
        .withColumn("loaded_at", ts)
        .withColumn("created_at", ts)
        .withColumn("updated_at", ts)
    )


def with_ingest_seq(df: DataFrame, batch_seq: int) -> DataFrame:
    """Make arrival order explicit (SURVEY.md §7.4: last-wins depends on it).

    The reference relies on Python list order (loader.py:227-251); a
    distributed engine must carry an explicit sequence. Stored as a STRUCT
    (batch, sub) — structs order field-wise, so comparisons are exact. A
    packed `batch * 2^k + monotonic_id` long would silently collide:
    monotonically_increasing_id puts the partition id at bit 33, so any
    partition id ≥ 2^(k-33) bleeds into the next batch's range (real at
    cluster task counts)."""
    return df.withColumn(
        "ingest_seq",
        F.struct(
            F.lit(batch_seq).cast("long").alias("batch"),
            F.monotonically_increasing_id().alias("sub"),
        ),
    )


def parent_key_inject(df: DataFrame, parent_col: str, parent_value) -> DataFrame:
    """P7: stamp the fan-out parent key onto child records
    (ref: src/etl/executor.py:1154-1158)."""
    return df.withColumn(parent_col, F.lit(parent_value))


def derive_patient_id(df: DataFrame, data_col: str = "data") -> DataFrame:
    """P8/U3: the BEFORE INSERT trigger as a write-path projection —
    patient_id = COALESCE(data->>'_parentId', data->>'patientId')::INT
    (ref: sql/migrations/migrate_patient_staging_tables_schema.sql:209-261)."""
    return df.withColumn(
        "patient_id",
        F.coalesce(
            F.get_json_object(F.col(data_col), "$._parentId").cast("int"),
            F.get_json_object(F.col(data_col), "$.patientId").cast("int"),
        ),
    )


def keyed_upsert(
    existing: DataFrame | None,
    batch: DataFrame,
    key_cols: Sequence[str],
    order_col: str = "ingest_seq",
) -> DataFrame:
    """S9: MERGE-equivalent upsert on plain DataFrames.

    1. dedup the incoming batch last-wins per key (highest order_col wins);
    2. survivors replace matching keys in `existing` (anti-join drops the
       old versions), everything else passes through.

    Equivalent to `INSERT ... ON CONFLICT DO UPDATE` + the reference's
    in-memory dedup (loader.py:227-376), but idempotent and re-runnable.
    """
    deduped = dedup_last_wins(batch, key_cols, [F.col(order_col).desc()])
    if existing is None:
        return deduped
    kept = existing.join(deduped.select(*key_cols), list(key_cols), "left_anti")
    return kept.unionByName(deduped)


def upsert_stats(existing: DataFrame | None, batch_deduped_count: int, result: DataFrame) -> dict:
    """S10: insert-vs-update accounting without xmax — pre/post count diff
    (ref: src/db/loader.py:277-295)."""
    n_before = existing.count() if existing is not None else 0
    n_after = result.count()
    inserted = n_after - n_before
    updated = batch_deduped_count - inserted
    return {"inserted": inserted, "updated": updated, "total": n_after}


class DryRunSink:
    """S11: counts records without writing (ref: src/config/preflight.py:102-124)."""

    def __init__(self) -> None:
        self.records_seen = 0
        self.batches = 0

    def write(self, df: DataFrame) -> int:
        n = df.count()
        self.records_seen += n
        self.batches += 1
        return n


def parse_with_quarantine(
    df: DataFrame,
    entity: str,
    json_col: str = "data",
    keep_cols: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame]:
    """Dead-letter parsing: split a Bronze batch into (parsed, quarantine).

    `from_json` against the pinned entity schema returns NULL for payloads
    that are not valid JSON objects — silently dropping them loses data,
    and failing the whole batch on one bad page is worse (the reference
    tolerates per-record faults, src/etl/executor.py partial-failure
    path). Quarantined rows keep the RAW payload plus lineage columns so
    they can be audited and replayed after a schema fix; the parse itself
    stays one JVM expression either way.

    A payload that IS valid JSON but matches no schema field (e.g. a bare
    array) parses to an all-NULL struct — also quarantined: an all-NULL
    entity row is noise, not data.
    """
    from trialsync_etl_spark.entities import entity_schema, parse_entity

    parsed_col = parse_entity(F.col(json_col), entity)
    fields = [f.name for f in entity_schema(entity).fields]
    from functools import reduce

    # OR-fold (not F.greatest, which needs >= 2 columns) so single-field
    # entity schemas work too
    any_field = reduce(
        lambda a, b: a | b, [F.col(f"__parsed.{f}").isNotNull() for f in fields]
    )
    tagged = df.withColumn("__parsed", parsed_col).withColumn(
        "__ok", F.col("__parsed").isNotNull() & any_field
    )
    parsed = (
        tagged.filter(F.col("__ok"))
        .select(*keep_cols, F.col("__parsed").alias("entity"))
    )
    quarantine = tagged.filter(~F.col("__ok")).select(
        *keep_cols,
        F.col(json_col).alias("raw_payload"),
        F.lit(entity).alias("entity_name"),
    )
    return parsed, quarantine
