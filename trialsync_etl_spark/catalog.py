"""Table registry over the test/bench parquet datasets.

The reference keeps 106 Bronze staging tables + Silver dims/facts in
Postgres (SURVEY.md §1.1); here every table is a parquet directory read
with `spark.read.parquet` so Catalyst gets predicate pushdown, column
pruning, and partition pruning for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# pinned production entity schemas (cc_openapi.json view models); Bronze
# parses against these — never inference (see entities.py module docstring)
from trialsync_etl_spark.entities import ENTITY_SCHEMAS, entity_schema  # noqa: F401

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: dimension-ish tables small enough to broadcast at any scale factor —
#: region/nation are bounded by geography; supplier/part grow slowly.
BROADCAST_TABLES = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: columns stored as TIMESTAMP(NANOS) in parquet; Spark reads them as int64
#: (spark.sql.legacy.parquet.nanosAsLong) and we truncate to µs here —
#: matching DuckDB's ns→µs truncation on read.
NANO_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _open(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The raw scan of a table: ONE ``spark.read.parquet`` (one listing and
    one schema-inference job). Nano-timestamp columns read as int64."""
    if name in NANO_TS_COLS:
        # the caller may hand us a session built without this config (the
        # driver does); it is runtime-settable, so pin it before the read
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(table_path(sf_dir, name))


def _as_loaded(raw: DataFrame, name: str) -> DataFrame:
    """``raw`` with its nano-timestamp columns truncated to µs."""
    dtypes = dict(raw.dtypes)
    for col in NANO_TS_COLS.get(name, ()):
        if dtypes.get(col) == "bigint":
            # integer division keeps full precision (ns epoch > 2^53 would
            # lose bits through a double)
            raw = raw.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    return raw


def _since(
    raw: DataFrame, name: str, ts_col: str, watermark: str, inclusive: bool
) -> DataFrame:
    """The rows of ``raw`` newer than ``watermark`` (see load_table_since)."""

    def cmp(col, bound):
        return col >= bound if inclusive else col > bound

    if ts_col in NANO_TS_COLS.get(name, ()) and dict(raw.dtypes).get(ts_col) == "bigint":
        import datetime as _dt

        wm = _dt.datetime.fromisoformat(watermark).replace(tzinfo=_dt.timezone.utc)
        wm_ns = int(wm.timestamp()) * 1_000_000_000 + wm.microsecond * 1000
        raw = raw.filter(cmp(F.col(ts_col), F.lit(wm_ns)))
    return _as_loaded(raw, name).filter(
        cmp(F.col(ts_col), F.lit(watermark).cast("timestamp"))
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return _as_loaded(_open(spark, sf_dir, name), name)


def load_table_since(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    ts_col: str,
    watermark: str,
    inclusive: bool = False,
) -> DataFrame:
    """Incremental scan with the watermark predicate pushed to parquet.

    For nano-timestamp columns the µs conversion wraps the column in an
    expression, which silently kills pushdown — the classic 100 TB foot-gun
    (full scan every incremental pull). Here we push a coarse filter on the
    RAW int64 nanos (prunes row groups/files via parquet stats) and keep the
    exact µs-precision predicate as a residual filter after conversion.

    ``inclusive=True`` rescans the boundary value itself — required by
    consumers whose watermark column is coarse (a date) and whose
    downstream re-aggregation is idempotent: with strict ``>``, a late row
    landing with ts EXACTLY equal to the stored watermark would never be
    seen again (silent data loss). CDC-style consumers that must not
    re-emit boundary rows keep the strict default.
    """
    return _since(_open(spark, sf_dir, name), name, ts_col, watermark, inclusive)


def load_table_and_since(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    ts_col: str,
    watermark: str | None,
    inclusive: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """``(full, slice)`` of one table from ONE open: :func:`load_table`
    and :func:`load_table_since` (same pushdown) over a shared scan, so a
    consumer that needs both pays one listing and one schema-inference
    job. ``watermark=None`` ⇒ the slice is the full table."""
    raw = _open(spark, sf_dir, name)
    full = _as_loaded(raw, name)
    if watermark is None:
        return full, full
    return full, _since(raw, name, ts_col, watermark, inclusive)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TPCH_TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TPCH_TABLES
) -> dict[str, DataFrame]:
    """Register each table as a temp view so SQL-surface queries can run."""
    dfs = load_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
