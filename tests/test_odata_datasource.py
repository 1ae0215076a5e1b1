"""The OData Python DataSource: registered format, partition-parallel scan,
Catalyst-driven filter pushdown, typed vs raw schemas."""

from __future__ import annotations

import contextlib
import io
import json

import pytest
from pyspark.sql import functions as F

from trialsync_etl_spark.sources.odata_datasource import (
    SERIAL,
    ODataDataSource,
    ODataReader,
    SkipRange,
    fixture_transport,
)

RECORDS = [
    {"id": i, "name": f"rec{i}", "amount": float(i * 10), "modifiedDate": f"2024-01-{(i % 28) + 1:02d}"}
    for i in range(100)
]


@pytest.fixture(scope="module")
def fixture_file(tmp_path_factory):
    p = tmp_path_factory.mktemp("odata") / "patients.json"
    p.write_text(json.dumps(RECORDS))
    return str(p)


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(ODataDataSource)
    return spark


def test_fixture_transport_serves_odata(fixture_file):
    t = fixture_transport(fixture_file)
    status, _, body = t("/x?$top=5&$skip=10&$count=true")
    doc = json.loads(body)
    assert status == 200
    assert [r["id"] for r in doc["value"]] == [10, 11, 12, 13, 14]
    assert doc["@odata.count"] == 100
    _, _, body2 = t("/x?$top=1000&$skip=0&$filter=amount gt 950.0")
    assert [r["id"] for r in json.loads(body2)["value"]] == [96, 97, 98, 99]


def test_raw_mode_bronze_envelope(registered, fixture_file):
    df = registered.read.format("odata").option("fixture", fixture_file).load()
    assert df.columns == ["data"]
    assert df.count() == 100
    ids = [json.loads(r.data)["id"] for r in df.collect()]
    assert sorted(ids) == list(range(100))


def test_typed_schema_and_partitions(registered, fixture_file):
    df = (
        registered.read.format("odata")
        .schema("id long, name string, amount double")
        .option("fixture", fixture_file)
        .option("pagesize", "10")
        .option("numpartitions", "4")
        .load()
    )
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 100
    row = df.filter(F.col("id") == 42).collect()[0]
    assert (row.name, row.amount) == ("rec42", 420.0)


def test_filter_pushdown_reaches_source(registered, fixture_file):
    df = (
        registered.read.format("odata")
        .schema("id long, name string, amount double")
        .option("fixture", fixture_file)
        .option("filterable", "id,amount")
        .load()
        .filter((F.col("amount") > 950.0) & (F.col("name") != "rec97"))
    )
    rows = df.collect()
    assert sorted(r.id for r in rows) == [96, 98, 99]  # name filter re-applied by Spark
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    plan = buf.getvalue()
    # the amount predicate was consumed by the source: the post-scan Filter
    # keeps only the (unsupported) name predicate. Matched with its
    # operator: a bare "950" also occurs inside expression ids
    # (name#161950), which depend on what the session ran before.
    post_scan_filter = [l for l in plan.splitlines() if "Filter" in l and "Runtime" not in l]
    assert post_scan_filter and "name" in post_scan_filter[0]
    assert "> 950" not in post_scan_filter[0]


def test_pushdown_unit_semantics(fixture_file):
    from pyspark.sql.types import StructType

    import pyspark.sql.datasource as dsmod

    schema = StructType.fromDDL("id long, amount double")
    r = ODataReader(schema, {"fixture": fixture_file, "filterable": "amount"})
    unsupported = list(
        r.pushFilters(
            [dsmod.GreaterThan(("amount",), 950.0), dsmod.EqualTo(("id",), 3)]
        )
    )
    assert r.pushed == ["amount gt 950.0"]
    assert len(unsupported) == 1  # id not filterable → returned to Spark
    parts = r.partitions()
    # only 4 matching records → a single ≤page partition
    assert parts == [SkipRange(0, 4)]
    got = list(r.read(parts[0]))
    assert got == [(96, 960.0), (97, 970.0), (98, 980.0), (99, 990.0)]


def test_count_ignoring_endpoint_falls_back_to_serial_scan(registered, fixture_file):
    """An endpoint that ignores $count=true must still yield all rows via
    the single serial-pagination partition — never a silent empty scan."""
    from pyspark.sql.types import StructType

    r = ODataReader(
        StructType.fromDDL("id long"),
        {"fixture": fixture_file, "nocount": "true", "pagesize": "30"},
    )
    parts = r.partitions()
    assert parts == [SkipRange(0, SERIAL)]
    assert sorted(t[0] for t in r.read(parts[0])) == list(range(100))

    df = (
        registered.read.format("odata")
        .schema("id long, amount double")
        .option("fixture", fixture_file)
        .option("nocount", "true")
        .option("pagesize", "30")
        .load()
    )
    assert df.count() == 100


def test_skip_ignoring_endpoint_fails_loudly(tmp_path):
    """An endpoint that ignores BOTH $count and $skip serves the same page
    forever; the serial fallback must raise instead of looping and
    duplicating rows."""
    from pyspark.sql.types import StructType

    import trialsync_etl_spark.sources.odata_datasource as ds

    records = tmp_path / "r.json"
    records.write_text(json.dumps([{"id": i} for i in range(5)]))
    real = ds.fixture_transport(str(records), honor_count=False)

    def skip_ignoring(url):
        # strip $skip so every request returns page one
        return real(url.replace("%24skip", "x").replace("$skip", "x"))

    r = ODataReader(StructType.fromDDL("id long"), {"fixture": str(records),
                                                    "nocount": "true",
                                                    "pagesize": "2"})
    # swap the transport at request level via monkeypatched module fn
    orig = ds._make_transport
    ds._make_transport = lambda options: skip_ignoring
    try:
        with pytest.raises(IOError, match="ignored \\$skip"):
            list(r.read(SkipRange(0, SERIAL)))
    finally:
        ds._make_transport = orig


def test_count_ignoring_endpoint_empty_probe_is_empty(fixture_file, tmp_path):
    """No count key AND an empty probe page ⇒ genuinely empty scan."""
    from pyspark.sql.types import StructType

    empty = tmp_path / "empty.json"
    empty.write_text("[]")
    r = ODataReader(
        StructType.fromDDL("id long"), {"fixture": str(empty), "nocount": "true"}
    )
    assert r.partitions() == [SkipRange(0, 0)]


def test_empty_result_single_empty_partition(registered, fixture_file):
    df = (
        registered.read.format("odata")
        .schema("id long, amount double")
        .option("fixture", fixture_file)
        .option("filterable", "amount")
        .load()
        .filter(F.col("amount") > 99999.0)
    )
    assert df.count() == 0
