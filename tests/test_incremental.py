"""Incremental layer: watermarks, checkpoints, deadlines, cadence
(SURVEY.md §2.9 I1–I6)."""

from __future__ import annotations

import datetime as dt
import os

from trialsync_etl_spark.streaming.incremental import (
    Checkpoint,
    CheckpointStore,
    Deadline,
    WatermarkStore,
    changed_since,
    incremental_filter,
    odata_incremental_clause,
)

TS = "ts timestamp, v int"


def _events(spark):
    rows = [(dt.datetime(2024, 1, d, 12, 0, 0), d) for d in range(1, 11)]
    return spark.createDataFrame(rows, schema=TS)


def test_incremental_filter(spark):
    df = _events(spark)
    assert incremental_filter(df, "ts", None).count() == 10
    assert incremental_filter(df, "ts", "2024-01-05 12:00:00").count() == 5  # strictly gt


def test_odata_clause():
    assert (
        odata_incremental_clause("modifiedDate", "2024-01-01T00:00:00.000Z")
        == "modifiedDate gt 2024-01-01T00:00:00.000Z"
    )


def test_watermark_store(tmp_path):
    ws = WatermarkStore(str(tmp_path / "wm.json"))
    assert ws.get("job1") is None
    ws.set("job1", "2024-01-05 00:00:00")
    assert ws.get("job1") == "2024-01-05 00:00:00"
    # monotonic: cannot go backwards
    ws.advance("job1", "2024-01-03 00:00:00")
    assert ws.get("job1") == "2024-01-05 00:00:00"
    ws.advance("job1", "2024-01-09 00:00:00")
    assert ws.get("job1") == "2024-01-09 00:00:00"
    # per-parameter watermarks are independent
    ws.set("job1", "2024-02-01 00:00:00", param=42)
    assert ws.get("job1") == "2024-01-09 00:00:00"
    assert ws.get("job1", param=42) == "2024-02-01 00:00:00"
    # readable by monitoring/cron users, like every other sidecar
    assert os.stat(tmp_path / "wm.json").st_mode & 0o777 == 0o644


def test_checkpoint_failure_cap():
    cp = Checkpoint()
    for i in range(150):
        cp.record_failure(i, "err")
    assert len(cp.failed_parameters) == 100
    assert cp.failed_parameters[0]["parameter"] == 50  # keeps the LAST 100


def test_checkpoint_store_roundtrip(tmp_path):
    store = CheckpointStore(str(tmp_path / "cp.json"), save_interval_s=9999, save_every_params=5)
    assert store.load("r1") is None
    cp = Checkpoint(skip=3000, page_index=3, total_records=3000, parameter_index=120)
    store.save("r1", cp)
    got = store.load("r1")
    assert got == cp
    # cadence: not due immediately after save...
    cp.parameter_index = 121
    assert store.maybe_save("r1", cp) is False
    # ...due after 5 more parameters
    cp.parameter_index = 126
    assert store.maybe_save("r1", cp) is True
    assert store.load("r1").parameter_index == 126


def test_deadline():
    clock = {"t": 0.0}
    d = Deadline(timeout_s=60, clock=lambda: clock["t"])
    assert not d.exceeded()
    clock["t"] = 61
    assert d.exceeded()


def test_changed_since(spark):
    rows = [
        (1, True, dt.datetime(2024, 1, 2)),
        (2, True, dt.datetime(2024, 1, 8)),
        (3, False, dt.datetime(2024, 1, 9)),
    ]
    dim = spark.createDataFrame(rows, "k int, is_current boolean, effective_start timestamp")
    out = changed_since(dim, "2024-01-05 00:00:00")
    assert [r.k for r in out.collect()] == [2]  # current AND newer than watermark


def test_boundary_stats_and_stale_slice(spark, tmp_path):
    """The inclusive-watermark early-exit helpers: boundary_stats finds
    (max ts, count at max) in one job; stale_slice fires only when the
    slice holds nothing beyond what the stored boundary already covers —
    a late row AT the boundary changes the count and still refreshes."""
    from pyspark.sql import functions as F

    from trialsync_etl_spark.streaming.incremental import (
        WatermarkStore,
        advance_boundary,
        boundary_stats,
        stale_slice,
    )

    df = spark.createDataFrame(
        [(1, "2026-01-01 10:00:00"), (2, "2026-01-02 09:00:00"),
         (3, "2026-01-02 09:00:00")],
        "id int, ts string",
    ).select("id", F.col("ts").cast("timestamp").alias("ts"))

    mx, n = boundary_stats(df, "ts")
    assert mx == "2026-01-02 09:00:00" and n == 2
    assert boundary_stats(df.filter("id > 99"), "ts") == (None, 0)

    store = WatermarkStore(str(tmp_path / "wm.json"))
    # first run: no watermark yet → never stale
    assert not stale_slice(store, "job", None, mx, n)
    advance_boundary(store, "job", mx, n)
    assert store.get("job") == mx

    # idle re-run: slice re-contains exactly the boundary rows → stale
    wm = store.get("job")
    assert stale_slice(store, "job", wm, mx, n)
    # empty slice → stale
    assert stale_slice(store, "job", wm, None, 0)
    # a late row lands AT the boundary → count changes → NOT stale
    assert not stale_slice(store, "job", wm, mx, n + 1)
    # a newer row beyond the boundary → NOT stale
    assert not stale_slice(store, "job", wm, "2026-01-03 00:00:00", 1)
