"""Structured Streaming: landing-zone stream with checkpoint/resume
(availableNow), watermarked windowed aggregation, foreachBatch SCD2 sink."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from trialsync_etl_spark.operators.scd2 import scd2_rebuild
from trialsync_etl_spark.streaming import structured

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _land(landing: str, name: str, rows: list[dict]) -> None:
    os.makedirs(landing, exist_ok=True)
    with open(os.path.join(landing, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


BATCH1 = [
    {"event_id": 1, "user_id": 1, "status": "screening", "value": 1.0, "ts": "2024-01-01T00:00:00Z"},
    {"event_id": 2, "user_id": 2, "status": "screening", "value": 2.0, "ts": "2024-01-01T01:00:00Z"},
]
BATCH2 = [
    {"event_id": 3, "user_id": 1, "status": "enrolled", "value": 1.5, "ts": "2024-01-02T00:00:00Z"},
    {"event_id": 4, "user_id": 3, "status": "screening", "value": 3.0, "ts": "2024-01-02T01:00:00Z"},
]


def test_available_now_resumes_from_checkpoint(spark, tmp_path):
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "bronze")
    ckpt = str(tmp_path / "ckpt")

    _land(landing, "page1.json", BATCH1)
    stream = structured.read_landing_stream(spark, landing, EVENT_SCHEMA)
    assert stream.isStreaming
    structured.run_available_now(stream, out, ckpt)
    assert spark.read.parquet(out).count() == 2

    # second invocation with a new file: only the delta is processed
    _land(landing, "page2.json", BATCH2)
    stream2 = structured.read_landing_stream(spark, landing, EVENT_SCHEMA)
    structured.run_available_now(stream2, out, ckpt)
    result = spark.read.parquet(out)
    assert result.count() == 4
    assert result.select("event_id").distinct().count() == 4


def test_windowed_counts_with_watermark(spark, tmp_path):
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "agg")
    ckpt = str(tmp_path / "ckpt")
    _land(landing, "page1.json", BATCH1 + BATCH2)

    def run_once():
        stream = structured.read_landing_stream(spark, landing, EVENT_SCHEMA)
        windowed = structured.windowed_event_counts(
            stream, ts_col="ts", window_duration="1 hour", watermark_delay="1 day",
            group_cols=("status",),
        )
        structured.run_windowed_to_parquet(windowed, out, ckpt)

    run_once()
    # append mode emits only watermark-sealed windows: max event ts is
    # 2024-01-02T01:00, watermark = that - 1 day = 01-01T01:00 ⇒ only the
    # [00:00, 01:00) window of 01-01 (event 1) is sealed
    got = spark.read.parquet(out)
    assert got.count() == 1
    row = got.collect()[0]
    assert (row.status, row.n_events) == ("screening", 1)

    # a much later event advances the watermark past all four original
    # windows; its own window stays open
    _land(
        landing,
        "page2.json",
        [{"event_id": 9, "user_id": 9, "status": "late", "value": 0.0,
          "ts": "2024-02-01T00:00:00Z"}],
    )
    run_once()
    got2 = spark.read.parquet(out)
    assert got2.count() == 4
    assert set(got2.select("status").toPandas()["status"]) == {"screening", "enrolled"}


def test_foreach_batch_scd2_sink_matches_rebuild(spark, tmp_path):
    landing = str(tmp_path / "landing")
    dim_path = str(tmp_path / "dim_users")
    ckpt = str(tmp_path / "ckpt")

    sink = structured.Scd2StreamSink(
        spark, dim_path, key_cols=["user_id"], tracked_cols=["status", "value"],
        ts_col="ts", tiebreak_cols=["event_id"],
    )

    _land(landing, "page1.json", BATCH1)
    sink.attach(structured.read_landing_stream(spark, landing, EVENT_SCHEMA), ckpt)
    _land(landing, "page2.json", BATCH2)
    sink.attach(structured.read_landing_stream(spark, landing, EVENT_SCHEMA), ckpt)

    dim = spark.read.parquet(dim_path)
    # compare against the one-shot batch rebuild over the full stream
    all_rows = spark.createDataFrame(
        [tuple(r.values()) for r in BATCH1 + BATCH2],
        "event_id long, user_id long, status string, value double, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    expected = scd2_rebuild(
        all_rows.select("user_id", "status", "value", "ts", "event_id"),
        key_cols=["user_id"], tracked_cols=["status", "value"],
        ts_col="ts", tiebreak_cols=["event_id"],
    )
    cols = ["user_id", "status", "value", "effective_start", "effective_end", "is_current"]
    got = sorted(tuple(r) for r in dim.select(*cols).collect())
    want = sorted(tuple(r) for r in expected.select(*cols).collect())
    assert got == want
    # user 1 has history: screening (expired) then enrolled (current)
    u1 = dim.filter("user_id = 1").orderBy("effective_start").collect()
    assert [r.status for r in u1] == ["screening", "enrolled"]
    assert [r.is_current for r in u1] == [False, True]


def test_dedup_stream_drops_redelivered_rows(spark, tmp_path):
    """Re-landed pages (ingestor retries) are dropped by key across
    micro-batches while state stays watermark-bounded; distinct keys all
    survive."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "deduped")
    ckpt = str(tmp_path / "ckpt")

    dup1 = dict(BATCH1[0])  # event_id 1 re-delivered in the same batch
    _land(landing, "page1.json", BATCH1 + [dup1])
    stream = structured.read_landing_stream(spark, landing, EVENT_SCHEMA)
    deduped = structured.dedup_stream(stream, ["event_id"], ts_col="ts")
    structured.run_available_now(deduped, out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == 2
    assert {r.event_id for r in got.collect()} == {1, 2}

    # second invocation: batch 2 plus a re-delivery of event_id 2 —
    # the duplicate is dropped against the checkpointed state
    _land(landing, "page2.json", BATCH2 + [dict(BATCH1[1])])
    stream2 = structured.read_landing_stream(spark, landing, EVENT_SCHEMA)
    deduped2 = structured.dedup_stream(stream2, ["event_id"], ts_col="ts")
    structured.run_available_now(deduped2, out, ckpt)
    result = spark.read.parquet(out)
    assert result.count() == 4
    assert result.select("event_id").distinct().count() == 4


def test_curate_stream_dedups_filters_and_decontaminates(spark, tmp_path):
    """Streaming curation reuses the batch stages per micro-batch: a
    re-delivered doc is dropped by streaming state, junk is
    quality-filtered, a benchmark leak is decontaminated, and clean docs
    accumulate across invocations."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "curated")
    ckpt = str(tmp_path / "ckpt")

    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    bench = spark.createDataFrame(
        [(100, "bench mark doc one two three four five six seven")],
        "doc_id long, text string",
    )
    good = "completely ordinary healthy document body text for training runs"
    _land(landing, "b1.json", [
        {"doc_id": 1, "text": good, "ts": "2024-01-01T00:00:00Z"},
        {"doc_id": 1, "text": good, "ts": "2024-01-01T00:00:01Z"},  # re-delivery
        {"doc_id": 2, "text": "spam spam spam spam spam spam spam",
         "ts": "2024-01-01T00:00:02Z"},
    ])
    sink = structured.CurateStreamSink(out, benchmark=bench)
    stream = structured.read_landing_stream(spark, landing, doc_schema)
    sink.attach(stream, ckpt)
    got = spark.read.parquet(out)
    # the read schema of the curated output: each micro-batch lands in
    # its own batch=<id> dir, which reads back as a partition column
    assert [(f.name, f.dataType.simpleString()) for f in got.schema] == [
        ("doc_id", "bigint"), ("text", "string"), ("ts", "timestamp"),
        ("batch", "int"),
    ]
    assert [r.doc_id for r in got.collect()] == [1]

    _land(landing, "b2.json", [
        {"doc_id": 3, "text": "bench mark doc one two three four five six seven",
         "ts": "2024-01-02T00:00:00Z"},                              # leak
        {"doc_id": 4, "text": good + " with a different tail entirely",
         "ts": "2024-01-02T00:00:01Z"},
    ])
    stream2 = structured.read_landing_stream(spark, landing, doc_schema)
    sink.attach(stream2, ckpt)
    kept = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert kept == [1, 4]


def test_export_stream_sink_batches_and_combined_manifest(spark, tmp_path):
    """Each micro-batch lands as its own batch=N JSONL shard set; the
    combined manifest aggregates shards across batches and matches a
    direct recount."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "export")
    ckpt = str(tmp_path / "ckpt")

    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    _land(landing, "b1.json", [
        {"doc_id": 1, "text": "alpha"},
        {"doc_id": 2, "text": "beta"},
    ])
    sink = structured.ExportStreamSink(out, n_shards=2)
    stream = structured.read_landing_stream(spark, landing, doc_schema)
    sink.attach(stream, ckpt)

    _land(landing, "b2.json", [
        {"doc_id": 3, "text": "gamma"},
    ])
    stream = structured.read_landing_stream(spark, landing, doc_schema)
    sink.attach(stream, ckpt)

    m = structured.combined_export_manifest(spark, out)
    m_rows = sorted(map(tuple, m.collect()))
    assert sum(r[1] for r in m_rows) == 3

    back = spark.read.json(f"{out}/batch=*/shard=*/*.txt")
    assert sorted(r.doc_id for r in back.collect()) == [1, 2, 3]


def test_quality_gate_sink_quarantines_red_batches(spark, tmp_path):
    """QualityGateStreamSink: a micro-batch failing any declared check is
    diverted wholesale to quarantine with its report; green batches land.
    Reports land per batch."""
    from trialsync_etl_spark.operators import quality as Q

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    quar = str(tmp_path / "quarantine")
    rep = str(tmp_path / "reports")
    ckpt = str(tmp_path / "ckpt")

    sink = structured.QualityGateStreamSink(
        out,
        checks=[
            Q.not_null("user_id"),
            Q.unique("event_id"),
            Q.expression("value >= 0", "non_negative(value)"),
        ],
        quarantine_dir=quar,
        report_dir=rep,
    )

    # batch 0: one NULL user_id and a negative value → red, quarantined
    bad = [
        {"event_id": 10, "user_id": None, "status": "s", "value": 1.0, "ts": "2024-01-03T00:00:00Z"},
        {"event_id": 11, "user_id": 5, "status": "s", "value": -2.0, "ts": "2024-01-03T01:00:00Z"},
    ]
    _land(landing, "bad.json", bad)
    sink.attach(structured.read_landing_stream(spark, landing, EVENT_SCHEMA), ckpt)
    assert not os.path.exists(out) or spark.read.parquet(out + "/batch=*").count() == 0
    assert spark.read.parquet(quar + "/batch=*").count() == 2

    # batch 1: clean rows → lands in out, quarantine unchanged
    _land(landing, "good.json", BATCH1)
    sink.attach(structured.read_landing_stream(spark, landing, EVENT_SCHEMA), ckpt)
    assert spark.read.parquet(out + "/batch=*").count() == len(BATCH1)
    assert spark.read.parquet(quar + "/batch=*").count() == 2

    # per-batch reports: batch 0 red (landed=false), batch 1 green
    reports = spark.read.option("basePath", rep).parquet(rep + "/batch=*")
    r0 = {r["check"]: r for r in reports.filter("batch_id = 0").collect()}
    assert not r0["not_null"]["passed"] and not r0["expression"]["passed"]
    assert r0["unique"]["passed"]
    assert all(not r["landed"] for r in r0.values())
    r1 = reports.filter("batch_id = 1").collect()
    assert r1 and all(r["passed"] and r["landed"] for r in r1)


def test_near_dup_stream_sink_gates_against_store_history(spark, tmp_path):
    """NearDupStreamSink: batch 0's survivors become history for batch 1 —
    a near-identical doc arriving later is dropped at the gate; distinct
    docs land; within-batch dups keep only the first."""
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "kept")
    report = str(tmp_path / "pairs")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    base = "the quick brown fox jumps over the lazy dog again and again today"
    _land(landing, "b1.json", [
        {"doc_id": 1, "text": base},
        {"doc_id": 2, "text": base + " tonight"},       # near-dup of 1, same batch
        {"doc_id": 3, "text": "completely different content about spark engines"},
    ])
    sink = structured.NearDupStreamSink(out, store, min_est_jaccard=0.5,
                                        report_dir=report)
    sink.attach(structured.read_landing_stream(spark, landing, doc_schema), ckpt)

    kept = spark.read.parquet(out)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 3]

    # batch 2: a near-copy of doc 1 (history hit) + a fresh doc
    _land(landing, "b2.json", [
        {"doc_id": 10, "text": base + " tomorrow"},
        {"doc_id": 11, "text": "fresh unrelated text mentioning parquet footers"},
    ])
    sink.attach(structured.read_landing_stream(spark, landing, doc_schema), ckpt)
    kept = spark.read.parquet(out)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 3, 11]

    pairs = spark.read.parquet(report)
    assert {(r.doc_a, r.doc_b) for r in pairs.collect()} >= {(1, 2), (1, 10)}
    assert set(pairs.select("vs").distinct().toPandas()["vs"]) == {"batch", "history"}


def test_near_dup_stream_sink_checkpoint_wipe_keeps_history(spark, tmp_path):
    """A wiped checkpoint restarts batch numbering at 0 — the sink's
    store tag must NOT collide with the previous stream's batch 0, or the
    probe would treat that batch's genuine history as 'my own crashed
    attempt' and let its near-dups through."""
    import shutil

    base = "the quick brown fox jumps over the lazy dog again and again today"
    landing1 = str(tmp_path / "landing1")
    landing2 = str(tmp_path / "landing2")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    doc_schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])

    _land(landing1, "b1.json", [{"doc_id": 1, "text": base}])
    sink = structured.NearDupStreamSink(str(tmp_path / "kept1"), store,
                                        min_est_jaccard=0.5)
    sink.attach(structured.read_landing_stream(spark, landing1, doc_schema), ckpt)
    tag1 = sink._stream_tag
    assert tag1

    # wipe the checkpoint: a NEW stream instance whose batch ids restart
    # at 0, probing the same store — doc 1 is history and must be caught
    shutil.rmtree(ckpt)
    _land(landing2, "b1.json", [
        {"doc_id": 20, "text": base + " tonight"},   # near-dup of history doc 1
        {"doc_id": 21, "text": "entirely different corpus about spark plans"},
    ])
    sink2 = structured.NearDupStreamSink(str(tmp_path / "kept2"), store,
                                         min_est_jaccard=0.5)
    sink2.attach(structured.read_landing_stream(spark, landing2, doc_schema), ckpt)
    assert sink2._stream_tag and sink2._stream_tag != tag1
    kept = spark.read.parquet(str(tmp_path / "kept2"))
    assert sorted(r.doc_id for r in kept.collect()) == [21]

    # intact checkpoint → the SAME instance tag is reloaded (crash-restart
    # replay exclusion keeps working)
    sink3 = structured.NearDupStreamSink(str(tmp_path / "kept3"), store)
    sink3._restore(ckpt)
    assert sink3._stream_tag == sink2._stream_tag


def test_media_neardup_stream_sink_matches_batch_incremental(spark, tmp_path):
    """The media member of the streaming store-sibling family: two
    parquet landing files drained as separate micro-batches through
    MediaNearDupStreamSink produce exactly the survivors the batch-mode
    media_neardup_incremental derives for the same two id-ordered
    batches against a fresh store — one code path, two cadences."""
    import glob
    import os
    import shutil

    from trialsync_etl_spark.operators import media_dedup as md
    from trialsync_etl_spark.streaming.structured import (
        MediaNearDupStreamSink,
    )

    rows1 = [(s, bytes(md.triangle_image(s, 900))) for s in range(6)]
    rows2 = (
        [(100 + s, bytes(md.triangle_image(s, 1000))) for s in range(3)]
        + [(110, bytes(md.triangle_image(50, 900)))]
    )
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    for i, rows in ((1, rows1), (2, rows2)):
        tmp = str(tmp_path / f"stage{i}")
        spark.createDataFrame(
            rows, "media_id long, content binary"
        ).coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(landing, f"b{i}.parquet"))

    out = str(tmp_path / "gated")
    sink = MediaNearDupStreamSink(out, str(tmp_path / "stream_store"))
    stream = (
        spark.readStream.schema("media_id long, content binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    sink.attach(stream, str(tmp_path / "ckpt"))
    got = sorted(
        r.media_id for r in spark.read.parquet(out).collect()
    )

    batch_store = str(tmp_path / "batch_store")
    want = []
    for tag, rows in (("b1", rows1), ("b2", rows2)):
        outb = md.media_neardup_incremental(
            spark,
            spark.createDataFrame(rows, "media_id long, content binary"),
            batch_store,
            tag,
        )
        want += [r.media_id for r in outb.collect()]
    assert got == sorted(want)
    # the re-encodes of seeds 0..2 dropped against history; the fresh
    # image survived
    assert 110 in got and not any(m in got for m in (100, 101, 102))
    # the stream's store pinned its kind
    assert md.read_media_store_params(
        str(tmp_path / "stream_store")
    )["sig_kind"] == "dhash63"
