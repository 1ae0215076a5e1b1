"""Incremental substring dedup vs the persisted first-occurrence gram
store (operators/substring_store.py) and its streaming sink."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from trialsync_etl_spark.operators import substring_store as SS
from trialsync_etl_spark.operators.dedup import duplicate_spans

BLOCK = " ".join(f"w{i}" for i in range(12))


def _b1(spark):
    return spark.createDataFrame(
        [
            (1, "intro one two three " + BLOCK + " tail alpha"),
            (2, "totally unrelated filler text with many distinct words"),
        ],
        "doc_id long, text string",
    )


def _b2(spark):
    return spark.createDataFrame(
        [
            # history hit: the block at a new offset in a later batch
            (10, "different lead " + BLOCK + " other end words here"),
            # batch-internal pair: 11 is first, 12's copy trims
            (11, "fresh block aa bb cc dd ee ff gg hh ii jj kk"),
            (12, "second copy of fresh block aa bb cc dd ee ff gg hh ii jj kk"),
        ],
        "doc_id long, text string",
    )


@pytest.mark.slow
def test_incremental_spans_history_batch_and_replay(spark, tmp_path):
    """The ingest cadence end-to-end: history wins across batches at any
    offset, lowest (doc_id, pos) wins within a batch, probing a batch
    AFTER its own fold is verdict-identical (replay without tags), the
    per-batch union equals the one-shot derivation for id-ordered
    batches, and compaction preserves every verdict."""
    store = str(tmp_path / "grams")
    b1, b2 = _b1(spark), _b2(spark)

    # probing an un-pinned store is loud, not silently empty
    with pytest.raises(FileNotFoundError, match="no pinned params"):
        SS.duplicate_spans_incremental(spark, b1, store, min_len=8)

    n1 = SS.append_gram_firsts(b1, store, "b1", k=4)
    assert n1 > 0
    # batch 1 vs the store holding ONLY itself: no spans (its stored
    # firsts EQUAL its occurrences — the replay property)
    assert SS.duplicate_spans_incremental(
        spark, b1, store, min_len=8
    ).count() == 0

    spans2 = sorted(map(tuple, SS.duplicate_spans_incremental(
        spark, b2, store, min_len=8).collect()))
    assert spans2 == [(10, 2, 13, 12), (12, 3, 15, 13)]

    trimmed = {r.doc_id: r.text for r in SS.substring_dedup_incremental(
        spark, b2, store, min_len=8).collect()}
    assert trimmed[10] == "different lead other end words here"
    assert trimmed[11].startswith("fresh block aa")   # batch-first intact
    assert trimmed[12] == "second copy of"

    n2 = SS.append_gram_firsts(b2, store, "b2", k=4)
    assert n2 > 0
    # replay after own fold: identical spans
    assert sorted(map(tuple, SS.duplicate_spans_incremental(
        spark, b2, store, min_len=8).collect())) == spans2

    # id-ordered batches == the one-shot over the concatenation
    oneshot = sorted(map(tuple, duplicate_spans(
        b1.unionByName(b2), k=4, min_len=8).collect()))
    assert oneshot == spans2  # every duplicated span lives in batch 2

    # compaction folds to __base and preserves verdicts + gram count
    n_kept = SS.compact_gram_store(spark, store)
    assert n_kept == n1 + n2
    import os

    parts = os.listdir(os.path.join(store, SS.FIRSTS_TABLE))
    assert [d for d in parts if d.startswith("batch_id=")] == [
        f"batch_id={SS.BASE_BATCH}"
    ]
    assert sorted(map(tuple, SS.duplicate_spans_incremental(
        spark, b2, store, min_len=8).collect())) == spans2


def test_store_pins_params_and_corrupt_meta_is_loud(spark, tmp_path):
    store = str(tmp_path / "grams")
    SS.append_gram_firsts(_b1(spark), store, "b1", k=4)
    assert SS.read_substring_params(store) == {"k": 4, "hash_fn": "md5"}
    with pytest.raises(ValueError, match="pins k=4"):
        SS.append_gram_firsts(_b2(spark), store, "b2", k=5)
    with pytest.raises(ValueError, match="pins k=4"):
        SS.duplicate_spans_incremental(spark, _b2(spark), store,
                                       min_len=8, k=8)
    with pytest.raises(ValueError, match="min_len"):
        SS.duplicate_spans_incremental(spark, _b2(spark), store, min_len=2)
    with pytest.raises(ValueError, match="partition-safe"):
        SS.append_gram_firsts(_b2(spark), store, "a/b", k=4)

    with open(store + "__meta.json", "w") as f:
        f.write('{"k": 4')  # truncated
    with pytest.raises(ValueError, match="unreadable"):
        SS.read_substring_params(store)
    with pytest.raises(ValueError, match="unreadable"):
        SS.append_gram_firsts(_b2(spark), store, "b2", k=4)


def test_substring_stream_sink_gates_batches(spark, tmp_path):
    """The streaming cadence: batch files arrive one per trigger; the
    off-grid copy in a LATER micro-batch is trimmed against the earlier
    batch's stored firsts, a pure-duplicate doc is dropped (drop_empty),
    non-text columns survive, and the store ends pinned."""
    import json
    import os

    from pyspark.sql import types as T

    from trialsync_etl_spark.streaming import structured

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    rows_a = [
        (1, 1_700_000_100, "intro one two three " + BLOCK + " tail alpha",
         "web"),
        (2, 1_700_000_101,
         "totally unrelated filler text with many distinct words", "web"),
    ]
    rows_b = [
        (10, 1_700_000_200, "different lead " + BLOCK + " other end words",
         "books"),
        (11, 1_700_000_201, BLOCK, "books"),  # pure duplicate -> dropped
    ]
    # file names order the availableNow triggers: a lands before b
    for name, rows in (("a.json", rows_a), ("b.json", rows_b)):
        with open(os.path.join(landing, name), "w") as f:
            for did, ts, text, src in rows:
                f.write(json.dumps({
                    "doc_id": did, "ts": ts, "text": text, "source": src
                }) + "\n")
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("source", T.StringType()),
    ])
    out = str(tmp_path / "gated")
    store = str(tmp_path / "grams")
    sink = structured.SubstringDedupStreamSink(out, store, k=4, min_len=8)
    stream = structured.read_landing_stream(
        spark, landing, schema, max_files_per_trigger=1
    )
    sink.attach(stream, str(tmp_path / "ckpt"))

    got = {r.doc_id: r for r in spark.read.parquet(
        os.path.join(out, "batch=*")).collect()}
    assert set(got) == {1, 2, 10}
    assert "w0" in got[1].text                   # first occurrence intact
    assert "w0" not in got[10].text              # later-batch copy trimmed
    assert got[10].text.startswith("different lead")
    assert got[10].source == "books"             # non-text columns survive
    assert SS.read_substring_params(store) == {"k": 4, "hash_fn": "md5"}


def test_curate_stream_sink_substring_stage(spark, tmp_path):
    """CurateStreamSink(substring_store=...): the streaming funnel's
    substring gate trims a LATER batch's off-grid copy against the
    earlier batch's stored firsts and drops a pure-duplicate doc, while
    the rest of the funnel (quality mask) still runs."""
    import json
    import os

    from pyspark.sql import types as T

    from trialsync_etl_spark.streaming import structured

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    batches = {
        "a.json": [
            (1, 1_700_000_100,
             "intro one two three " + BLOCK + " tail alpha"),
            (2, 1_700_000_101,
             "a genuinely varied paragraph on broadcast joins and "
             "partition pruning with adaptive execution"),
        ],
        "b.json": [
            (10, 1_700_000_200,
             "different lead " + BLOCK + " other end words here"),
            (11, 1_700_000_201, BLOCK),  # pure duplicate -> dropped
        ],
    }
    for name, rows in batches.items():
        with open(os.path.join(landing, name), "w") as f:
            for did, ts, text in rows:
                f.write(json.dumps(
                    {"doc_id": did, "ts": ts, "text": text}
                ) + "\n")
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    out = str(tmp_path / "curated")
    store = str(tmp_path / "grams")
    sink = structured.CurateStreamSink(
        out, substring_store=store, substring_k=4, substring_min_len=8,
        min_tokens=3, max_top_token_frac=1.0, min_distinct_ratio=0.0,
    )
    stream = structured.read_landing_stream(
        spark, landing, schema, max_files_per_trigger=1
    )
    sink.attach(stream.withColumn(
        "ts", F.col("ts").cast("timestamp")
    ), str(tmp_path / "ckpt"))

    got = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert set(got) == {1, 2, 10}
    assert "w0" in got[1]               # first occurrence intact
    assert "w0" not in got[10]          # later-batch copy trimmed
    assert SS.read_substring_params(store) == {"k": 4, "hash_fn": "md5"}


def test_cli_substring_family(spark, tmp_path):
    """The substring command family end-to-end: fold batch 1, spans/trim
    batch 2 against the store, fold batch 2, compact, status — and
    missing required flags exit 2 before any Spark work."""
    import io as _io
    import json as _json

    from trialsync_etl_spark import cli

    b1_path = str(tmp_path / "b1.parquet")
    b2_path = str(tmp_path / "b2.parquet")
    _b1(spark).write.parquet(b1_path)
    _b2(spark).write.parquet(b2_path)
    store = str(tmp_path / "grams")
    run_log = str(tmp_path / "r.jsonl")

    out = _io.StringIO()
    assert cli.main(
        ["--run-log", run_log, "substring", "status", store], out=out
    ) == 0
    assert _json.loads(out.getvalue())["params"] is None

    out = _io.StringIO()
    rc = cli.main(
        ["--run-log", run_log, "substring", "fold", store,
         "--input", b1_path, "--batch-id", "b1", "--k", "4"],
        out=out,
    )
    assert rc == 0, out.getvalue()
    assert _json.loads(out.getvalue())["new_grams"] > 0

    spans_path = str(tmp_path / "spans")
    out = _io.StringIO()
    assert cli.main(
        ["--run-log", run_log, "substring", "spans", store,
         "--input", b2_path, "--output", spans_path, "--min-len", "8"],
        out=out,
    ) == 0
    spans = {(r.doc_id, r.span_start, r.span_end)
             for r in spark.read.parquet(spans_path).collect()}
    assert (10, 2, 13) in spans

    trim_path = str(tmp_path / "trim")
    out = _io.StringIO()
    assert cli.main(
        ["--run-log", run_log, "substring", "trim", store,
         "--input", b2_path, "--output", trim_path, "--min-len", "8"],
        out=out,
    ) == 0
    trimmed = {r.doc_id: r.text
               for r in spark.read.parquet(trim_path).collect()}
    assert "w0" not in trimmed[10]

    out = _io.StringIO()
    assert cli.main(
        ["--run-log", run_log, "substring", "fold", store,
         "--input", b2_path, "--batch-id", "b2", "--k", "4"],
        out=out,
    ) == 0
    out = _io.StringIO()
    assert cli.main(
        ["--run-log", run_log, "substring", "compact", store], out=out
    ) == 0
    assert _json.loads(out.getvalue())["grams_kept"] > 0
    out = _io.StringIO()
    assert cli.main(
        ["--run-log", run_log, "substring", "status", store], out=out
    ) == 0
    assert _json.loads(out.getvalue())["params"] == {
        "k": 4, "hash_fn": "md5"
    }

    out = _io.StringIO()
    assert cli.main(
        ["--run-log", run_log, "substring", "fold", store,
         "--input", b1_path], out=out,
    ) == 2
    assert "--batch-id" in out.getvalue()
