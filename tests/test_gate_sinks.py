"""The foreachBatch sink skeleton (`streaming.structured._GateSink`),
checked once over all twelve sinks: a crash-replay of a micro-batch
converges to the single run's landed output and store state; a tagged
sink refuses to run before `attach`; an empty micro-batch lands nothing;
every batch releases the thread's tracked persists; and `attach` drains
through an instance-level `process_batch` override."""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrame

from trialsync_etl_spark import cache
from trialsync_etl_spark.operators import quality as Q
from trialsync_etl_spark.streaming import structured

BASE = "the quick brown fox jumps over the lazy dog again and again today"
DOCS = [
    (1, BASE, "http://a.example/1"),
    (2, BASE + " tonight", "http://a.example/2"),
    (3, "completely different content about spark engines and plans",
     "http://b.example/3"),
    (4, "spam spam spam spam spam spam spam", "http://b.example/4"),
]
DOC_SCHEMA = "doc_id long, text string, url string"


@dataclass
class Case:
    sink: object
    batch: DataFrame
    #: reads the sink's state where a row snapshot of the state dir
    #: would also see publish bookkeeping (version dirs, manifests)
    read: Callable[[], list] | None = None


def _docs(spark) -> DataFrame:
    return spark.createDataFrame(DOCS, DOC_SCHEMA)


def _scd2(spark, state, static):
    batch = spark.sql(
        "SELECT * FROM VALUES"
        " (1L, 1L, 'screening', 1.0D, TIMESTAMP'2024-01-01 00:00:00'),"
        " (2L, 2L, 'screening', 2.0D, TIMESTAMP'2024-01-01 01:00:00'),"
        " (3L, 1L, 'enrolled', 1.5D, TIMESTAMP'2024-01-02 00:00:00')"
        " AS t(event_id, user_id, status, value, ts)"
    )
    dim = f"{state}/dim"

    def read():
        if not os.path.exists(dim):
            return []
        return sorted(tuple(r) for r in spark.read.parquet(dim).collect())

    return Case(structured.Scd2StreamSink(
        spark, dim, key_cols=["user_id"],
        tracked_cols=["status", "value"], ts_col="ts", tiebreak_cols=["event_id"],
    ), batch, read)


def _curate(spark, state, static):
    return Case(structured.CurateStreamSink(
        f"{state}/out", substring_store=f"{state}/substr", substring_k=4,
        substring_min_len=8, max_per_domain=1, domain_store=f"{state}/domains",
    ), _docs(spark))


def _export(spark, state, static):
    return Case(structured.ExportStreamSink(f"{state}/out", n_shards=2), _docs(spark))


def _quality(spark, state, static):
    return Case(structured.QualityGateStreamSink(
        f"{state}/out", checks=[Q.not_null("doc_id"), Q.unique("doc_id")],
        quarantine_dir=f"{state}/quarantine", report_dir=f"{state}/report",
    ), _docs(spark))


def _near_dup(spark, state, static):
    return Case(structured.NearDupStreamSink(
        f"{state}/out", f"{state}/store", report_dir=f"{state}/report",
    ), _docs(spark))


def _media(spark, state, static):
    from trialsync_etl_spark.operators import media_dedup as md

    rows = [(s, bytes(md.triangle_image(s, 900))) for s in range(3)]
    rows.append((10, bytes(md.triangle_image(0, 1000))))  # re-encode of 0
    return Case(
        structured.MediaNearDupStreamSink(f"{state}/out", f"{state}/store"),
        spark.createDataFrame(rows, "media_id long, content binary"),
    )


def _substring(spark, state, static):
    block = " ".join(f"w{i}" for i in range(12))
    batch = spark.createDataFrame(
        [(1, "intro " + block + " tail"), (2, "lead " + block + " end"), (3, block)],
        "doc_id long, text string",
    )
    return Case(structured.SubstringDedupStreamSink(
        f"{state}/out", f"{state}/store", k=4, min_len=8,
    ), batch)


def _sketch(spark, state, static):
    batch = spark.createDataFrame(
        [(i % 7, "view" if i % 2 else "click") for i in range(40)],
        "user_id long, event_type string",
    )
    return Case(structured.SketchRollupStreamSink(
        f"{state}/store", ["event_type"], ["user_id"],
    ), batch)


def _semantic_dup(spark, state, static):
    batch = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0]),
         (3, [1.0, 0.05, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    return Case(structured.SemanticDupStreamSink(
        f"{state}/out", f"{state}/index", n_lists=2, report_dir=f"{state}/report",
    ), batch)


def _decontam(spark, state, static):
    from trialsync_etl_spark.operators.decontam_store import build_benchmark_store

    store = f"{static}/bench"
    build_benchmark_store(_docs(spark).filter("doc_id = 3"), store, "suite")
    return Case(structured.DecontamStreamSink(
        f"{state}/out", store, min_overlap_frac=0.5, report_dir=f"{state}/report",
    ), _docs(spark))


def _perplexity(spark, state, static):
    from trialsync_etl_spark.operators import lm_store

    store = f"{static}/lm"
    lm_store.build_lm_model(_docs(spark).filter("doc_id <= 3"), store, "ref")
    return Case(structured.PerplexityBandStreamSink(
        f"{state}/out", store, "ref", min_ppl=0.0, max_ppl=50.0,
        report_dir=f"{state}/report",
    ), _docs(spark))


def _freq(spark, state, static):
    batch = spark.createDataFrame(
        [(i, "HOT" if i % 3 else f"k{i}") for i in range(30)], "id long, key string"
    )
    return Case(structured.FreqRollupStreamSink(f"{state}/store", "key", 4, 64), batch)


CASES: dict[str, Callable] = {
    "scd2": _scd2,
    "curate": _curate,
    "export": _export,
    "quality": _quality,
    "near_dup": _near_dup,
    "media_near_dup": _media,
    "substring": _substring,
    "sketch": _sketch,
    "semantic_dup": _semantic_dup,
    "decontam": _decontam,
    "perplexity": _perplexity,
    "freq": _freq,
}
#: the sinks whose store appends carry the stream-instance tag
TAGGED = ["near_dup", "media_near_dup", "substring", "sketch", "semantic_dup", "freq"]


def _case(name, spark, tmp_path) -> tuple[Case, Callable[[], list], str]:
    """The case's sink and batch, a reader of everything the sink has
    landed, and a checkpoint dir."""
    state, static = str(tmp_path / "state"), str(tmp_path / "static")
    case = CASES[name](spark, state, static)
    return case, case.read or (lambda: _snapshot(state)), str(tmp_path / "ckpt")


def _snapshot(root: str) -> list:
    """Every landed row under ``root``: parquet rows and the lines of
    other files, each keyed by its hive ``k=v`` partition path. File
    names and unpartitioned dir names (write uuids, version dirs) are
    left out, so two equal states compare equal however they were
    written."""
    out = []
    for dirpath, _, files in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        part = "/".join(seg for seg in rel.split(os.sep) if "=" in seg)
        for f in files:
            if f.startswith(".") or f == "_SUCCESS" or f.endswith(("lock", "tmp")):
                continue
            path = os.path.join(dirpath, f)
            if f.endswith(".parquet"):
                rows = pq.read_table(path).to_pylist()
                out += [(part, repr(sorted(r.items()))) for r in rows]
            else:
                with open(path, "rb") as fh:
                    out += [(part, repr(line)) for line in fh.read().splitlines()]
    return sorted(out)


def test_every_sink_is_on_the_skeleton():
    sinks = {
        n for n, c in vars(structured).items()
        if n.endswith("StreamSink") and isinstance(c, type)
    }
    assert len(sinks) == len(CASES) == 12
    assert all(issubclass(getattr(structured, n), structured._GateSink) for n in sinks)


@pytest.mark.parametrize("name", list(CASES))
def test_replayed_batch_converges(spark, tmp_path, name):
    """A crash-replay of batch 0 — the same id delivered again after its
    first attempt landed — leaves the landed output, the report and the
    store, index or dim exactly as one run left them."""
    case, landed, ckpt = _case(name, spark, tmp_path)
    case.sink._restore(ckpt)
    case.sink.process_batch(case.batch, 0)
    once = landed()
    assert once
    case.sink.process_batch(case.batch, 0)
    assert landed() == once


@pytest.mark.parametrize("name", TAGGED)
def test_tagged_sink_refuses_to_run_before_attach(spark, tmp_path, name):
    case, landed, _ = _case(name, spark, tmp_path)
    assert case.sink._marker
    with pytest.raises(RuntimeError, match="before attach"):
        case.sink.process_batch(case.batch, 0)
    assert landed() == []


@pytest.mark.parametrize("name", list(CASES))
def test_empty_batch_lands_nothing(spark, tmp_path, name):
    case, landed, ckpt = _case(name, spark, tmp_path)
    case.sink._restore(ckpt)
    case.sink.process_batch(case.batch.limit(0), 0)
    assert landed() == []


@pytest.mark.parametrize("name", list(CASES))
def test_every_batch_releases_tracked_persists(spark, tmp_path, name):
    """The stream thread never sees another build, so each batch must
    release what was tracked on its thread — whether or not the gate
    itself tracked anything."""
    case, _, ckpt = _case(name, spark, tmp_path)
    case.sink._restore(ckpt)
    cache.track_persist(spark.range(3).persist())
    case.sink.process_batch(case.batch, 0)
    assert cache._tracked() == []


@pytest.mark.parametrize("name", list(CASES))
def test_attach_drains_through_instance_process_batch(spark, tmp_path, name):
    """``attach`` calls ``self.process_batch`` as looked up on the
    instance, so a per-instance wrapper (the benchmark's per-batch
    timer) sees every micro-batch."""
    case, _, ckpt = _case(name, spark, tmp_path)
    landing = str(tmp_path / "landing")
    batch = case.batch if name != "curate" else case.batch.selectExpr(
        "*", "TIMESTAMP'2024-01-01 00:00:00' AS ts"
    )
    batch.coalesce(1).write.parquet(landing)
    seen = []
    case.sink.process_batch = lambda df, batch_id: seen.append((batch_id, df.count()))
    case.sink.attach(spark.readStream.schema(batch.schema).parquet(landing), ckpt)
    # (the curate sink's watermarked dedup may add a no-data batch after)
    assert seen[0] == (0, case.batch.count())
    assert all(n == 0 for _, n in seen[1:])
