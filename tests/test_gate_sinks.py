"""The foreachBatch sink skeleton (`streaming.structured._GateSink`),
checked once over every sink: each sink has a case here and is run by a
benchmark (`bench.py` or `perfbench/workloads.py`); a crash-replay of a
micro-batch converges to the single run's landed output and store state;
a tagged sink refuses to run before `attach`; an empty micro-batch lands
nothing; every batch releases the thread's tracked persists; and
`attach` drains through an instance-level `process_batch` override."""

from __future__ import annotations

import os
import re
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

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


#: the benchmark sources a sink must be named in (read, never run here)
BENCH_SOURCES = [
    Path(__file__).resolve().parents[1] / "bench.py",
    Path(__file__).resolve().parents[1] / "perfbench" / "workloads.py",
]


@dataclass
class Case:
    sink: object
    batch: DataFrame


def _docs(spark) -> DataFrame:
    return spark.createDataFrame(DOCS, DOC_SCHEMA)


def _quality(spark, state, static):
    return Case(structured.QualityGateStreamSink(
        f"{state}/out", checks=[Q.not_null("doc_id"), Q.unique("doc_id")],
        quarantine_dir=f"{state}/quarantine", report_dir=f"{state}/report",
    ), _docs(spark))


def _near_dup(spark, state, static):
    return Case(structured.NearDupStreamSink(
        f"{state}/out", f"{state}/store", report_dir=f"{state}/report",
    ), _docs(spark))


def _substring(spark, state, static):
    block = " ".join(f"w{i}" for i in range(12))
    batch = spark.createDataFrame(
        [(1, "intro " + block + " tail"), (2, "lead " + block + " end"), (3, block)],
        "doc_id long, text string",
    )
    return Case(structured.SubstringDedupStreamSink(
        f"{state}/out", f"{state}/store", k=4, min_len=8,
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


CASES: dict[str, Callable] = {
    "quality": _quality,
    "near_dup": _near_dup,
    "substring": _substring,
    "semantic_dup": _semantic_dup,
    "decontam": _decontam,
    "perplexity": _perplexity,
}
#: the sinks whose store appends carry the stream-instance tag
TAGGED = ["near_dup", "substring", "semantic_dup"]


def _case(name, spark, tmp_path) -> tuple[Case, Callable[[], list], str]:
    """The case's sink and batch, a reader of everything the sink has
    landed, and a checkpoint dir."""
    state, static = str(tmp_path / "state"), str(tmp_path / "static")
    case = CASES[name](spark, state, static)
    return case, lambda: _snapshot(state), str(tmp_path / "ckpt")


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
    assert all(issubclass(getattr(structured, n), structured._GateSink) for n in sinks)
    # every sink has a case: the case factories name exactly the sinks
    covered = {
        n for make in CASES.values() for n in make.__code__.co_names
        if n.endswith("StreamSink")
    }
    assert covered == sinks
    # every sink is run by a benchmark, so a sink only tests reach is
    # caught here rather than kept alive by its own cases
    bench = "\n".join(p.read_text(encoding="utf-8") for p in BENCH_SOURCES)
    unrun = sorted(n for n in sinks if not re.search(rf"\b{n}\b", bench))
    assert unrun == []


@pytest.mark.parametrize("name", list(CASES))
def test_replayed_batch_converges(spark, tmp_path, name):
    """A crash-replay of batch 0 — the same id delivered again after its
    first attempt landed — leaves the landed output, the report and the
    store or index exactly as one run left them."""
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
    case.batch.coalesce(1).write.parquet(landing)
    seen = []
    case.sink.process_batch = lambda df, batch_id: seen.append((batch_id, df.count()))
    case.sink.attach(spark.readStream.schema(case.batch.schema).parquet(landing), ckpt)
    assert seen == [(0, case.batch.count())]
