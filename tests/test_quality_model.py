"""Trainable quality filter (operators/quality_model.py): deterministic
training, ranking sanity, literal-inlined inference with a python-free
plan, funnel wiring. The score-vs-DuckDB oracle parity runs in
test_queries_oracle via the text_quality_model registry entry."""

from __future__ import annotations

import pytest

import contextlib
import io
import re

from pyspark.sql import functions as F

from trialsync_etl_spark.operators.quality_model import (
    DEFAULT_QUALITY_MODEL,
    FEATURES,
    QualityModel,
    quality_model_mask,
    quality_model_score,
    train_quality_model,
)


def _fixture(spark):
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
        ),
    )
    from train_quality_model import labeled_fixture

    return labeled_fixture(spark).localCheckpoint()


def test_training_is_deterministic_and_separates_classes(spark):
    """Two fits of the same fixture return IDENTICAL exported constants
    (seeded LBFGS over a fixed feature order), and the fitted model
    scores the degraded negatives below the natural positives with a
    clean margin — the committed DEFAULT_QUALITY_MODEL is exactly this
    fit (scripts/train_quality_model.py)."""
    fx = _fixture(spark)
    m1 = train_quality_model(fx)
    m2 = train_quality_model(fx)
    assert m1 == m2
    assert set(m1.weights) == set(FEATURES)

    scored = fx.select(
        "label", quality_model_score(F.col("text"), m1).alias("s")
    ).groupBy("label").agg(F.avg("s").alias("avg_s"))
    avg = {r.label: r.avg_s for r in scored.collect()}
    assert avg[1] > 0.8 and avg[0] < 0.3, avg

    # repetition must hurt: the spam/loop features carry negative weight
    assert m1.weights["top_token_frac"] < 0
    assert m1.weights["dup_bigram_frac"] < 0


def test_default_model_mask_drops_degenerate_docs(spark):
    df = spark.createDataFrame(
        [
            (1, "a thoughtful paragraph about spark partition pruning and "
                "adaptive execution with varied vocabulary throughout"),
            (2, "spam spam spam spam spam spam spam spam spam spam spam"),
            (3, "buy now buy now buy now buy now buy now buy now buy now"),
            (4, "ok bye"),
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r.doc_id
        for r in df.filter(
            quality_model_mask(F.col("text"), 0.5)
        ).collect()
    )
    assert kept == [1]
    # scores are deterministic literals: same frame, same scores
    s1 = df.select(F.round(quality_model_score(F.col("text")), 6).alias("s")).collect()
    s2 = df.select(F.round(quality_model_score(F.col("text")), 6).alias("s")).collect()
    assert s1 == s2


def test_score_plan_is_jvm_only(spark):
    """Inference is a literal-inlined sigmoid — the executed plan must
    contain no python/pandas stages and stay inside whole-stage codegen
    (MLlib exists at TRAINING time only)."""
    from tests.conftest import SF_DIR
    from trialsync_etl_spark.plans import registry

    registry.load_all()
    df = registry.QUERIES["text_quality_model"](spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert not re.search(
        r"^\(\d+\) (ArrowEvalPython|MapInPandas|BatchEvalPython)", plan, re.M
    ), plan
    assert "[codegen id :" in plan


def test_model_save_load_roundtrip(tmp_path):
    p = str(tmp_path / "model.json")
    DEFAULT_QUALITY_MODEL.save(p)
    assert QualityModel.load(p) == DEFAULT_QUALITY_MODEL


def test_curate_funnel_model_stage(spark):
    """curate_corpus(quality_model=...) adds the model_filtered stage
    after the heuristic mask, drops the degenerate doc the heuristics
    were configured to let through, and records the threshold on the
    funnel stats."""
    from trialsync_etl_spark.operators.curate import curate_corpus

    docs = spark.createDataFrame(
        [
            (1, "a genuinely varied document discussing shuffle hash joins "
                "broadcast thresholds and partition coalescing in detail"),
            (2, "buy now buy now buy now buy now buy now buy now buy now "
                "buy now buy now buy now buy now buy now buy now buy now"),
        ],
        "doc_id long, text string",
    )
    res = curate_corpus(
        docs,
        # heuristics opened wide: the MODEL must do the dropping
        min_tokens=3, max_top_token_frac=1.0, min_distinct_ratio=0.0,
        quality_model=DEFAULT_QUALITY_MODEL, min_quality_score=0.5,
        near_dup=False, persist=False,
    )
    assert [r.doc_id for r in res.corpus.collect()] == [1]
    assert "model_filtered" in res.stages
    assert res.stats["quality_model_min_score"] == 0.5


def test_cli_quality_model_train_show_apply(spark, tmp_path):
    """The quality-model lifecycle CLI end-to-end: `train` fits on a
    labeled parquet and saves the plain-float model JSON, `show` prints
    its constants (and the committed defaults with no --model), `apply`
    writes scored docs and the >= --min-score survivors using the saved
    model; usage errors exit 2 before any Spark work."""
    import json as _json
    import os

    from trialsync_etl_spark import cli

    labeled_path = str(tmp_path / "labeled.parquet")
    _fixture(spark).write.parquet(labeled_path)
    model_path = str(tmp_path / "model.json")
    run_log = str(tmp_path / "runs.jsonl")

    out = io.StringIO()
    rc = cli.main(
        ["--run-log", run_log, "quality-model", "train",
         "--input", labeled_path, "--out-model", model_path],
        out=out,
    )
    assert rc == 0
    trained = _json.loads(out.getvalue().strip())
    assert os.path.exists(model_path)
    assert set(trained["weights"]) == set(FEATURES)
    # the fit is deterministic — re-training the committed fixture
    # reproduces the committed constants
    assert trained["weights"] == DEFAULT_QUALITY_MODEL.weights
    assert trained["intercept"] == DEFAULT_QUALITY_MODEL.intercept

    out = io.StringIO()
    assert cli.main(
        ["--run-log", run_log, "quality-model", "show",
         "--model", model_path], out=out,
    ) == 0
    shown = _json.loads(out.getvalue().strip())
    assert shown["weights"] == trained["weights"]
    out = io.StringIO()
    assert cli.main(
        ["--run-log", run_log, "quality-model", "show"], out=out
    ) == 0
    assert _json.loads(out.getvalue().strip())["model"] == "<default constants>"

    docs = spark.createDataFrame(
        [
            (1, "a genuinely varied document discussing shuffle hash "
                "joins broadcast thresholds and partition coalescing"),
            (2, "spam spam spam spam spam spam spam spam spam spam spam "
                "spam spam spam spam spam spam spam spam spam spam spam"),
        ],
        "doc_id long, text string",
    )
    docs_path = str(tmp_path / "docs.parquet")
    docs.write.parquet(docs_path)
    scores_path = str(tmp_path / "scored")
    kept_path = str(tmp_path / "kept")
    out = io.StringIO()
    rc = cli.main(
        ["--run-log", run_log, "quality-model", "apply",
         "--input", docs_path, "--model", model_path,
         "--scores", scores_path, "--output", kept_path,
         "--min-score", "0.5"],
        out=out,
    )
    assert rc == 0
    body = _json.loads(out.getvalue().strip())
    assert body["n_in"] == 2 and body["n_kept"] == 1
    scored = {r.doc_id: r.quality_score
              for r in spark.read.parquet(scores_path).collect()}
    assert scored[1] >= 0.5 > scored[2]
    assert [r.doc_id for r in spark.read.parquet(kept_path).collect()] == [1]

    # usage errors are loud and Spark-free
    out = io.StringIO()
    assert cli.main(
        ["--run-log", run_log, "quality-model", "train",
         "--input", labeled_path], out=out,
    ) == 2
    out = io.StringIO()
    assert cli.main(
        ["--run-log", run_log, "quality-model", "apply",
         "--input", docs_path], out=out,
    ) == 2


def test_check_quality_drift_fires_on_planted_degraded_source(spark, tmp_path):
    """The nightly score-distribution observable: run 1 establishes the
    per-source baseline (empty drift report — nothing to compare), run 2
    over the SAME corpus is quiet (distributions unmoved), run 3 after
    one source degrades into token spam publishes exactly that source in
    quality_drift_report and the quality_score_drift alert rule fires."""
    import os
    import shutil

    from trialsync_etl_spark.alerts import evaluate_report_alerts
    from trialsync_etl_spark.transforms import (
        WarehouseContext,
        load_all,
        run_transform,
    )

    load_all()
    sf_dir = str(tmp_path / "sf")
    wh = str(tmp_path / "wh")
    os.makedirs(sf_dir)

    base = spark.createDataFrame(
        [
            (i,
             f"doc {i} discusses broadcast joins partition pruning and "
             f"adaptive execution with varied useful detail number {i}",
             "en", "web" if i % 2 == 0 else "books")
            for i in range(40)
        ],
        "doc_id long, text string, lang string, source string",
    )
    base.write.parquet(os.path.join(sf_dir, "documents.parquet"))
    ctx = WarehouseContext(sf_dir=sf_dir, warehouse_dir=wh)

    def evaluate_quality_drift_alerts(wh):
        return [a for a in evaluate_report_alerts(wh)
                if a["rule"] == "quality_score_drift"]

    r1 = run_transform(spark, "check_quality_drift", ctx)
    assert r1.status == "success"
    assert spark.read.parquet(os.path.join(wh, "quality_drift_report")).count() == 0
    report = {r.source: r for r in spark.read.parquet(
        os.path.join(wh, "quality_score_report")).collect()}
    assert set(report) == {"web", "books"} and report["web"].n_docs == 20
    assert evaluate_quality_drift_alerts(wh) == []

    # unchanged corpus: second run is quiet
    r2 = run_transform(spark, "check_quality_drift", ctx)
    assert r2.status == "success"
    assert evaluate_quality_drift_alerts(wh) == []

    # the 'books' source degrades into repetition spam
    degraded = base.withColumn(
        "text",
        F.when(F.col("source") == "books",
               F.lit("buy now " * 20)).otherwise(F.col("text")),
    )
    shutil.rmtree(os.path.join(sf_dir, "documents.parquet"))
    degraded.write.parquet(os.path.join(sf_dir, "documents.parquet"))

    r3 = run_transform(spark, "check_quality_drift", ctx)
    assert r3.status == "success"
    drift = spark.read.parquet(os.path.join(wh, "quality_drift_report")).collect()
    assert [r.source for r in drift] == ["books"]
    assert drift[0].p50_delta >= 0.05 or drift[0].mean_delta >= 0.05
    alerts = evaluate_quality_drift_alerts(wh)
    assert len(alerts) == 1 and alerts[0]["rule"] == "quality_score_drift"
    assert alerts[0]["sources"][0]["source"] == "books"

    # the API surface: served from the landed table, Spark-free, and the
    # consolidated /alerts channel carries the same rule
    import json as _json

    from trialsync_etl_spark.api import ControlPlane
    from trialsync_etl_spark.runs import RunLog

    plane = ControlPlane(
        run_log=RunLog(str(tmp_path / "runs.jsonl")), warehouse_dir=wh
    )
    status, _, payload = plane.handle("GET", "/quality/drift")
    body = _json.loads(payload)
    assert status == 200 and body["all_quiet"] is False
    assert body["sources"][0]["source"] == "books"
    status, _, payload = plane.handle("GET", "/alerts?min_rate=none")
    body = _json.loads(payload)
    assert status == 200
    assert any(a["rule"] == "quality_score_drift" for a in body["alerts"])


@pytest.mark.slow
def test_cli_release_with_model_and_substring_stages(spark, tmp_path):
    """`release --quality-model default --substring-dedup` runs the
    trained-filter and substring-dedup funnel stages inside the release
    path: both stages appear in funnel.json and the shards verify."""
    import json as _json
    import os

    from tests.conftest import SF_DIR
    from trialsync_etl_spark import cli

    out_dir = str(tmp_path / "rel")
    out = io.StringIO()
    rc = cli.main(
        ["--run-log", str(tmp_path / "runs.jsonl"),
         "release", os.path.join(SF_DIR, "documents.parquet"), out_dir,
         "--n-shards", "2",
         "--quality-model", "default", "--min-quality-score", "0.2",
         "--substring-dedup", "--substring-min-len", "12"],
        out=out,
    )
    assert rc == 0
    body = _json.loads(out.getvalue().strip())
    assert body["verified"] is True
    funnel = body["funnel"]
    assert "model_filtered" in funnel and "substring_deduped" in funnel
    assert funnel["model_filtered"] >= funnel["substring_deduped"] > 0
