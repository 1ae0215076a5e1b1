"""Persisted unigram-LM store (operators/lm_store.py): train-once /
score-every-batch parity with the one-shot path, loud param pins, the
funnel stage, the perplexity-band gate sink, and the `lm` CLI
lifecycle."""

from __future__ import annotations

import io
import json
import os

import pytest
from pyspark.sql import functions as F

from trialsync_etl_spark.operators import lm_store
from trialsync_etl_spark.operators.lm import (
    doc_perplexity,
    perplexity_band_mask,
    unigram_model,
)

#: reference corpus — a small common-word world the model memorizes
REF_ROWS = [
    (100, "the quick brown fox jumps over the lazy dog"),
    (101, "the lazy dog sleeps under the brown tree"),
    (102, "a quick fox and a brown dog play over the tree"),
]
#: scored docs: common-words (low ppl) / mixed (mid) / gibberish (high —
#: every token takes the UNK mass, the model's highest per-token cost)
DOC_ROWS = [
    (1, "the quick brown fox and the lazy dog"),
    (2, "the quick zephyr glyph dog over qwyjibo tree"),
    (3, "xqzt vvkp zzyqm wwrrt qqllx ppzzn"),
]


def _ref(spark):
    return spark.createDataFrame(REF_ROWS, "doc_id long, text string")


def _docs(spark):
    return spark.createDataFrame(DOC_ROWS, "doc_id long, text string")


def test_build_list_rebuild_and_partition_safety(spark, tmp_path):
    """Models register under their id with the recorded scalars; a
    rebuild of the SAME id overwrites (replay-convergent); ids must be
    partition-safe."""
    store = str(tmp_path / "lm")
    p1 = lm_store.build_lm_model(_ref(spark), store, "ref-v1")
    assert p1["add_k"] == 1.0 and p1["vocab"] > 0 and p1["unseen_logp"] < 0
    p2 = lm_store.build_lm_model(
        _ref(spark), store, "ref-v2", add_k=0.5
    )
    assert lm_store.list_lm_models(store) == ["ref-v1", "ref-v2"]
    assert lm_store.read_lm_params(store, "ref-v2") == p2
    assert p2["unseen_logp"] != p1["unseen_logp"]  # add_k changes the mass

    # rebuild same id with different smoothing: the entry is REPLACED
    p1b = lm_store.build_lm_model(_ref(spark), store, "ref-v1", add_k=2.0)
    assert lm_store.read_lm_params(store, "ref-v1") == p1b
    assert lm_store.list_lm_models(store) == ["ref-v1", "ref-v2"]

    for bad in ("", "a/b", "a=b", "a%b"):
        with pytest.raises(ValueError, match="partition-safe"):
            lm_store.build_lm_model(_ref(spark), store, bad)


def test_store_score_is_bit_identical_to_one_shot(spark, tmp_path):
    """The stored vocab holds the one-shot model's 8 dp log-probs
    verbatim, so store-backed scoring reproduces doc_perplexity exactly
    — including unseen-token UNK mass and the low < mid < high ordering
    of the planted docs."""
    store = str(tmp_path / "lm")
    lm_store.build_lm_model(_ref(spark), store, "ref-v1")
    got = {
        r.doc_id: r.asDict()
        for r in lm_store.score_perplexity_store(
            spark, _docs(spark), store, "ref-v1"
        ).collect()
    }
    lm, unseen = unigram_model(_ref(spark))
    want = {
        r.doc_id: r.asDict()
        for r in doc_perplexity(_docs(spark), lm, unseen).collect()
    }
    assert got == want
    assert (
        got[1]["perplexity"] < got[2]["perplexity"] < got[3]["perplexity"]
    )


def test_band_store_gates_like_the_mask(spark, tmp_path):
    """perplexity_band_store == perplexity_band_mask with the same model
    — the per-ingest banding call keeps exactly the in-band docs."""
    store = str(tmp_path / "lm")
    lm_store.build_lm_model(_ref(spark), store, "ref-v1")
    scores = {
        r.doc_id: r.perplexity
        for r in lm_store.score_perplexity_store(
            spark, _docs(spark), store, "ref-v1"
        ).collect()
    }
    lo = (scores[1] + scores[2]) / 2  # band keeps ONLY the mixed doc
    hi = (scores[2] + scores[3]) / 2
    kept = sorted(
        r.doc_id
        for r in lm_store.perplexity_band_store(
            spark, _docs(spark), store, "ref-v1", lo, hi
        ).collect()
    )
    assert kept == [2]
    lm, unseen = unigram_model(_ref(spark))
    want = sorted(
        r.doc_id
        for r in perplexity_band_mask(
            _docs(spark), lm, unseen, lo, hi
        ).collect()
    )
    assert kept == want


def test_missing_and_corrupt_meta_are_loud(spark, tmp_path):
    """Empty store → FileNotFoundError; unknown id → error listing the
    built models; corrupt meta → a rebuild instruction, never a bare
    JSONDecodeError/KeyError (the decontam-store contract)."""
    store = str(tmp_path / "lm")
    with pytest.raises(FileNotFoundError, match="no models"):
        lm_store.read_lm_params(store, "nope")
    lm_store.build_lm_model(_ref(spark), store, "ref-v1")
    with pytest.raises(ValueError, match=r"ref-v1"):
        lm_store.read_lm_params(store, "nope")
    with open(store + "__meta.json", "w") as f:
        f.write('{"models": {"ref-v1": {"add_')  # torn write
    with pytest.raises(ValueError, match="rebuild"):
        lm_store.read_lm_meta(store)
    with pytest.raises(ValueError, match="rebuild"):
        lm_store.score_perplexity_store(
            spark, _docs(spark), store, "ref-v1"
        )
    # meta present and valid JSON but missing the registry key: same
    with open(store + "__meta.json", "w") as f:
        json.dump({"wrong": 1}, f)
    with pytest.raises(ValueError, match="rebuild"):
        lm_store.read_lm_meta(store)


def test_curate_funnel_store_arm_equals_ref_arm(spark, tmp_path):
    """curate_corpus(perplexity_store=) keeps exactly the docs the
    perplexity_ref= arm keeps when the stored model was trained on the
    same reference — the two arms are twins; the knob contradictions
    raise before any work."""
    from trialsync_etl_spark.operators.curate import curate_corpus

    store = str(tmp_path / "lm")
    ref = _ref(spark)
    lm_store.build_lm_model(ref, store, "ref-v1")
    docs = _docs(spark)
    scores = {
        r.doc_id: r.perplexity
        for r in lm_store.score_perplexity_store(
            spark, docs, store, "ref-v1"
        ).collect()
    }
    band = ((scores[1] + scores[2]) / 2, (scores[2] + scores[3]) / 2)

    via_ref = curate_corpus(
        docs, perplexity_band=band, perplexity_ref=ref, near_dup=False,
        persist=False,
    )
    via_store = curate_corpus(
        docs, perplexity_band=band, perplexity_store=(store, "ref-v1"),
        near_dup=False, persist=False,
    )
    ids = lambda res: sorted(  # noqa: E731
        r.doc_id for r in res.stages["perplexity_banded"].collect()
    )
    assert ids(via_store) == ids(via_ref) == [2]
    assert via_store.stats["perplexity_model"] == "ref-v1"

    with pytest.raises(ValueError, match="not both"):
        curate_corpus(
            docs, perplexity_band=band, perplexity_ref=ref,
            perplexity_store=(store, "ref-v1"),
        )
    with pytest.raises(ValueError, match="perplexity_band"):
        curate_corpus(docs, perplexity_store=(store, "ref-v1"))


def test_cli_lm_train_list_score_band(spark, tmp_path):
    """The `lm` CLI lifecycle end-to-end: train persists the model and
    prints its scalars, list shows the registry, score writes per-doc
    perplexity, band writes the survivors; usage errors exit 2 before
    Spark starts."""
    from trialsync_etl_spark import cli

    ref_path = str(tmp_path / "ref.parquet")
    docs_path = str(tmp_path / "docs.parquet")
    _ref(spark).write.parquet(ref_path)
    _docs(spark).write.parquet(docs_path)
    store = str(tmp_path / "lm")
    run_log = str(tmp_path / "runs.jsonl")

    out = io.StringIO()
    rc = cli.main(
        ["--run-log", run_log, "lm", "train", "--input", ref_path,
         "--store", store, "--model-id", "ref-v1"],
        out=out,
    )
    assert rc == 0
    trained = json.loads(out.getvalue().strip())
    assert trained["model_id"] == "ref-v1" and trained["vocab"] > 0

    out = io.StringIO()
    assert cli.main(
        ["--run-log", run_log, "lm", "list", "--store", store], out=out
    ) == 0
    assert "ref-v1" in json.loads(out.getvalue())["models"]

    scores_path = str(tmp_path / "scores.parquet")
    out = io.StringIO()
    assert cli.main(
        ["--run-log", run_log, "lm", "score", "--input", docs_path,
         "--store", store, "--model-id", "ref-v1",
         "--output", scores_path],
        out=out,
    ) == 0
    assert json.loads(out.getvalue())["n_docs"] == 3
    scores = {
        r.doc_id: r.perplexity
        for r in spark.read.parquet(scores_path).collect()
    }
    lo = (scores[1] + scores[2]) / 2
    hi = (scores[2] + scores[3]) / 2

    band_path = str(tmp_path / "band.parquet")
    out = io.StringIO()
    assert cli.main(
        ["--run-log", run_log, "lm", "band", "--input", docs_path,
         "--store", store, "--model-id", "ref-v1",
         "--output", band_path, "--band", f"{lo}:{hi}"],
        out=out,
    ) == 0
    summary = json.loads(out.getvalue())
    assert summary["n_in"] == 3 and summary["n_kept"] == 1
    assert [r.doc_id for r in spark.read.parquet(band_path).collect()] == [2]

    # usage errors: exit 2, no Spark needed
    out = io.StringIO()
    assert cli.main(
        ["--run-log", run_log, "lm", "train", "--store", store], out=out
    ) == 2
    assert "--input" in out.getvalue() and "--model-id" in out.getvalue()
    out = io.StringIO()
    assert cli.main(
        ["--run-log", run_log, "lm", "band", "--input", docs_path,
         "--store", store, "--model-id", "ref-v1",
         "--output", band_path, "--band", "oops"],
        out=out,
    ) == 2


@pytest.mark.slow
def test_cli_release_perplexity_store_flags(spark, tmp_path):
    """release --perplexity-store: the flag contradictions exit 2 before
    Spark; a full release with the store-backed band stage lands the
    banded funnel stage."""
    from trialsync_etl_spark import cli

    ref_path = str(tmp_path / "ref.parquet")
    docs_path = str(tmp_path / "docs.parquet")
    _ref(spark).write.parquet(ref_path)
    _docs(spark).write.parquet(docs_path)
    store = str(tmp_path / "lm")
    lm_store.build_lm_model(_ref(spark), store, "ref-v1")
    run_log = str(tmp_path / "runs.jsonl")

    out = io.StringIO()
    assert cli.main(
        ["--run-log", run_log, "release", docs_path,
         str(tmp_path / "rel0"),
         "--perplexity-store", store],
        out=out,
    ) == 2
    assert "--perplexity-model" in out.getvalue()
    out = io.StringIO()
    assert cli.main(
        ["--run-log", run_log, "release", docs_path,
         str(tmp_path / "rel0"),
         "--perplexity-store", store, "--perplexity-model", "ref-v1",
         "--perplexity-band", "1:10", "--perplexity-ref", ref_path],
        out=out,
    ) == 2
    assert "not both" in out.getvalue()

    scores = {
        r.doc_id: r.perplexity
        for r in lm_store.score_perplexity_store(
            spark, _docs(spark), store, "ref-v1"
        ).collect()
    }
    lo = (scores[1] + scores[2]) / 2
    hi = (scores[2] + scores[3]) / 2
    rel = str(tmp_path / "rel")
    out = io.StringIO()
    rc = cli.main(
        ["--run-log", run_log, "release", docs_path, rel,
         "--n-shards", "1",
         "--perplexity-store", store, "--perplexity-model", "ref-v1",
         "--perplexity-band", f"{lo}:{hi}"],
        out=out,
    )
    assert rc == 0
    funnel = json.load(open(os.path.join(rel, "funnel.json")))
    assert funnel["perplexity_banded"] == 1

def test_api_lm_models_endpoint(spark, tmp_path):
    """GET /lm/models serves the model registry Spark-free: 503 with no
    store attached, 404 before any model is built, the ids + pinned
    scalars after (the decontam/benchmarks contract for the LM family)."""
    from trialsync_etl_spark.api import ControlPlane
    from trialsync_etl_spark.runs import RunLog

    run_log = RunLog(str(tmp_path / "runs.jsonl"))
    store = str(tmp_path / "lm")

    status, _, _ = ControlPlane(run_log=run_log).handle("GET", "/lm/models")
    assert status == 503

    plane = ControlPlane(run_log=run_log, lm_store=store)
    status, _, _ = plane.handle("GET", "/lm/models")
    assert status == 404

    params = lm_store.build_lm_model(_ref(spark), store, "ref-v1")
    status, _, payload = plane.handle("GET", "/lm/models")
    assert status == 200
    body = json.loads(payload)
    assert body["models"] == {"ref-v1": params}

def test_check_perplexity_drift_fires_on_planted_degraded_source(
    spark, tmp_path
):
    """The nightly perplexity-distribution observable, store-backed: run
    1 establishes the per-source baseline (empty drift report), run 2
    over the same corpus is quiet, run 3 after one source degrades into
    out-of-vocabulary gibberish (perplexity jumps to UNK level)
    publishes exactly that source, the perplexity_drift alert rule
    fires, and GET /lm/drift serves the landed report Spark-free.
    Without lm_store/lm_model_id options the member is a recorded
    no-op (the ANN members' contract)."""
    import shutil

    from trialsync_etl_spark.alerts import (
        evaluate_alerts,
        evaluate_report_alerts,
    )
    from trialsync_etl_spark.transforms import (
        WarehouseContext,
        load_all,
        run_transform,
    )

    load_all()
    sf_dir = str(tmp_path / "sf")
    wh = str(tmp_path / "wh")
    os.makedirs(sf_dir)

    def evaluate_perplexity_drift_alerts(wh):
        return [a for a in evaluate_report_alerts(wh)
                if a["rule"] == "perplexity_drift"]

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
    store = str(tmp_path / "lm")
    lm_store.build_lm_model(
        base.select("doc_id", "text"), store, "ref-v1"
    )

    # no lm_store configured: recorded no-op, nothing published
    bare = WarehouseContext(sf_dir=sf_dir, warehouse_dir=wh)
    r0 = run_transform(spark, "check_perplexity_drift", bare)
    assert r0.status == "success"
    assert not os.path.exists(os.path.join(wh, "perplexity_report"))

    ctx = WarehouseContext(
        sf_dir=sf_dir, warehouse_dir=wh,
        options={"lm_store": store, "lm_model_id": "ref-v1"},
    )
    r1 = run_transform(spark, "check_perplexity_drift", ctx)
    assert r1.status == "success"
    assert spark.read.parquet(
        os.path.join(wh, "perplexity_drift_report")
    ).count() == 0
    report = {r.source: r for r in spark.read.parquet(
        os.path.join(wh, "perplexity_report")).collect()}
    assert set(report) == {"web", "books"}
    assert report["web"].n_docs == 20
    assert report["books"].model_id == "ref-v1"
    assert evaluate_perplexity_drift_alerts(wh) == []

    # unchanged corpus, unchanged model: second run is quiet
    r2 = run_transform(spark, "check_perplexity_drift", ctx)
    assert r2.status == "success"
    assert evaluate_perplexity_drift_alerts(wh) == []

    # the 'books' source degrades into out-of-vocabulary gibberish —
    # the STORED model is unchanged, so its perplexity jumps
    degraded = base.withColumn(
        "text",
        F.when(F.col("source") == "books",
               F.lit("xqzt vvkp zzyqm wwrrt qqllx ppzzn"))
        .otherwise(F.col("text")),
    )
    shutil.rmtree(os.path.join(sf_dir, "documents.parquet"))
    degraded.write.parquet(os.path.join(sf_dir, "documents.parquet"))

    r3 = run_transform(spark, "check_perplexity_drift", ctx)
    assert r3.status == "success"
    drift = spark.read.parquet(
        os.path.join(wh, "perplexity_drift_report")
    ).collect()
    assert [r.source for r in drift] == ["books"]
    assert max(drift[0].p50_rel, drift[0].mean_rel) >= 0.10
    assert drift[0].p50_now > drift[0].p50_prev  # toward gibberish

    alerts = evaluate_perplexity_drift_alerts(wh)
    assert len(alerts) == 1 and alerts[0]["rule"] == "perplexity_drift"
    assert alerts[0]["sources"][0]["source"] == "books"
    # the consolidated channel carries the rule too
    from trialsync_etl_spark.runs import RunLog

    run_log = RunLog(str(tmp_path / "runs.jsonl"))
    assert any(
        a["rule"] == "perplexity_drift"
        for a in evaluate_alerts(run_log, warehouse_dir=wh)
    )

    # API surface: served from the landed table, Spark-free
    from trialsync_etl_spark.api import ControlPlane

    status, _, _ = ControlPlane(run_log=run_log).handle("GET", "/lm/drift")
    assert status == 503
    plane = ControlPlane(run_log=run_log, warehouse_dir=wh)
    status, _, payload = plane.handle("GET", "/lm/drift")
    assert status == 200
    body = json.loads(payload)
    assert body["all_quiet"] is False
    assert body["sources"][0]["source"] == "books"
    # a warehouse whose chain never ran the member: 404, not a crash
    status, _, _ = ControlPlane(
        run_log=run_log, warehouse_dir=str(tmp_path / "empty_wh")
    ).handle("GET", "/lm/drift")
    assert status == 404

def test_store_bigram_model_roundtrip_and_order_dispatch(spark, tmp_path):
    """Order-2 models persist all three tables and score bit-identically
    to the one-shot bigram path; the order pin routes scoring and
    banding automatically and makes the wrong-shape readers loud; an
    order-less legacy meta entry reads as order 1."""
    from trialsync_etl_spark.operators.lm import (
        bigram_model,
        doc_perplexity_bigram,
    )

    store = str(tmp_path / "lm")
    ref = _ref(spark)
    params = lm_store.build_lm_model(ref, store, "bi-v1", order=2)
    assert params["order"] == 2 and params["vocab"] > 0

    docs = _docs(spark)
    got = {
        r.doc_id: r.asDict()
        for r in lm_store.score_perplexity_store(
            spark, docs, store, "bi-v1", lam=0.5
        ).collect()
    }
    uni, bi, ctx, sc = bigram_model(ref)
    want = {
        r.doc_id: r.asDict()
        for r in doc_perplexity_bigram(
            docs, uni, bi, ctx, sc["unseen_logp"], lam=0.5
        ).collect()
    }
    assert got == want

    # wrong-shape readers are loud both ways
    with pytest.raises(ValueError, match="read_bigram_lm_model"):
        lm_store.read_lm_model(spark, store, "bi-v1")
    lm_store.build_lm_model(ref, store, "uni-v1", order=1)
    with pytest.raises(ValueError, match="read_lm_model"):
        lm_store.read_bigram_lm_model(spark, store, "uni-v1")
    # r14: orders 4/5 are the generalized-KN arm — only 6+ is invalid
    with pytest.raises(ValueError, match="order must be"):
        lm_store.build_lm_model(ref, store, "six-v1", order=6)

    # banding dispatches on the stored order with no special wiring
    ppl = sorted(v["perplexity"] for v in got.values())
    kept = sorted(
        r.doc_id
        for r in lm_store.perplexity_band_store(
            spark, docs, store, "bi-v1",
            ppl[0] + 0.001, ppl[2] - 0.001,
        ).collect()
    )
    assert kept == [2]  # the mixed doc stays the band's middle

    # a legacy meta entry without "order" is an order-1 model
    import json as _json

    meta = _json.load(open(store + "__meta.json"))
    del meta["models"]["uni-v1"]["order"]
    with open(store + "__meta.json", "w") as f:
        _json.dump(meta, f)
    vocab, unseen = lm_store.read_lm_model(spark, store, "uni-v1")
    assert vocab.count() == params["vocab"] and unseen < 0

@pytest.mark.slow
def test_store_kn_order3_roundtrip_and_order_dispatch(spark, tmp_path):
    """Order-3 (interpolated Kneser-Ney) models persist exactly the FIVE
    original tables (vocab, bigrams, contexts, trigrams, contexts3 — no
    grams<n>/contexts<n> dirs) and score bit-identically to the one-shot
    kn_tables(order=3) path; the order pin routes score/band
    automatically; wrong-shape readers are loud; the meta records the
    discount instead of add_k."""
    from trialsync_etl_spark.operators.lm import (
        doc_perplexity_kn_n,
        kn_tables,
    )

    store = str(tmp_path / "lm")
    ref = _ref(spark)
    params = lm_store.build_lm_model(
        ref, store, "kn-v1", order=3, discount=0.75
    )
    assert params["order"] == 3 and params["discount"] == 0.75
    assert params["vocab"] > 0 and params["unseen_logp"] < 0
    import os

    assert sorted(
        t for t in os.listdir(store)
        if os.path.isdir(os.path.join(store, t, "model_id=kn-v1"))
    ) == ["bigrams", "contexts", "contexts3", "trigrams", "vocab"]

    docs = _docs(spark)
    got = {
        r.doc_id: r.asDict()
        for r in lm_store.score_perplexity_store(
            spark, docs, store, "kn-v1"
        ).collect()
    }
    tables, sc = kn_tables(ref, order=3, discount=0.75)
    want = {
        r.doc_id: r.asDict()
        for r in doc_perplexity_kn_n(docs, tables, sc["unk_logp"]).collect()
    }
    assert got == want

    # wrong-shape readers loud both ways
    with pytest.raises(ValueError, match="read_lm_model"):
        lm_store.read_bigram_lm_model(spark, store, "kn-v1")
    with pytest.raises(ValueError, match="read_bigram_lm_model"):
        lm_store.read_lm_model(spark, store, "kn-v1")
    lm_store.build_lm_model(ref, store, "uni-x", order=1)
    with pytest.raises(ValueError, match="order"):
        lm_store.read_kn_lm_model_n(spark, store, "uni-x")

    # banding dispatches on the stored order with no special wiring
    ppl = sorted(v["perplexity"] for v in got.values())
    kept = lm_store.perplexity_band_store(
        spark, docs, store, "kn-v1", ppl[0] + 0.001, ppl[-1] - 0.001
    ).count()
    assert kept == len(ppl) - 2


def test_cli_lm_bigram_train_and_band(spark, tmp_path):
    """`lm train --order 2` persists an interpolated bigram model and
    `lm band --lam` gates through it — the CLI carries the order/lam
    knobs end to end."""
    from trialsync_etl_spark import cli

    ref_path = str(tmp_path / "ref.parquet")
    docs_path = str(tmp_path / "docs.parquet")
    _ref(spark).write.parquet(ref_path)
    _docs(spark).write.parquet(docs_path)
    store = str(tmp_path / "lm")
    run_log = str(tmp_path / "runs.jsonl")

    out = io.StringIO()
    assert cli.main(
        ["--run-log", run_log, "lm", "train", "--input", ref_path,
         "--store", store, "--model-id", "bi-v1", "--order", "2"],
        out=out,
    ) == 0
    assert json.loads(out.getvalue())["order"] == 2

    scores = {
        r.doc_id: r.perplexity
        for r in lm_store.score_perplexity_store(
            spark, _docs(spark), store, "bi-v1", lam=0.7
        ).collect()
    }
    ranked = sorted(scores.items(), key=lambda kv: kv[1])
    lo = (ranked[0][1] + ranked[1][1]) / 2
    hi = (ranked[1][1] + ranked[2][1]) / 2
    band_path = str(tmp_path / "band.parquet")
    out = io.StringIO()
    assert cli.main(
        ["--run-log", run_log, "lm", "band", "--input", docs_path,
         "--store", store, "--model-id", "bi-v1",
         "--output", band_path, "--band", f"{lo}:{hi}", "--lam", "0.7"],
        out=out,
    ) == 0
    kept = [r.doc_id for r in spark.read.parquet(band_path).collect()]
    assert kept == [ranked[1][0]]

def test_perplexity_band_stream_sink_gates_batches(spark, tmp_path):
    """PerplexityBandStreamSink: each micro-batch is scored against the
    STORED model and only in-band docs land (per-batch overwritten
    subdirs — replay-convergent); the report dir carries the per-doc
    audit scores; verdicts equal the batch perplexity_band_store call."""
    from pyspark.sql import types as T

    from trialsync_etl_spark.streaming import structured

    store = str(tmp_path / "lm")
    lm_store.build_lm_model(_ref(spark), store, "ref-v1")
    scores = {
        r.doc_id: r.perplexity
        for r in lm_store.score_perplexity_store(
            spark, _docs(spark), store, "ref-v1"
        ).collect()
    }
    lo = (scores[1] + scores[2]) / 2
    hi = (scores[2] + scores[3]) / 2

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "gated")
    report = str(tmp_path / "report")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    with open(os.path.join(landing, "b1.json"), "w") as f:
        for i, t in DOC_ROWS:
            f.write(json.dumps({"doc_id": i, "text": t}) + "\n")
    sink = structured.PerplexityBandStreamSink(
        out, store, "ref-v1", min_ppl=lo, max_ppl=hi, report_dir=report
    )
    sink.attach(structured.read_landing_stream(spark, landing, schema), ckpt)
    assert sorted(
        r.doc_id for r in spark.read.parquet(out).collect()
    ) == [2]
    audit = {r.doc_id: r.perplexity
             for r in spark.read.parquet(report).collect()}
    assert audit == scores  # the full per-doc score table landed

    # a later batch gates against the SAME static model
    with open(os.path.join(landing, "b2.json"), "w") as f:
        f.write(json.dumps(
            {"doc_id": 40, "text": DOC_ROWS[1][1]}) + "\n")  # in-band twin
        f.write(json.dumps(
            {"doc_id": 41, "text": DOC_ROWS[2][1]}) + "\n")  # gibberish
    sink.attach(structured.read_landing_stream(spark, landing, schema), ckpt)
    assert sorted(
        r.doc_id for r in spark.read.parquet(out).collect()
    ) == [2, 40]

@pytest.mark.slow
def test_release_maintain_rehearsal_runs_perplexity_drift(spark, tmp_path):
    """release --perplexity-store --warehouse --maintain: the rehearsal
    hands (lm_store, lm_model_id) to the maintenance chain, so
    check_perplexity_drift scores the corpus against the SAME model the
    funnel banded with and lands perplexity_report — without the store
    the member stays its documented no-op."""
    from tests.conftest import SF_DIR
    from trialsync_etl_spark import cli

    docs_path = str(tmp_path / "docs.parquet")
    _docs(spark).write.parquet(docs_path)
    store = str(tmp_path / "lm")
    lm_store.build_lm_model(_ref(spark), store, "ref-v1")
    scores = {
        r.doc_id: r.perplexity
        for r in lm_store.score_perplexity_store(
            spark, _docs(spark), store, "ref-v1"
        ).collect()
    }
    lo = min(scores.values()) - 1
    hi = max(scores.values()) + 1
    wh = str(tmp_path / "wh")
    rel = str(tmp_path / "rel")

    out = io.StringIO()
    rc = cli.main(
        ["--run-log", str(tmp_path / "runs.jsonl"),
         "release", docs_path, rel, "--n-shards", "1",
         "--perplexity-store", store, "--perplexity-model", "ref-v1",
         "--perplexity-band", f"{lo}:{hi}",
         "--warehouse", wh, "--sf-dir", SF_DIR, "--maintain"],
        out=out,
    )
    assert rc == 0, out.getvalue()
    payload = json.loads(out.getvalue().strip().splitlines()[-1])
    assert payload["warehouse"]["failed_transforms"] == 0
    # the drift member ran for real: the baseline report landed, stamped
    # with the release's model
    report = spark.read.parquet(os.path.join(wh, "perplexity_report"))
    assert report.count() > 0
    assert {r.model_id for r in report.collect()} == {"ref-v1"}


@pytest.mark.slow
def test_order5_store_roundtrip(spark, tmp_path):
    """The generalized-KN store arm: build_lm_model(order=5) persists
    vocab + grams2..5 + contexts2..5, read_kn_lm_model_n returns the
    kn_tables shape, and score_perplexity_store dispatches to the
    order-N scorer with BIT-IDENTICAL output to the one-shot path; the
    order rails on the typed readers stay loud."""
    import pytest as _pytest

    from trialsync_etl_spark.operators import lm_store as LS
    from trialsync_etl_spark.operators.lm import (
        doc_perplexity_kn_n,
        kn_tables,
    )

    ref = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and the cat ran far away"),
            (2, "a dog sat on a log and the dog ran off quickly"),
            (3, "the cat and the dog sat together on the old mat"),
        ],
        "doc_id long, text string",
    )
    store = str(tmp_path / "lmstore")
    params = LS.build_lm_model(ref, store, "kn5", order=5)
    assert params["order"] == 5 and params["vocab"] > 0

    batch = spark.createDataFrame(
        [
            (10, "the cat sat on the mat and the dog ran"),
            (11, "completely unseen gibberish tokens everywhere here"),
        ],
        "doc_id long, text string",
    )
    via_store = {
        r.doc_id: (r.n_tokens, r.avg_logp, r.perplexity)
        for r in LS.score_perplexity_store(
            spark, batch, store, "kn5"
        ).collect()
    }
    tables, sc = kn_tables(ref, order=5)
    one_shot = {
        r.doc_id: (r.n_tokens, r.avg_logp, r.perplexity)
        for r in doc_perplexity_kn_n(
            batch, tables, sc["unk_logp"]
        ).collect()
    }
    assert via_store == one_shot
    assert via_store[10][2] < via_store[11][2]  # in-domain < gibberish

    with _pytest.raises(ValueError, match="order"):
        LS.read_bigram_lm_model(spark, store, "kn5")
    # the order-N reader serves order-3 models too, scoring them
    # identically to the one-shot order-3 path
    LS.build_lm_model(ref, store, "kn3", order=3)
    tables3, unk3 = LS.read_kn_lm_model_n(spark, store, "kn3")
    assert len(tables3) == 3
    tables, sc = kn_tables(ref, order=3)
    assert unk3 == sc["unk_logp"]

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(doc_perplexity_kn_n(batch, tables3, unk3)) == rows(
        doc_perplexity_kn_n(batch, tables, sc["unk_logp"])
    )
