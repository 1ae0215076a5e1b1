"""Trained language-ID model (operators/langid.py): hand-checked gram/
bucket construction, deterministic training, held-out accuracy with the
committed constants, JVM-only inference plan, the funnel language gate,
the nightly language-mix drift observable, and the CLI lifecycle."""

from __future__ import annotations

import io

import pytest
from pyspark.sql import functions as F

from trialsync_etl_spark.operators import langid


def test_char_ngrams_and_buckets_hand_checked(spark):
    """Trigram extraction is lowercased, overlapping, character-exact;
    buckets are the md5-conv idiom mod N_BUCKETS; shorter-than-k docs
    yield empty arrays (→ 'und')."""
    import hashlib

    df = spark.createDataFrame(
        [(1, "Hello"), (2, "ab"), (3, "")], "id long, text string"
    )
    rows = {
        r.id: (r.g, r.b)
        for r in df.select(
            "id",
            langid.char_ngrams(F.col("text")).alias("g"),
            langid.gram_buckets(F.col("text")).alias("b"),
        ).collect()
    }
    assert rows[1][0] == ["hel", "ell", "llo"]
    want = [
        int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % langid.N_BUCKETS
        for g in ("hel", "ell", "llo")
    ]
    assert rows[1][1] == want
    assert rows[2] == ([], [])
    assert rows[3] == ([], [])


LANGS_21 = (
    "ar", "cs", "de", "el", "en", "es", "fi", "fr", "hi", "it", "ja",
    "ko", "nl", "pl", "pt", "ru", "sv", "th", "tr", "uk", "zh",
)


@pytest.mark.slow
def test_training_is_deterministic_and_generalizes(spark):
    """Two fits of the same fixture produce identical exported constants
    over the 21-language / 7-script fixture, and the committed default
    model clears the held-out accuracy gate (split='test' — never seen
    at training time). The tolerated misses are same-script
    near-neighbor pairs (Romance, Germanic, and the r15 Slavic
    additions — uk/ru share Cyrillic, nl/sv/de the Germanic core); the
    non-Latin scripts are all-correct (the unigram features carry
    them)."""
    train = langid.load_fixture(spark, split="train")
    m1 = langid.train_langid_model(train)
    m2 = langid.train_langid_model(train)
    assert m1 == m2
    assert m1.langs == LANGS_21

    default = langid.default_langid_model()
    test = langid.load_fixture(spark, split="test")
    rows = test.select(
        "lang",
        langid.detect_language_model(F.col("text"), default).alias("pred"),
    ).collect()
    assert len(rows) == 84
    misses = [(r.lang, r.pred) for r in rows if r.lang != r.pred]
    assert len(misses) <= 4, misses
    near = {("es", "pt"), ("pt", "es"), ("it", "fr"), ("it", "es"),
            ("nl", "de"), ("zh", "ja"), ("nl", "sv"), ("sv", "de"),
            ("sv", "nl"), ("uk", "ru"), ("ru", "uk"), ("cs", "pl"),
            ("pl", "cs")}
    assert all((a, b) in near for a, b in misses), misses


@pytest.mark.slow
def test_committed_model_matches_retraining(spark):
    """The committed constants ARE a fit of the committed fixture —
    scripts/train_langid_model.py reproduces data/langid_model.json
    exactly (the reproducibility claim the script's docstring makes)."""
    refit = langid.train_langid_model(langid.load_fixture(spark, "train"))
    assert refit == langid.default_langid_model()


@pytest.mark.slow
def test_fast_twin_predictions_match_md5_model(spark):
    """The xxhash64 production twin (its own bucket space, its own fit)
    agrees with the md5 parity model's PREDICTIONS on the full fixture —
    the dedup_minhash_lsh_fast discipline: DuckDB can't replay xxhash64,
    so the fast path is pinned against the oracle-checked path's output.
    Its scoring plan carries no md5/conv hex round-trip."""
    md5_m = langid.default_langid_model()
    fast_m = langid.fast_langid_model()
    assert fast_m.hash_fn == "xxhash64" and md5_m.hash_fn == "md5"

    docs = langid.load_fixture(spark)
    both = docs.select(
        "lang",
        langid.detect_language_model(F.col("text"), md5_m).alias("p_md5"),
        langid.detect_language_model(F.col("text"), fast_m).alias("p_fast"),
    ).collect()
    assert len(both) == 516
    # the twins live in different collision AND bucket spaces (the fast
    # twin trains at 4096 buckets — xxhash64's collisions at 1024 cost
    # 3 holdout points at 21 languages), so they may disagree on a
    # handful of near-neighbor sentences; each must stay accurate and
    # they must agree almost everywhere
    agree = sum(r.p_md5 == r.p_fast for r in both) / len(both)
    acc_md5 = sum(r.p_md5 == r.lang for r in both) / len(both)
    acc_fast = sum(r.p_fast == r.lang for r in both) / len(both)
    assert agree >= 0.95, agree
    assert acc_md5 >= 0.95 and acc_fast >= 0.95, (acc_md5, acc_fast)

    plan = docs.select(
        langid.detect_language_model(F.col("text"), fast_m).alias("p")
    )._jdf.queryExecution().executedPlan().toString()
    assert "md5" not in plan and "conv(" not in plan
    assert "xxhash64" in plan

    # BOTH committed twins exceed the inline ceiling at the 21-language
    # breadth (md5 21×1024 = 21.5K cells, fast 21×4096 = 86K) — under
    # inline="auto" the production path is the broadcast weight-table
    # join for each (the inline plan at this breadth measured ~19 s of
    # query build and OOM'd default-heap executor tasks; r15)
    assert langid.should_inline(md5_m) is False
    assert langid.should_inline(fast_m) is False

    # a refit of the twin reproduces the committed constants
    refit = langid.train_langid_model(
        langid.load_fixture(spark, "train"), hash_fn="xxhash64",
        n_buckets=4 * langid.N_BUCKETS,
    )
    assert refit == fast_m

    with pytest.raises(ValueError, match="hash_fn"):
        langid.gram_buckets(F.col("text"), hash_fn="sha1")


@pytest.mark.slow
def test_empty_and_short_docs_are_und(spark):
    """'und' means ZERO grams. With mixed orders down to unigrams
    (min_k=1), only the empty string has no gram — a 2-char doc now
    gets a (low-evidence) prediction instead of 'und', the fastText
    behavior. A single-order trigram model still returns 'und' below
    3 chars."""
    df = spark.createDataFrame(
        [(1, ""), (2, "ab"), (3, "  ")], "id long, text string"
    )
    preds = {
        r.id: r.p
        for r in df.select(
            "id", langid.detect_language_model(F.col("text")).alias("p")
        ).collect()
    }
    assert preds[1] == "und"
    assert preds[2] != "und" and preds[3] != "und"

    tri_only = langid.LangIdModel(
        weights={"en": [0.0] * 8, "de": [0.0] * 8},
        intercepts={"en": 0.0, "de": 0.0},
        n_buckets=8, k=3, min_k=3,
    )
    preds3 = {
        r.id: r.p
        for r in df.select(
            "id",
            langid.detect_language_model(F.col("text"), tri_only).alias("p"),
        ).collect()
    }
    assert preds3 == {1: "und", 2: "und", 3: "und"}


@pytest.mark.slow
def test_table_mode_matches_inline_bit_for_bit(spark):
    """The broadcast weight-table path (langid_table_scores — the
    breadth-scale shape: O(1) plan in language count) produces exactly
    the inline literal path's output on the full fixture plus edge docs:
    same n_grams, every 6 dp score bit-identical, same argmax — the
    integer sums are order-independent, so the two shapes cannot
    drift."""
    m = langid.default_langid_model()
    docs = (
        langid.load_fixture(spark)
        .select(
            F.monotonically_increasing_id().alias("doc_id"),
            F.col("text"),
        )
        .unionByName(
            spark.createDataFrame(
                [(900001, ""), (900002, "ab"), (900003, "  ")],
                "doc_id long, text string",
            )
        )
        .localCheckpoint(eager=True)  # pin mono ids before the self-use
    )
    inline = docs.select(
        "doc_id", langid.langid_struct(F.col("text"), m).alias("__ls")
    ).select(
        "doc_id",
        "__ls.n_grams",
        *[f"__ls.s_{l}" for l in m.langs],
        "__ls.lang_pred",
    )
    table = langid.langid_table_scores(docs, "doc_id", "text", m)
    assert table.columns == inline.columns
    irows = {r.doc_id: tuple(r) for r in inline.collect()}
    trows = {r.doc_id: tuple(r) for r in table.collect()}
    assert irows == trows

    # plan pin: ONE broadcast join, zero python stages, and the single
    # re-aggregation exchange — the breadth-scale contract
    plan = table._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both
    assert final.count("BroadcastHashJoin") == 1, final
    assert "SortMergeJoin" not in final
    assert "InPandas" not in plan and "BatchEvalPython" not in plan

    # auto rides the table path at the committed 21-language breadth
    # (the inline plan OOM'd default-heap executor tasks; r15) and for
    # anything wider; a sub-ceiling model would still inline
    assert langid.should_inline(m) is False
    wide = langid.LangIdModel(
        weights={f"l{i:03d}": [0.0] * 1024 for i in range(65)},
        intercepts={f"l{i:03d}": 0.0 for i in range(65)},
        n_buckets=1024,
    )
    assert langid.should_inline(wide) is False

    # annotate_language table mode re-attaches by id and agrees with
    # the inline annotation
    ann_i = langid.annotate_language(docs, model=m, inline=True)
    ann_t = langid.annotate_language(docs, model=m, inline=False)
    got_i = {r.doc_id: r.lang_pred for r in ann_i.collect()}
    got_t = {r.doc_id: r.lang_pred for r in ann_t.collect()}
    assert got_i == got_t
    assert got_t[900001] == "und"


def test_half_away_div_exact_in_range_and_loud_past_2_53(spark):
    """The exact-division contract is guarded, not assumed: inside
    double-exact range the quotient matches Python's half-away integer
    rounding bit-for-bit; operands pushing |2a + d| past 2^53 raise
    instead of silently drifting off the cross-engine bit-identity."""
    cases = [(7, 2), (-7, 2), (5, 2), (-5, 2), (0, 3),
             (123456789012, 7), (-4_000_000_000_000, 9999)]
    df = spark.createDataFrame(cases, "a long, d long")
    got = df.select(
        "a", "d", langid._half_away_div(F.col("a"), F.col("d")).alias("q")
    ).collect()
    for r in got:
        want = (2 * abs(r.a) + r.d) // (2 * r.d)  # pure-int half-away
        want = -want if r.a < 0 else want
        assert r.q == want, (r.a, r.d, r.q, want)

    big = spark.createDataFrame([(1 << 53, 1)], "a long, d long")
    with pytest.raises(Exception, match="2\\^53"):
        big.select(
            langid._half_away_div(F.col("a"), F.col("d")).alias("q")
        ).collect()


@pytest.mark.slow
def test_inference_plan_is_jvm_only_no_shuffle(spark):
    """Inference stays JVM-side in BOTH routing modes. At the committed
    21-language breadth the registry query rides the broadcast
    weight-table join (r15: the inline literal plan measured ~19 s of
    query build and OOM'd default-heap executor tasks): ONE
    BroadcastHashJoin, the single re-aggregation exchange, zero python
    stages — MLlib exists at training time only."""
    from tests.conftest import SF_DIR
    from trialsync_etl_spark.plans import registry
    from trialsync_etl_spark.plans.explain import plan_text, summarize

    registry.load_all()
    df = registry.QUERIES["text_langid_model"](spark, SF_DIR)
    plan = plan_text(df)
    s = summarize(plan)
    assert s["python_stages"] == 0, plan
    m = langid.default_langid_model()
    if langid.should_inline(m):
        assert s["exchanges"] == 0, plan
        assert "[codegen id :" in plan
    else:
        # the adaptive (pre-execution) formatted plan carries no codegen
        # ids — the whole-stage spans only materialize in the final plan
        assert s["broadcasts"] == 1, plan
        assert s["exchanges"] <= 2, plan
        assert "SortMergeJoin" not in plan


@pytest.mark.slow
def test_language_gate_in_both_funnels(spark):
    """curate_corpus(allowed_langs=('en',)) drops the planted Spanish
    doc, and keeping both languages drops nothing."""
    from trialsync_etl_spark.operators.curate import curate_corpus

    fixture = {
        (r["lang"], r["split"]): r["text"]
        for r in __import__("json").load(open(langid.FIXTURE_PATH))["rows"]
    }
    # TRAIN-split sentences: this test pins the gate PLUMBING, not
    # held-out accuracy (train accuracy is 1.0 by the accuracy gate)
    en = fixture[("en", "train")]
    es = fixture[("es", "train")]
    docs = spark.createDataFrame(
        [(1, en), (2, es)], "doc_id long, text string"
    )
    res = curate_corpus(
        docs, allowed_langs=("en",), near_dup=False, persist=False,
        min_tokens=3, max_top_token_frac=1.0, min_distinct_ratio=0.0,
    )
    assert [r.doc_id for r in res.stages["language_filtered"].collect()] == [1]
    assert res.stats["allowed_langs"] == ["en"]
    # keep both languages: nothing drops
    res2 = curate_corpus(
        docs, allowed_langs=("en", "es"), near_dup=False, persist=False,
        min_tokens=3, max_top_token_frac=1.0, min_distinct_ratio=0.0,
    )
    assert sorted(
        r.doc_id for r in res2.stages["language_filtered"].collect()
    ) == [1, 2]


def test_script_aware_word_stages(spark):
    """The r14 script guard: word-based stages must not silently judge an
    unsegmented-script doc as 'one word'. A Chinese page long enough to
    be obvious prose is DROPPED by the published word-based Gopher rules
    (word_count == sentence count ≈ 1) and by the min_tokens rail, and
    KEPT by both in script_aware mode via the char-count twins; Latin
    docs behave identically in both modes."""
    import json as _json

    from trialsync_etl_spark.operators import textstats
    from trialsync_etl_spark.operators.curate import curate_corpus

    rows = _json.load(open(langid.FIXTURE_PATH))["rows"]
    zh = "".join(r["text"] for r in rows if r["lang"] == "zh")[:400]
    en = " ".join(r["text"] for r in rows if r["lang"] == "en")[:400]
    assert " " not in zh

    df = spark.createDataFrame(
        [(1, en), (2, zh), (3, "too short 短")], "doc_id long, text string"
    )
    frac = {
        r.doc_id: r.f
        for r in df.select(
            "doc_id",
            textstats.unsegmented_char_frac(F.col("text")).alias("f"),
        ).collect()
    }
    assert frac[1] == 0.0 and frac[2] == 1.0 and 0 < frac[3] < 0.5
    hb = {
        r.doc_id: r.b
        for r in df.select(
            "doc_id",
            textstats.has_word_boundaries(F.col("text")).alias("b"),
        ).collect()
    }
    assert hb == {1: True, 2: False, 3: True}

    def kept(mask):
        return sorted(r.doc_id for r in df.filter(mask).collect())

    gm = textstats.gopher_quality_mask(F.col("text"))
    gm_aware = textstats.gopher_quality_mask(F.col("text"), script_aware=True)
    assert kept(gm) == [1]            # zh judged as ~1 word → dropped
    assert kept(gm_aware) == [1, 2]   # char-band twin keeps it
    qm = textstats.quality_mask(F.col("text"), min_tokens=5)
    qm_aware = textstats.quality_mask(
        F.col("text"), min_tokens=5, script_aware=True
    )
    assert kept(qm) == [1]
    assert kept(qm_aware) == [1, 2]

    # funnel e2e: the CJK doc survives the whole word-rule gauntlet in
    # script-aware mode and the mode changes nothing for Latin docs
    res = curate_corpus(
        df, gopher_rules=True, script_aware=True,
        near_dup=False, persist=False,
    )
    assert sorted(r.doc_id for r in res.corpus.collect()) == [1, 2]
    res2 = curate_corpus(
        df, gopher_rules=True, near_dup=False, persist=False,
    )
    assert sorted(r.doc_id for r in res2.corpus.collect()) == [1]


@pytest.mark.slow
def test_check_lang_drift_fires_on_misrouted_source(spark, tmp_path):
    """The nightly language-mix observable: run 1 baselines each source's
    dominant predicted language, run 2 unchanged is quiet, run 3 after
    one source starts feeding Spanish publishes exactly that source (a
    dominant-language FLIP) in lang_drift_report, the lang_mix_drift
    alert fires, and GET /lang/drift serves it Spark-free."""
    import json as _json
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

    en_rows = [
        r["text"]
        for r in _json.load(open(langid.FIXTURE_PATH))["rows"]
        if r["lang"] == "en"
    ]
    es_rows = [
        r["text"]
        for r in _json.load(open(langid.FIXTURE_PATH))["rows"]
        if r["lang"] == "es"
    ]
    base = spark.createDataFrame(
        [
            (i, en_rows[i % len(en_rows)], "en",
             "web" if i % 2 == 0 else "books")
            for i in range(40)
        ],
        "doc_id long, text string, lang string, source string",
    )
    base.write.parquet(os.path.join(sf_dir, "documents.parquet"))
    ctx = WarehouseContext(sf_dir=sf_dir, warehouse_dir=wh)

    def evaluate_lang_drift_alerts(wh):
        return [a for a in evaluate_report_alerts(wh)
                if a["rule"] == "lang_mix_drift"]

    r1 = run_transform(spark, "check_lang_drift", ctx)
    assert r1.status == "success"
    report = {r.source: r for r in spark.read.parquet(
        os.path.join(wh, "lang_mix_report")).collect()}
    assert set(report) == {"web", "books"}
    assert report["web"].top_lang == "en" and report["web"].top_frac == 1.0
    assert spark.read.parquet(
        os.path.join(wh, "lang_drift_report")).count() == 0
    assert evaluate_lang_drift_alerts(wh) == []

    r2 = run_transform(spark, "check_lang_drift", ctx)
    assert r2.status == "success"
    assert evaluate_lang_drift_alerts(wh) == []

    # the 'books' feed gets misrouted to a Spanish crawl
    misrouted = base.withColumn(
        "text",
        F.when(
            F.col("source") == "books",
            F.element_at(
                F.array(*[F.lit(t) for t in es_rows]),
                (F.col("doc_id") % len(es_rows) + 1).cast("int"),
            ),
        ).otherwise(F.col("text")),
    )
    shutil.rmtree(os.path.join(sf_dir, "documents.parquet"))
    misrouted.write.parquet(os.path.join(sf_dir, "documents.parquet"))

    r3 = run_transform(spark, "check_lang_drift", ctx)
    assert r3.status == "success"
    drift = spark.read.parquet(
        os.path.join(wh, "lang_drift_report")).collect()
    assert [r.source for r in drift] == ["books"]
    assert drift[0].lang_prev == "en" and drift[0].lang_now == "es"
    alerts = evaluate_lang_drift_alerts(wh)
    assert len(alerts) == 1 and alerts[0]["rule"] == "lang_mix_drift"
    assert alerts[0]["sources"][0]["source"] == "books"

    from trialsync_etl_spark.api import ControlPlane
    from trialsync_etl_spark.runs import RunLog

    plane = ControlPlane(
        run_log=RunLog(str(tmp_path / "runs.jsonl")), warehouse_dir=wh
    )
    status, _, payload = plane.handle("GET", "/lang/drift")
    body = _json.loads(payload)
    assert status == 200 and body["all_quiet"] is False
    assert body["sources"][0]["source"] == "books"
    status, _, payload = plane.handle("GET", "/alerts?min_rate=none")
    body = _json.loads(payload)
    assert status == 200
    assert any(a["rule"] == "lang_mix_drift" for a in body["alerts"])


@pytest.mark.slow
def test_cli_langid_train_show_apply(spark, tmp_path):
    """The langid lifecycle CLI end-to-end: `train` fits on a labeled
    parquet and saves the model JSON, `show` prints its shape (committed
    default with no --model), `apply` writes annotations and the --langs
    survivors with the saved model; usage errors exit 2."""
    import json as _json
    import os

    from trialsync_etl_spark.cli import main as cli_main

    labeled = langid.load_fixture(spark, split="train").select("lang", "text")
    labeled_path = str(tmp_path / "labeled.parquet")
    labeled.write.parquet(labeled_path)
    model_path = str(tmp_path / "model.json")

    buf = io.StringIO()
    rc = cli_main(
        ["langid", "train", "--input", labeled_path,
         "--out-model", model_path],
        out=buf,
    )
    assert rc == 0 and os.path.exists(model_path)
    assert _json.loads(buf.getvalue())["langs"] == list(LANGS_21)

    buf = io.StringIO()
    assert cli_main(["langid", "show"], out=buf) == 0
    shown = _json.loads(buf.getvalue())
    assert shown["model"] == "<committed default>"
    assert shown["langs"] == list(LANGS_21)

    docs = langid.load_fixture(spark, split="test").select(
        F.monotonically_increasing_id().alias("doc_id"), "lang", "text"
    )
    docs_path = str(tmp_path / "docs.parquet")
    docs.write.parquet(docs_path)
    scores_path = str(tmp_path / "scores.parquet")
    kept_path = str(tmp_path / "kept.parquet")
    buf = io.StringIO()
    rc = cli_main(
        ["langid", "apply", "--input", docs_path, "--model", model_path,
         "--scores", scores_path, "--output", kept_path, "--langs", "en,fr"],
        out=buf,
    )
    assert rc == 0
    scored = spark.read.parquet(scores_path).collect()
    acc = sum(r.lang == r.lang_pred for r in scored) / len(scored)
    assert acc >= 0.9, acc  # held-out; near-neighbor misses tolerated
    kept = spark.read.parquet(kept_path).collect()
    want_kept = sum(1 for r in scored if r.lang_pred in ("en", "fr"))
    assert len(kept) == want_kept >= 8
    summary = _json.loads(buf.getvalue())
    assert summary["n_in"] == 84 and summary["n_kept"] == want_kept

    # usage errors exit 2 before Spark work
    buf = io.StringIO()
    assert cli_main(["langid", "train"], out=buf) == 2
    buf = io.StringIO()
    assert cli_main(
        ["langid", "apply", "--input", docs_path, "--output", kept_path],
        out=buf,
    ) == 2


def test_cli_langid_apply_unusable_doc_id_falls_back_inline(spark, tmp_path):
    """apply routes through the doc_id join only when the key is proven
    non-null and unique: a NULL id (the inner join would silently drop
    its row) or a duplicated id (one merged prediction fanned back to
    every copy) falls back to the exact inline expression — same row
    count in as out, and the scores layout always matches the input's
    column order + lang_pred regardless of route."""
    import json as _json

    from trialsync_etl_spark.cli import main as cli_main

    base = langid.load_fixture(spark, split="test").select(
        F.monotonically_increasing_id().alias("doc_id"), "lang", "text"
    )
    # poison the key: one NULL id and one duplicated id
    docs = base.withColumn(
        "doc_id",
        F.when(F.col("doc_id") == 0, F.lit(None).cast("long"))
        .when(F.col("doc_id") == 2, F.lit(1))
        .otherwise(F.col("doc_id")),
    )
    docs_path = str(tmp_path / "docs_bad_id.parquet")
    docs.write.parquet(docs_path)
    n_in = docs.count()

    # clean unique id first: the join route — layout re-selected to the
    # input's order there too; its predictions double as the reference
    # for the fallback run (table/inline parity is pinned bit-for-bit
    # by test_table_mode_matches_inline_bit_for_bit)
    clean_path = str(tmp_path / "docs_clean.parquet")
    base.write.parquet(clean_path)
    scores2 = str(tmp_path / "scores2.parquet")
    buf = io.StringIO()
    rc = cli_main(
        ["langid", "apply", "--input", clean_path, "--scores", scores2],
        out=buf,
    )
    assert rc == 0
    summary2 = _json.loads(buf.getvalue())
    assert "doc_id_fallback" not in summary2
    scored2 = spark.read.parquet(scores2)
    assert scored2.columns == ["doc_id", "lang", "text", "lang_pred"]
    assert scored2.count() == base.count()
    want = {r.text: r.lang_pred for r in scored2.collect()}

    scores_path = str(tmp_path / "scores.parquet")
    buf = io.StringIO()
    rc = cli_main(
        ["langid", "apply", "--input", docs_path, "--scores", scores_path],
        out=buf,
    )
    assert rc == 0
    summary = _json.loads(buf.getvalue())
    assert "doc_id_fallback" in summary

    scored = spark.read.parquet(scores_path)
    # no row silently dropped, layout = input order + lang_pred
    assert scored.count() == n_in
    assert scored.columns == ["doc_id", "lang", "text", "lang_pred"]
    # predictions equal the join route's per-row (routes are bit-equal)
    for r in scored.collect():
        assert r.lang_pred == want[r.text]
