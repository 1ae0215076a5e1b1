"""Decontamination, repetition signals, and PII redaction unit tests
(the oracle-parity queries are covered by test_queries_oracle)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from trialsync_etl_spark.operators import decontam
from trialsync_etl_spark.operators.textstats import (
    distinct_token_ratio,
    dup_shingle_fraction,
    redact_pii,
    top_token_fraction,
)


def test_contamination_flags_leaked_benchmark_doc(spark):
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # verbatim leak of the benchmark doc
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            # partial leak: shares a prefix run of shingles
            (2, "alpha beta gamma delta unrelated tail words here"),
            # clean doc, zero shingle overlap
            (3, "one two three four five six seven eight nine"),
        ],
        "doc_id long, text string",
    )
    prof = {
        r.doc_id: r
        for r in decontam.contamination_profile(
            train, bench, k=3, min_overlap_frac=0.5
        ).collect()
    }
    assert prof[1].overlap_frac == 1.0 and prof[1].contaminated
    assert 0 < prof[2].overlap_frac < 1.0
    assert prof[3].n_overlap == 0 and not prof[3].contaminated

    kept = {
        r.doc_id
        for r in decontam.decontaminate(
            train, bench, k=3, min_overlap_frac=0.5
        ).collect()
    }
    assert kept == {2, 3}


def test_repetition_signals_on_known_strings(spark):
    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),          # one token repeated
            (2, "a b c d"),                      # all distinct
            (3, "x y x y x y"),                  # repeated bigram "x y"
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            top_token_fraction(F.col("text")).alias("top"),
            distinct_token_ratio(F.col("text")).alias("dr"),
            dup_shingle_fraction(F.col("text"), 2).alias("dup_bg"),
        ).collect()
    }
    assert rows[1].top == 1.0 and rows[1].dr == 0.25
    assert rows[2].top == 0.25 and rows[2].dr == 1.0 and rows[2].dup_bg == 0.0
    # "x y x y x y": bigrams [xy, yx, xy, yx, xy] -> 5 total, 2 distinct
    assert abs(rows[3].dup_bg - 3 / 5) < 1e-9


def test_redact_pii_tags_every_category(spark):
    df = spark.createDataFrame(
        [
            (
                1,
                "mail a.user+tag@sub.example.org call 555-123-4567 "
                "ssn 123-45-6789 host 192.168.0.1 done",
            )
        ],
        "doc_id long, text string",
    )
    got = df.select(redact_pii(F.col("text")).alias("t")).collect()[0].t
    assert got == "mail <EMAIL> call <PHONE> ssn <SSN> host <IP> done"


def test_curate_corpus_full_funnel(spark):
    """One planted defect per stage: HTML junk is cleaned, a degenerate doc
    is quality-filtered, an exact clone and a near-dup chain collapse to
    one representative each, the benchmark leak is decontaminated, and the
    funnel counts are monotone non-increasing."""
    from trialsync_etl_spark.operators.curate import curate_corpus

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, f"<p>{base}</p>"),                       # survives (cleaned)
            (2, base),                                    # exact dup of 1 after cleaning
            (3, base + " extra words on the tail here"),  # near-dup of 1
            (4, "spam spam spam spam spam spam"),         # repetition-filtered
            (5, "too short"),                             # min-token-filtered
            (6, "bench mark doc one two three four five six seven"),  # leak
            (7, "completely different clean healthy document body text"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "bench mark doc one two three four five six seven")],
        "doc_id long, text string",
    )
    res = curate_corpus(docs, benchmark=bench, min_est_jaccard=0.5)
    kept = {r.doc_id for r in res.corpus.select("doc_id").collect()}
    assert kept == {1, 7}

    counts = res.funnel_counts()
    assert counts["cleaned"] == 7
    assert counts["quality_filtered"] == 5      # 4 and 5 dropped
    assert counts["exact_deduped"] == 4         # 2 dropped
    assert counts["near_deduped"] == 3          # 3 dropped
    assert counts["decontaminated"] == 2        # 6 dropped
    vals = list(counts.values())
    assert vals == sorted(vals, reverse=True)
    # cleaning stripped the tags before hashing: doc 1 kept, dup 2 dropped
    text1 = res.corpus.filter(F.col("doc_id") == 1).collect()[0].text
    assert text1 == base
    res.unpersist()


def test_curate_funnel_substring_stage(spark):
    """The optional substring-dedup stage: an off-grid verbatim block is
    trimmed from its SECOND host doc (first occurrence intact), a doc
    that is nothing but the duplicated block disappears entirely, other
    columns survive the stage, and the stage is absent when off."""
    from trialsync_etl_spark.operators.curate import curate_corpus

    block = " ".join(f"tok{i}" for i in range(14))
    docs = spark.createDataFrame(
        [
            (1, "lead words here " + block + " trailing remark", "web"),
            # the same block at a DIFFERENT offset (5-word lead)
            (2, "five completely different lead words " + block +
                " and a distinct ending clause", "web"),
            # pure duplicate: only the block → trimmed to empty → dropped
            (3, block, "web"),
            (4, "an unrelated document body with plenty of distinct "
                "words to pass the quality mask fine", "books"),
        ],
        "doc_id long, text string, source string",
    )
    res = curate_corpus(
        docs, substring_dedup=True, substring_k=4, substring_min_len=8,
        near_dup=False, min_distinct_ratio=0.0,
    )
    kept = {r.doc_id: r for r in res.corpus.collect()}
    assert set(kept) == {1, 2, 4}
    assert "tok0" in kept[1].text            # first occurrence intact
    assert "tok0" not in kept[2].text        # later copy trimmed
    assert kept[2].text.startswith("five completely different lead words")
    assert kept[2].source == "web"           # non-text columns preserved
    assert res.stages["substring_deduped"].count() == 3

    off = curate_corpus(docs, near_dup=False, min_distinct_ratio=0.0)
    assert "substring_deduped" not in off.stages
    res.unpersist()
    off.unpersist()


def test_pack_blocks_offsets_and_blocks(spark):
    """Within a shard, token_start offsets are the exact prefix sums in
    doc-id order and pack_id is the block containing the doc's first
    token; shard assignment is deterministic."""
    from trialsync_etl_spark.operators.packing import pack_blocks

    docs = spark.createDataFrame(
        [(i, "word " * (i + 1)) for i in range(40)], "doc_id long, text string"
    )
    out = pack_blocks(docs, block_size=10, n_shards=4).collect()
    by_shard: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r.shard, r.doc_id)):
        by_shard.setdefault(r.shard, []).append(r)
    assert len(by_shard) > 1                      # actually sharded
    for rows in by_shard.values():
        expect = 0
        for r in rows:
            assert r.token_start == expect
            assert r.pack_id == expect // 10
            expect += r.n_tokens
    # rerun-stable
    again = pack_blocks(docs, block_size=10, n_shards=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_token_budget_mix_caps_heavy_sources(spark):
    """A token-heavy source is down-sampled toward the budget; a light
    source is kept whole; membership is rerun-stable."""
    from trialsync_etl_spark.operators.sampling import (
        stratified_hash_sample,
        token_budget_fractions,
    )

    rows = [(i, "heavy", 100) for i in range(200)] + [
        (1000 + i, "light", 10) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok long")
    fracs = token_budget_fractions(df, "source", "n_tok", budget_per_stratum=2000)
    assert fracs["light"] == 1.0
    assert abs(fracs["heavy"] - 0.1) < 1e-9

    kept = stratified_hash_sample(df, "doc_id", "source", fracs).collect()
    by_src = {"heavy": 0, "light": 0}
    for r in kept:
        by_src[r.source] += 1
    assert by_src["light"] == 5
    assert 5 <= by_src["heavy"] <= 40      # ~10% of 200, hash noise allowed
    again = stratified_hash_sample(df, "doc_id", "source", fracs).collect()
    assert sorted(r.doc_id for r in kept) == sorted(r.doc_id for r in again)


def test_quantization_error_bounded_by_half_scale(spark):
    """int8 round-trip error is at most scale/2 (the rounding radius) and
    zero vectors survive with NULL scale instead of dividing by zero."""
    from trialsync_etl_spark.operators.similarity import quantization_profile

    emb = spark.createDataFrame(
        [
            (1, [1.0, -0.5, 0.25, 0.127]),
            (2, [0.0, 0.0, 0.0, 0.0]),
            (3, [127.0, -127.0, 63.5, 0.001]),
        ],
        "vec_id long, embedding array<double>",
    )
    rows = {r.vec_id: r for r in quantization_profile(emb).collect()}
    for vid in (1, 3):
        assert rows[vid].max_abs_err <= rows[vid].scale / 2 + 1e-9
    assert rows[2].scale is None and rows[2].max_abs_err is None


def test_token_budget_handles_empty_and_null_strata(spark):
    """Zero- or NULL-token strata keep fraction 1.0 instead of crashing."""
    from trialsync_etl_spark.operators.sampling import token_budget_fractions

    df = spark.createDataFrame(
        [(1, "zero", 0), (2, "zero", 0), (3, "null", None), (4, "big", 5000)],
        "doc_id long, source string, n_tok long",
    )
    fracs = token_budget_fractions(df, "source", "n_tok", budget_per_stratum=1000)
    assert fracs["zero"] == 1.0 and fracs["null"] == 1.0
    assert abs(fracs["big"] - 0.2) < 1e-9


def test_quantized_rerank_recall_vs_brute_force(spark):
    """Two-stage int8-coarse + exact-rerank retrieval recovers almost all
    exact top-5 neighbors at rerank_factor=4."""
    from tests.conftest import SF_DIR
    from trialsync_etl_spark.catalog import load_table
    from trialsync_etl_spark.operators.similarity import (
        brute_force_topk,
        quantized_rerank_topk,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {(r.query_id, r.neighbor_id)
             for r in brute_force_topk(queries, emb, k=5).collect()}
    two_stage = {(r.query_id, r.neighbor_id)
                 for r in quantized_rerank_topk(queries, emb, k=5).collect()}
    recall = len(exact & two_stage) / len(exact)
    assert recall >= 0.9, f"two-stage recall {recall:.2f} too low"


def test_assemble_packs_orders_docs_by_offset(spark):
    from trialsync_etl_spark.operators.packing import assemble_packs, pack_blocks

    docs = spark.createDataFrame(
        [(i, "word " * (i % 7 + 1)) for i in range(30)], "doc_id long, text string"
    )
    assigned = pack_blocks(docs, block_size=12, n_shards=2)
    packs = assemble_packs(assigned).collect()
    assert sum(len(r.doc_ids) for r in packs) == 30
    by_key = {}
    for r in sorted(packs, key=lambda r: (r.shard, r.pack_id)):
        by_key.setdefault(r.shard, []).append(r)
    offsets = {r.doc_id: r for r in assigned.collect()}
    for rows in by_key.values():
        # docs inside each pack are in stream order, packs are contiguous
        for r in rows:
            starts = [offsets[d].token_start for d in r.doc_ids]
            assert starts == sorted(starts)


def test_curate_redact_stage(spark):
    from trialsync_etl_spark.operators.curate import curate_corpus

    docs = spark.createDataFrame(
        [(1, "report issues to admin@example.com with full details please now")],
        "doc_id long, text string",
    )
    res = curate_corpus(docs, near_dup=False, redact=True)
    text = res.corpus.collect()[0].text
    assert "<EMAIL>" in text and "admin@" not in text
    assert "redacted" in res.stages
    res.unpersist()


def test_decontaminate_fast_path_matches_md5(spark):
    """The xxhash64 production path flags exactly the docs the md5 oracle
    path flags (hash family changes the shingle ids, not the overlap)."""
    from trialsync_etl_spark.operators import decontam

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    train = docs.filter(F.col("doc_id") < 300)
    flagged = {}
    for fn in ("md5", "xxhash64"):
        prof = decontam.contamination_profile(train, bench, hash_fn=fn)
        flagged[fn] = {
            (r.doc_id, r.n_shingles, r.n_overlap)
            for r in prof.filter("contaminated").collect()
        }
    assert flagged["md5"] == flagged["xxhash64"]
    assert flagged["md5"]  # the planted overlap (bench ⊂ train ids) fires


def test_decontam_store_two_batches_equal_one_shot(spark, tmp_path):
    """The store discipline applied to decontamination: the benchmark
    shingled ONCE into two store partitions, the corpus gated as two
    independent batches — the union of per-batch profiles must equal the
    one-shot contamination_profile over the concatenated benchmark
    EXACTLY (the dedup_incremental_store pattern), and a replayed batch
    derives identical rows (pure function of batch + store)."""
    from trialsync_etl_spark.operators.decontam_store import (
        build_benchmark_store,
        contamination_profile_store,
        decontaminate_incremental,
        list_benchmarks,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    bench = docs.filter("doc_id % 7 = 0")
    train = docs.filter("doc_id % 7 <> 0").filter("doc_id < 400")
    store = str(tmp_path / "bench_store")

    n_a = build_benchmark_store(bench.filter("doc_id < 100"), store, "suite-a")
    n_b = build_benchmark_store(bench.filter("doc_id >= 100"), store, "suite-b")
    assert n_a > 0 and n_b > 0
    assert list_benchmarks(store) == ["suite-a", "suite-b"]

    def rows(df):
        return sorted(
            (r.doc_id, r.n_shingles, r.n_overlap, r.overlap_frac,
             r.contaminated)
            for r in df.collect()
        )

    one_shot = rows(
        decontam.contamination_profile(train, bench, min_overlap_frac=0.1)
    )
    b1 = train.filter("doc_id < 200")
    b2 = train.filter("doc_id >= 200")
    incr = rows(
        contamination_profile_store(spark, b1, store, min_overlap_frac=0.1)
        .unionByName(
            contamination_profile_store(
                spark, b2, store, min_overlap_frac=0.1
            )
        )
    )
    assert incr == one_shot
    # replay: same batch, same verdicts
    assert rows(
        contamination_profile_store(spark, b1, store, min_overlap_frac=0.1)
    ) == rows(
        contamination_profile_store(spark, b1, store, min_overlap_frac=0.1)
    )
    # survivors match the one-shot decontaminate
    kept_one = sorted(
        r.doc_id
        for r in decontam.decontaminate(
            train, bench, min_overlap_frac=0.1
        ).collect()
    )
    kept_incr = sorted(
        r.doc_id
        for b in (b1, b2)
        for r in decontaminate_incremental(
            spark, b, store, min_overlap_frac=0.1
        ).collect()
    )
    assert kept_incr == kept_one

    # selecting one suite prunes to its partition and changes the answer
    only_a = contamination_profile_store(
        spark, b1, store, ["suite-a"], min_overlap_frac=0.1
    )
    assert rows(only_a) == rows(
        decontam.contamination_profile(
            b1, bench.filter("doc_id < 100"), min_overlap_frac=0.1
        )
    )


def test_decontam_store_pins_params_and_validates_ids(spark, tmp_path):
    """(k, hash_fn) pin under the store flock: a mismatched later build
    or probe raises loudly instead of silently reporting zero
    contamination from a disjoint shingle space; unknown benchmark ids
    and partition-unsafe ids are loud too; rebuilding an id overwrites
    its partition (versioned benchmarks)."""
    import pytest

    from trialsync_etl_spark.operators import decontam_store as DS

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "store")
    n1 = DS.build_benchmark_store(docs, store, "v1", k=3)
    assert DS.read_store_params(store) == {"k": 3, "hash_fn": "md5"}
    with pytest.raises(ValueError, match="pins k=3"):
        DS.build_benchmark_store(docs, store, "v2", k=5)
    with pytest.raises(ValueError, match="pins k=3"):
        DS.contamination_profile_store(spark, docs, store, k=5)
    with pytest.raises(ValueError, match="no benchmark"):
        DS.contamination_profile_store(spark, docs, store, ["nope"])
    with pytest.raises(ValueError, match="partition-safe"):
        DS.build_benchmark_store(docs, store, "a/b")
    with pytest.raises(FileNotFoundError, match="no pinned params"):
        DS.contamination_profile_store(
            spark, docs, str(tmp_path / "missing"),
        )
    # same-id rebuild overwrites (replay-convergent), shrink included
    n2 = DS.build_benchmark_store(docs.limit(1), store, "v1", k=3)
    assert n2 == n1
    smaller = spark.createDataFrame(
        [(2, "one two three four")], "doc_id long, text string"
    )
    n3 = DS.build_benchmark_store(smaller, store, "v1", k=3)
    assert n3 < n1
    assert DS.read_benchmark_shingles(spark, store, ["v1"]).count() == n3


def test_decontam_store_corrupt_meta_is_loud(spark, tmp_path):
    """A PRESENT-but-unreadable meta pin (truncated write, or valid JSON
    missing the pinned keys) must raise the rebuild-instructing error —
    not a bare JSONDecodeError/KeyError traceback, and never None (which
    downstream would treat as 'un-pinned, pin mine': a corrupt pin
    silently re-pinned with different params is the exact mixed-shingle-
    space hazard the pin exists to prevent)."""
    import pytest

    from trialsync_etl_spark.operators import decontam_store as DS

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "store")
    DS.build_benchmark_store(docs, store, "v1", k=3)
    meta = store + "__meta.json"

    with open(meta, "w") as f:
        f.write('{"k": 3, "hash_')  # truncated mid-write
    with pytest.raises(ValueError, match="unreadable.*rebuild"):
        DS.read_store_params(store)
    with pytest.raises(ValueError, match="unreadable"):
        DS.contamination_profile_store(spark, docs, store)
    # the pin path must not silently replace a corrupt meta either
    with pytest.raises(ValueError, match="unreadable"):
        DS.build_benchmark_store(docs, store, "v2", k=3)

    with open(meta, "w") as f:
        f.write('{"k": 3}')  # parses, but the hash_fn pin is gone
    with pytest.raises(ValueError, match="unreadable"):
        DS.read_store_params(store)

    # absent meta is still the documented None (new store bootstrap)
    import os

    os.remove(meta)
    assert DS.read_store_params(store) is None


def test_decontam_stream_sink_gates_batches(spark, tmp_path):
    """DecontamStreamSink end-to-end: two micro-batches gate against the
    persisted store, survivors land per batch, the report profile lands
    when asked, and a replayed batch overwrites its own subdir."""
    import json
    import os

    from pyspark.sql import types as T

    from trialsync_etl_spark.operators.decontam_store import (
        build_benchmark_store,
    )
    from trialsync_etl_spark.streaming import structured

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "store")
    build_benchmark_store(bench, store, "suite")

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    files = [
        ("b1.json", [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),  # leak
            (2, "one two three four five six seven eight"),
        ]),
        ("b2.json", [
            (3, "alpha beta gamma delta epsilon zeta eta theta"),  # leak
            (4, "nine ten eleven twelve thirteen fourteen fifteen"),
        ]),
    ]
    for i, (name, rows) in enumerate(files):
        path = os.path.join(landing, name)
        with open(path, "w") as f:
            for did, text in rows:
                f.write(json.dumps({"doc_id": did, "text": text}) + "\n")
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    out = str(tmp_path / "kept")
    report = str(tmp_path / "report")
    sink = structured.DecontamStreamSink(
        out, store, min_overlap_frac=0.5, report_dir=report
    )
    sink.attach(
        structured.read_landing_stream(
            spark, landing, schema, max_files_per_trigger=1
        ),
        str(tmp_path / "ckpt"),
    )
    kept = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert kept == [2, 4]
    prof = spark.read.parquet(report)
    assert sorted(
        r.doc_id for r in prof.filter("contaminated").collect()
    ) == [1, 3]


def test_curate_funnel_store_backed_decontam(spark, tmp_path):
    """curate_corpus(benchmark_store=...) gates through the persisted
    store and lands the same 'decontaminated' stage the one-shot
    benchmark path produces; passing both sides is loud."""
    import pytest

    from trialsync_etl_spark.operators.curate import curate_corpus
    from trialsync_etl_spark.operators.decontam_store import (
        build_benchmark_store,
    )

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "a genuinely unrelated document about spark shuffles"),
        ],
        "doc_id long, text string",
    )
    store = str(tmp_path / "store")
    build_benchmark_store(bench, store, "suite")
    lax = dict(
        min_tokens=3, max_top_token_frac=1.0, min_distinct_ratio=0.0,
        near_dup=False, persist=False, decontam_min_overlap=0.5,
    )
    via_store = curate_corpus(docs, benchmark_store=store, **lax)
    via_df = curate_corpus(docs, benchmark=bench, **lax)
    assert sorted(r.doc_id for r in via_store.corpus.collect()) == sorted(
        r.doc_id for r in via_df.corpus.collect()
    ) == [2]
    assert "decontaminated" in via_store.stages
    with pytest.raises(ValueError, match="not both"):
        curate_corpus(docs, benchmark=bench, benchmark_store=store, **lax)


def test_cli_decontam_build_benchmarks_profile_gate(spark, tmp_path):
    """The decontam command family end-to-end: build two benchmark
    versions into the store, list them (Spark-free), profile a corpus
    batch, gate it — survivors exclude the leaked doc; missing required
    flags exit 2 before any Spark work."""
    import io as _io
    import json as _json

    from trialsync_etl_spark import cli

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven eight nine ten"),
        ],
        "doc_id long, text string",
    )
    bench_path = str(tmp_path / "bench.parquet")
    corpus_path = str(tmp_path / "corpus.parquet")
    bench.write.parquet(bench_path)
    corpus.write.parquet(corpus_path)
    store = str(tmp_path / "store")
    run_log = str(tmp_path / "r.jsonl")

    out = _io.StringIO()
    rc = cli.main(
        ["--run-log", run_log, "decontam", "build", store,
         "--input", bench_path, "--benchmark-id", "suite-v1"],
        out=out,
    )
    assert rc == 0, out.getvalue()
    assert _json.loads(out.getvalue())["n_shingles"] > 0

    out = _io.StringIO()
    rc = cli.main(
        ["--run-log", run_log, "decontam", "benchmarks", store], out=out
    )
    assert rc == 0
    listed = _json.loads(out.getvalue())
    assert listed["benchmarks"] == ["suite-v1"]
    assert listed["params"] == {"k": 3, "hash_fn": "md5"}

    prof_out = str(tmp_path / "profile")
    out = _io.StringIO()
    rc = cli.main(
        ["--run-log", run_log, "decontam", "profile", store,
         "--input", corpus_path, "--output", prof_out,
         "--min-overlap", "0.5"],
        out=out,
    )
    assert rc == 0, out.getvalue()
    prof = {r.doc_id: r.contaminated
            for r in spark.read.parquet(prof_out).collect()}
    assert prof == {1: True, 2: False}

    gate_out = str(tmp_path / "kept")
    out = _io.StringIO()
    rc = cli.main(
        ["--run-log", run_log, "decontam", "gate", store,
         "--input", corpus_path, "--output", gate_out,
         "--min-overlap", "0.5"],
        out=out,
    )
    assert rc == 0, out.getvalue()
    assert [r.doc_id for r in spark.read.parquet(gate_out).collect()] == [2]

    # missing required flags exit 2 with the flag named
    out = _io.StringIO()
    rc = cli.main(
        ["--run-log", run_log, "decontam", "build", store], out=out
    )
    assert rc == 2 and "--input" in out.getvalue()


def test_api_decontam_benchmarks_endpoint(spark, tmp_path):
    """GET /decontam/benchmarks serves the store inventory Spark-free:
    503 with no store attached, 404 before any benchmark is built, the
    ids + pinned params after."""
    import json as _json

    from trialsync_etl_spark.api import ControlPlane
    from trialsync_etl_spark.operators.decontam_store import (
        build_benchmark_store,
    )
    from trialsync_etl_spark.runs import RunLog

    run_log = RunLog(str(tmp_path / "runs.jsonl"))
    store = str(tmp_path / "store")

    status, _, _ = ControlPlane(run_log=run_log).handle(
        "GET", "/decontam/benchmarks"
    )
    assert status == 503

    plane = ControlPlane(run_log=run_log, decontam_store=store)
    status, _, _ = plane.handle("GET", "/decontam/benchmarks")
    assert status == 404

    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    build_benchmark_store(bench, store, "suite-v1")
    build_benchmark_store(bench, store, "suite-v2")
    status, _, payload = plane.handle("GET", "/decontam/benchmarks")
    assert status == 200
    body = _json.loads(payload)
    assert body["benchmarks"] == ["suite-v1", "suite-v2"]
    assert body["params"] == {"k": 3, "hash_fn": "md5"}


def test_curate_stream_sink_store_and_model_stages(spark, tmp_path):
    """CurateStreamSink with the store-backed decontamination gate AND
    the trained quality filter: a spam doc falls to the model, a leaked
    doc to the store probe, clean docs land; passing both benchmark
    sides is loud."""
    import json
    import os

    import pytest

    from pyspark.sql import types as T

    from trialsync_etl_spark.operators.decontam_store import (
        build_benchmark_store,
    )
    from trialsync_etl_spark.operators.quality_model import (
        DEFAULT_QUALITY_MODEL,
    )
    from trialsync_etl_spark.streaming import structured

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "store")
    build_benchmark_store(bench, store, "suite")

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    rows = [
        (1, 1_700_000_100, "a genuinely varied paragraph on broadcast "
            "joins partition pruning and adaptive query execution"),
        (2, 1_700_000_101, "alpha beta gamma delta epsilon zeta eta theta"),
        (3, 1_700_000_102, "buy now buy now buy now buy now buy now buy "
            "now buy now buy now buy now buy now buy now buy now"),
    ]
    with open(os.path.join(landing, "b1.json"), "w") as f:
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
    sink = structured.CurateStreamSink(
        out, benchmark_store=store, decontam_min_overlap=0.5,
        quality_model=DEFAULT_QUALITY_MODEL, min_quality_score=0.5,
        min_tokens=3, max_top_token_frac=1.0, min_distinct_ratio=0.0,
    )
    stream = structured.read_landing_stream(spark, landing, schema)
    sink.attach(stream.withColumn(
        "ts", F.col("ts").cast("timestamp")
    ), str(tmp_path / "ckpt"))
    kept = [r.doc_id for r in spark.read.parquet(out).collect()]
    assert kept == [1]

    with pytest.raises(ValueError, match="not both"):
        structured.CurateStreamSink(
            out, benchmark=bench, benchmark_store=store
        )


def test_curate_stream_sink_benchmark_ids_selects_store_subset(
    spark, tmp_path
):
    """CurateStreamSink(benchmark_ids=...) gates against the SELECTED
    benchmarks only — the same subset knob batch curate_corpus exposes,
    so the twin funnels stay twins: a doc overlapping the deselected
    benchmark must survive, a doc overlapping the selected one must not;
    benchmark_ids without a store is loud."""
    import json
    import os

    import pytest

    from pyspark.sql import types as T

    from trialsync_etl_spark.operators.decontam_store import (
        build_benchmark_store,
    )
    from trialsync_etl_spark.streaming import structured

    text_a = "alpha beta gamma delta epsilon zeta eta theta"
    text_b = "sigma tau upsilon phi chi psi omega rho"
    store = str(tmp_path / "store")
    build_benchmark_store(
        spark.createDataFrame([(100, text_a)], "doc_id long, text string"),
        store, "suite_a",
    )
    build_benchmark_store(
        spark.createDataFrame([(200, text_b)], "doc_id long, text string"),
        store, "suite_b",
    )

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    with open(os.path.join(landing, "b1.json"), "w") as f:
        for did, ts, text in [
            (1, 1_700_000_100, text_a),   # hits the SELECTED suite_a
            (2, 1_700_000_101, text_b),   # hits only the deselected one
            (3, 1_700_000_102, "an unrelated paragraph about adaptive "
                "query execution broadcast joins and partition pruning"),
        ]:
            f.write(json.dumps(
                {"doc_id": did, "ts": ts, "text": text}
            ) + "\n")
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    out = str(tmp_path / "curated")
    sink = structured.CurateStreamSink(
        out, benchmark_store=store, benchmark_ids=["suite_a"],
        decontam_min_overlap=0.5, min_tokens=3,
        max_top_token_frac=1.0, min_distinct_ratio=0.0,
    )
    stream = structured.read_landing_stream(spark, landing, schema)
    sink.attach(stream.withColumn(
        "ts", F.col("ts").cast("timestamp")
    ), str(tmp_path / "ckpt"))
    kept = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert kept == [2, 3]

    with pytest.raises(ValueError, match="benchmark_store too"):
        structured.CurateStreamSink(out, benchmark_ids=["suite_a"])


@pytest.mark.slow
def test_semantic_decontam_catches_paraphrase_ngram_misses(spark, tmp_path):
    """The paraphrase gap, end to end: a corpus doc that shares NO
    word-3-gram with the benchmark (n-gram profile says clean) but whose
    embedding is nearly parallel to a benchmark item's must be caught by
    the semantic probe. Also pins one-shot-vs-store parity, replay
    convergence of batch gating, the no-embedding pass-through, the dim
    pin, and unknown-embedding-benchmark loudness."""
    import pytest

    from trialsync_etl_spark.operators import decontam_store as DS
    from trialsync_etl_spark.operators.decontam import (
        contamination_profile,
        semantic_contamination_profile,
    )

    bench_docs = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    bench_emb = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0])],
        "doc_id long, embedding array<float>",
    )
    corpus = spark.createDataFrame(
        [
            # paraphrase: same meaning, ZERO shared 3-grams
            (1, "a speedy tan-colored fox leaps across one sleepy canine "
                "this evening"),
            (2, "an entirely unrelated report about parquet footer "
                "statistics and row groups"),
        ],
        "doc_id long, text string",
    )
    corpus_emb = spark.createDataFrame(
        [
            (1, [0.99, 0.14, 0.0, 0.0]),   # cos vs bench ≈ 0.9901
            (2, [0.0, 1.0, 0.0, 0.0]),     # cos 0
        ],
        "doc_id long, embedding array<float>",
    )

    # 1) the n-gram gate MISSES the paraphrase
    ngram = {r.doc_id: r.contaminated for r in contamination_profile(
        corpus, bench_docs, k=3, min_overlap_frac=0.2).collect()}
    assert ngram == {1: False, 2: False}

    # 2) the one-shot semantic profile catches it, with attribution
    prof = {r.doc_id: r for r in semantic_contamination_profile(
        corpus_emb, bench_emb, threshold=0.95).collect()}
    assert prof[1].contaminated and prof[1].bench_id == 100
    assert prof[1].max_cosine == 0.9901
    assert not prof[2].contaminated

    # 3) store parity: build the benchmark embeddings once, probe equals
    # the one-shot row for row
    store = str(tmp_path / "store")
    n = DS.build_benchmark_embeddings(bench_emb, store, "suite-v1")
    assert n == 1
    assert DS.list_embedding_benchmarks(store) == ["suite-v1"]
    assert DS.read_emb_params(store) == {"dim": 4}
    store_prof = sorted(map(tuple, DS.semantic_contamination_profile_store(
        spark, corpus_emb, store, threshold=0.95).collect()))
    assert store_prof == sorted(
        map(tuple, semantic_contamination_profile(
            corpus_emb, bench_emb, threshold=0.95).collect())
    )

    # 4) replay-convergent batch gating + no-embedding pass-through:
    # doc 3 has NO embedding row — no evidence, no drop
    batch = corpus.unionByName(spark.createDataFrame(
        [(3, "a doc with no embedding at all")], "doc_id long, text string"
    ))
    kept1 = sorted(r.doc_id for r in DS.decontaminate_semantic_incremental(
        spark, batch, corpus_emb, store, threshold=0.95,
        emb_id_col="doc_id").collect())
    kept2 = sorted(r.doc_id for r in DS.decontaminate_semantic_incremental(
        spark, batch, corpus_emb, store, threshold=0.95,
        emb_id_col="doc_id").collect())
    assert kept1 == kept2 == [2, 3]

    # 5) loud rails: dim-pin mismatch on build AND on probe; unknown ids
    with pytest.raises(ValueError, match="dim=4"):
        DS.build_benchmark_embeddings(
            spark.createDataFrame([(7, [1.0, 0.0])],
                                  "doc_id long, embedding array<float>"),
            store, "suite-v2",
        )
    with pytest.raises(ValueError, match="dim=4"):
        DS.semantic_contamination_profile_store(
            spark,
            spark.createDataFrame([(8, [1.0, 0.0, 0.0])],
                                  "doc_id long, embedding array<float>"),
            store,
        )
    with pytest.raises(ValueError, match="no embedding benchmark"):
        DS.read_benchmark_embeddings(spark, store, ["nope"])
    with pytest.raises(FileNotFoundError, match="build a benchmark first"):
        DS.semantic_contamination_profile_store(
            spark, corpus_emb, str(tmp_path / "missing"))


def test_curate_funnel_semantic_decontam_stage(spark, tmp_path):
    """curate_corpus(benchmark_emb_store=...): the semantic gate runs as
    its own funnel stage after n-gram decontamination — the paraphrased
    doc (clean by shingles) drops, others survive; asking for the stage
    without embeddings is loud."""
    import pytest

    from trialsync_etl_spark.operators.curate import curate_corpus
    from trialsync_etl_spark.operators.decontam_store import (
        build_benchmark_embeddings,
    )

    docs = spark.createDataFrame(
        [
            (1, "a speedy tan-colored fox leaps across one sleepy canine "
                "this evening in the quiet garden"),
            (2, "an entirely unrelated report about parquet footer "
                "statistics and row groups and pruning"),
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [(1, [0.99, 0.14, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    store = str(tmp_path / "store")
    build_benchmark_embeddings(
        spark.createDataFrame([(100, [1.0, 0.0, 0.0, 0.0])],
                              "doc_id long, embedding array<float>"),
        store, "suite",
    )
    res = curate_corpus(
        docs, embeddings=emb, benchmark_emb_store=store,
        semantic_decontam_threshold=0.95, near_dup=False,
        min_distinct_ratio=0.0,
        # SemDeDup needs >= 2 embedded survivors; with 2 docs it would
        # also run — keep it from dropping the pair via a high threshold
        semantic_threshold=1.1,
    )
    assert [r.doc_id for r in res.corpus.collect()] == [2]
    assert "semantic_decontaminated" in res.stages
    res.unpersist()

    with pytest.raises(ValueError, match="requires embeddings"):
        curate_corpus(docs, benchmark_emb_store=store, near_dup=False)


def test_cli_decontam_semantic_family(spark, tmp_path):
    """The semantic decontam CLI actions end-to-end: build-emb lands a
    benchmark's embeddings (pinned dim), benchmarks lists BOTH families,
    profile-semantic writes the cosine profile, gate-semantic drops the
    paraphrase using the batch's embedding table; missing --emb exits 2
    before Spark work."""
    import io as _io
    import json as _json

    from trialsync_etl_spark import cli

    bench_emb = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0])], "doc_id long, embedding array<float>"
    )
    corpus = spark.createDataFrame(
        [(1, "a paraphrased benchmark item sharing no shingles"),
         (2, "an unrelated document about parquet row groups")],
        "doc_id long, text string",
    )
    corpus_emb = spark.createDataFrame(
        [(1, [0.99, 0.14, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    bench_path = str(tmp_path / "bench_emb.parquet")
    corpus_path = str(tmp_path / "corpus.parquet")
    emb_path = str(tmp_path / "corpus_emb.parquet")
    bench_emb.write.parquet(bench_path)
    corpus.write.parquet(corpus_path)
    corpus_emb.write.parquet(emb_path)
    store = str(tmp_path / "store")
    run_log = str(tmp_path / "r.jsonl")

    out = _io.StringIO()
    rc = cli.main(
        ["--run-log", run_log, "decontam", "build-emb", store,
         "--input", bench_path, "--benchmark-id", "suite-v1"],
        out=out,
    )
    assert rc == 0, out.getvalue()
    assert _json.loads(out.getvalue())["n_vectors"] == 1

    out = _io.StringIO()
    assert cli.main(
        ["--run-log", run_log, "decontam", "benchmarks", store], out=out
    ) == 0
    body = _json.loads(out.getvalue())
    assert body["emb_benchmarks"] == ["suite-v1"]
    assert body["emb_params"] == {"dim": 4}
    assert body["benchmarks"] == [] and body["params"] is None

    prof_path = str(tmp_path / "prof")
    out = _io.StringIO()
    assert cli.main(
        ["--run-log", run_log, "decontam", "profile-semantic", store,
         "--input", emb_path, "--output", prof_path,
         "--id-col", "vec_id"],
        out=out,
    ) == 0
    prof = {r.doc_id: r for r in spark.read.parquet(prof_path).collect()}
    assert prof[1].contaminated and not prof[2].contaminated

    kept_path = str(tmp_path / "kept")
    out = _io.StringIO()
    assert cli.main(
        ["--run-log", run_log, "decontam", "gate-semantic", store,
         "--input", corpus_path, "--output", kept_path,
         "--emb", emb_path],
        out=out,
    ) == 0
    assert [r.doc_id for r in spark.read.parquet(kept_path).collect()] == [2]

    out = _io.StringIO()
    assert cli.main(
        ["--run-log", run_log, "decontam", "gate-semantic", store,
         "--input", corpus_path, "--output", kept_path],
        out=out,
    ) == 2
    assert "--emb" in out.getvalue()

    # the API inventory carries both families
    import json as _json2

    from trialsync_etl_spark.api import ControlPlane
    from trialsync_etl_spark.runs import RunLog

    plane = ControlPlane(
        run_log=RunLog(str(tmp_path / "runs2.jsonl")), decontam_store=store
    )
    status, _, payload = plane.handle("GET", "/decontam/benchmarks")
    body = _json2.loads(payload)
    assert status == 200 and body["emb_benchmarks"] == ["suite-v1"]


def test_curate_funnel_perplexity_band_stage(spark):
    """curate_corpus(perplexity_band=...): the statistical quality band
    drops the boilerplate floor and the gibberish ceiling against a
    reference corpus, keeps the middle, and records the band in stats."""
    from trialsync_etl_spark.operators.curate import curate_corpus
    from trialsync_etl_spark.operators.lm import (
        doc_perplexity,
        unigram_model,
    )

    ref = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog and the "
               "quick cat naps near the brown log")],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "the the the the the the the the"),          # boilerplate
            (2, "the quick brown fox naps near the lazy cat"),  # normal
            (3, "zyx wvu tsr qpo nml kji hgf edc"),           # gibberish
        ],
        "doc_id long, text string",
    )
    # derive the band from the actual scores so the fixture can't drift
    lm, unseen = unigram_model(ref)
    ppl = {r.doc_id: r.perplexity
           for r in doc_perplexity(docs, lm, unseen).collect()}
    assert ppl[1] < ppl[2] < ppl[3]

    res = curate_corpus(
        docs, perplexity_band=(ppl[1] + 0.01, ppl[3] - 0.01),
        perplexity_ref=ref, near_dup=False,
        min_tokens=3, max_top_token_frac=1.0, min_distinct_ratio=0.0,
    )
    assert [r.doc_id for r in res.corpus.collect()] == [2]
    assert "perplexity_banded" in res.stages
    assert res.stats["perplexity_band"] == [ppl[1] + 0.01, ppl[3] - 0.01]
    res.unpersist()


def test_curate_stream_sink_semantic_decontam_stage(spark, tmp_path):
    """CurateStreamSink(benchmark_emb_store=, embeddings_path=): the
    batch funnel's SEMANTIC decontamination stage at ingest cadence —
    the paraphrased doc (clean by shingles) drops against the stored
    benchmark embeddings via the stream-static embeddings side table, a
    doc WITHOUT an embedding passes through (no evidence, no drop), and
    the store knob without the side table is loud before any stream
    starts."""
    import json as _json
    import os as _os

    import pytest as _pytest
    from pyspark.sql import types as T

    from trialsync_etl_spark.operators.decontam_store import (
        build_benchmark_embeddings,
    )
    from trialsync_etl_spark.streaming import structured

    store = str(tmp_path / "store")
    build_benchmark_embeddings(
        spark.createDataFrame([(100, [1.0, 0.0, 0.0, 0.0])],
                              "doc_id long, embedding array<float>"),
        store, "suite",
    )
    emb_path = str(tmp_path / "emb.parquet")
    spark.createDataFrame(
        # doc 1 = paraphrase cone of the benchmark item; doc 2 = far;
        # doc 3 deliberately ABSENT (no evidence -> passes)
        [(1, [0.99, 0.14, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    ).write.parquet(emb_path)

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "curated")
    ckpt = str(tmp_path / "ckpt")
    _os.makedirs(landing)
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    rows = [
        {"doc_id": 1,
         "text": "a speedy tan-colored fox leaps across one sleepy "
                 "canine this evening in the quiet garden",
         "ts": "2024-01-01T00:00:01Z"},
        {"doc_id": 2,
         "text": "an entirely unrelated report about parquet footer "
                 "statistics and row groups and pruning",
         "ts": "2024-01-01T00:00:02Z"},
        {"doc_id": 3,
         "text": "a third document with no embedding row at all in the "
                 "side table passes through untouched",
         "ts": "2024-01-01T00:00:03Z"},
    ]
    with open(_os.path.join(landing, "b1.json"), "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")

    sink = structured.CurateStreamSink(
        out, benchmark_emb_store=store, embeddings_path=emb_path,
        semantic_decontam_threshold=0.95, min_distinct_ratio=0.0,
    )
    sink.attach(structured.read_landing_stream(spark, landing, schema), ckpt)
    assert sorted(
        r.doc_id for r in spark.read.parquet(out).collect()
    ) == [2, 3]

    with _pytest.raises(ValueError, match="embeddings_path"):
        structured.CurateStreamSink(out, benchmark_emb_store=store)
