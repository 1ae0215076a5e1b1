"""Incremental semantic dedup against the persisted ANN index
(`operators.ann_store.incremental_semantic_dups`) and its streaming
caller (`streaming.structured.SemanticDupStreamSink`) — the embedding
analog of the MinHash dedup_store suite: history/batch verdicts, the
in-memory `semdedup` on the concatenated corpus as the value oracle,
and crash-replay convergence including the BOOTSTRAP batch (whose
index build must tag its rows so a retry can exclude them)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from trialsync_etl_spark.operators.ann_store import (
    compact_ann_index,
    incremental_semantic_dups,
    read_index_meta,
    resolve_index,
)
from trialsync_etl_spark.storage import atomic_write_json

EMB_SCHEMA = "vec_id long, embedding array<float>"

#: batch 1 — ids 1/3 are mutual near-dups (cos ≈ 0.9988), 2 orthogonal
B1 = [
    (1, [1.0, 0.0, 0.0, 0.0]),
    (2, [0.0, 1.0, 0.0, 0.0]),
    (3, [1.0, 0.05, 0.0, 0.0]),
]
#: batch 2 — 10/11 near batch-1's 1/3 AND each other, 12 unrelated
B2 = [
    (10, [1.0, 0.02, 0.0, 0.0]),
    (11, [1.0, 0.03, 0.0, 0.0]),
    (12, [0.0, 0.0, 1.0, 0.0]),
]


def _df(spark, rows):
    return spark.createDataFrame(rows, EMB_SCHEMA)


def _verdicts(df):
    return {(r.doc_dup, r.neighbor_id): r.vs for r in df.collect()}


def test_history_and_batch_verdicts_match_semdedup_oracle(spark, tmp_path):
    """Batch 1 bootstraps the index (within-batch pairs only); batch 2
    sees batch 1 as history without re-scoring it; the union of dropped
    ids equals the in-memory SemDeDup verdict on the concatenated corpus
    under the same (persisted) centroids — the batch-mode twin."""
    import os

    from trialsync_etl_spark.operators.similarity import semdedup

    idx = str(tmp_path / "ann")
    out1 = incremental_semantic_dups(
        spark, _df(spark, B1), idx, 0.95, batch_id="run-1",
        n_probe=1, n_lists=2,
    )
    v1 = _verdicts(out1)
    assert v1 == {(3, 1): "batch"}  # bootstrap: no history yet

    out2 = incremental_semantic_dups(
        spark, _df(spark, B2), idx, 0.95, batch_id="run-2", n_probe=1
    )
    v2 = _verdicts(out2)
    assert v2[(10, 1)] == "history"  # history wins: doc_dup is the NEW id
    assert v2[(11, 10)] == "batch"   # within batch the lower id wins
    assert not any(12 in pair for pair in v2)
    # every batch-2 verdict drops a batch-2 id — history is never dropped
    assert all(dup >= 10 for dup, _ in v2)

    # value oracle: semdedup over the concatenated corpus under the SAME
    # centroids (the index's persisted model) must drop the same id set
    cents = spark.read.parquet(os.path.join(resolve_index(idx), "centroids"))
    full = _df(spark, B1 + B2)
    kept = {r.vec_id for r in semdedup(full, cents, 0.95).collect()}
    oracle_dropped = {r[0] for r in B1 + B2} - kept
    incr_dropped = {dup for dup, _ in v1} | {dup for dup, _ in v2}
    assert incr_dropped == oracle_dropped == {3, 10, 11}


def test_bootstrap_crash_replay_converges(spark, tmp_path):
    """THE replay-convergence contract on the FIRST batch: the bootstrap
    index build tags its rows with the batch_id, so a crash between the
    build and the ack means the retry (which sees centroids and takes
    the non-bootstrap path) excludes the partial append from its history
    probe — identical verdicts, never symmetric 'history' self-pairs
    that would drop BOTH members of a within-batch near-dup pair."""
    import os

    idx = str(tmp_path / "ann")
    out1 = incremental_semantic_dups(
        spark, _df(spark, B1), idx, 0.95, batch_id="run-1",
        n_probe=1, n_lists=2,
    )
    assert _verdicts(out1) == {(3, 1): "batch"}

    retry = incremental_semantic_dups(
        spark, _df(spark, B1), idx, 0.95, batch_id="run-1", n_probe=1
    )
    assert _verdicts(retry) == {(3, 1): "batch"}
    assert retry.filter(F.col("vs") == "history").count() == 0

    # the bootstrap was the index's last completed append, so the retry
    # appended nothing
    assert read_index_meta(idx)["count"] == len(B1)

    # a bootstrap that crashed before recording itself (no
    # last_batch_id): the retry's verdicts are the same, its append
    # leaves duplicate rows; compaction heals them and restores the true
    # count
    meta = read_index_meta(idx)
    meta.pop("last_batch_id")
    atomic_write_json(os.path.join(resolve_index(idx), "_index.json"), meta)
    retry = incremental_semantic_dups(
        spark, _df(spark, B1), idx, 0.95, batch_id="run-1", n_probe=1
    )
    assert _verdicts(retry) == {(3, 1): "batch"}
    assert retry.filter(F.col("vs") == "history").count() == 0
    assert read_index_meta(idx)["count"] == 2 * len(B1)
    meta = compact_ann_index(spark, idx)
    assert meta["count"] == len(B1)
    assert read_index_meta(idx)["count"] == len(B1)


def test_non_bootstrap_replay_converges(spark, tmp_path):
    """A crashed-and-retried LATER batch derives the same verdicts: its
    own earlier append is excluded from the history probe."""
    idx = str(tmp_path / "ann")
    incremental_semantic_dups(
        spark, _df(spark, B1), idx, 0.95, batch_id="run-1",
        n_probe=1, n_lists=2,
    )
    first = _verdicts(incremental_semantic_dups(
        spark, _df(spark, B2), idx, 0.95, batch_id="run-2", n_probe=1
    ))
    replay = _verdicts(incremental_semantic_dups(
        spark, _df(spark, B2), idx, 0.95, batch_id="run-2", n_probe=1
    ))
    assert replay == first
    meta = compact_ann_index(spark, idx)
    assert meta["count"] == len(B1) + len(B2)


def test_empty_bootstrap_batch_returns_typed_empty(spark, tmp_path):
    out = incremental_semantic_dups(
        spark, _df(spark, []), str(tmp_path / "ann"), 0.95, batch_id="run-1"
    )
    assert out.count() == 0
    assert out.columns == ["doc_dup", "neighbor_id", "cosine_sim", "vs"]


def test_empty_non_bootstrap_batch_is_a_noop(spark, tmp_path):
    """An empty LATER batch (a landing file with zero rows) must derive
    zero verdicts and leave the index untouched — the observed batch
    stats (probed-cid set, primary-row count) come back null/empty on a
    zero-row job, and the history filter sees an empty cid list."""
    idx = str(tmp_path / "ann")
    incremental_semantic_dups(
        spark, _df(spark, B1), idx, 0.95, batch_id="run-1",
        n_probe=1, n_lists=2,
    )
    before = read_index_meta(idx)
    out = incremental_semantic_dups(
        spark, _df(spark, []), idx, 0.95, batch_id="run-empty", n_probe=2
    )
    assert out.count() == 0
    assert out.columns == ["doc_dup", "neighbor_id", "cosine_sim", "vs"]
    after = read_index_meta(idx)
    assert after["count"] == before["count"] == len(B1)
    assert after["model_version"] == before["model_version"]


def test_semantic_dup_stream_sink_end_to_end(spark, tmp_path):
    """SemanticDupStreamSink: batch 0 bootstraps the index and keeps only
    its first near-dup representative; batch 1's vectors are gated
    against batch 0 as history; replaying the last (non-bootstrap) batch
    converges; the index holds every ingested vector for the next
    batch."""
    import json
    import os

    from trialsync_etl_spark.streaming import structured

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "kept")
    report = str(tmp_path / "pairs")
    idx = str(tmp_path / "ann")
    ckpt = str(tmp_path / "ckpt")

    os.makedirs(landing)
    for i, (name, rows) in enumerate((("b1.json", B1), ("b2.json", B2))):
        path = os.path.join(landing, name)
        with open(path, "w") as f:
            for vid, emb in rows:
                f.write(json.dumps({"vec_id": vid, "embedding": emb}) + "\n")
        # distinct mtimes pin the file-source batch order (b1 → batch 0)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    sink = structured.SemanticDupStreamSink(
        out, idx, threshold=0.95, n_probe=1, n_lists=2, report_dir=report,
    )
    sink.attach(
        structured.read_landing_stream(
            spark, landing, schema, max_files_per_trigger=1
        ),
        ckpt,
    )

    kept = spark.read.parquet(out)
    assert sorted(r.vec_id for r in kept.collect()) == [1, 2, 12]
    pairs = spark.read.parquet(report)
    assert pairs.filter(F.col("vs") == "history").count() > 0

    # crash-replay of the LAST batch (the real Structured Streaming retry
    # shape): survivors and verdicts converge
    sink.process_batch(_df(spark, B2), 1)
    kept = spark.read.parquet(out)
    assert sorted(r.vec_id for r in kept.collect()) == [1, 2, 12]

    # the index saw every vector once (batch 0 via bootstrap, batch 1 via
    # append; the replay appended nothing)
    assert read_index_meta(idx)["count"] == len(B1) + len(B2)
    meta = compact_ann_index(spark, idx)
    assert meta["count"] == len(B1) + len(B2)


def test_ranked_probe_rank1_equals_separate_primary_assignment(spark):
    """The single-ranked-probe rework: `ivf_assign(..., n_probe=N,
    keep_rank=True)` filtered to __crank == 1 must be ROW-IDENTICAL to a
    separate n_probe=1 call (same window, same score/cid tiebreak) — the
    equivalence `incremental_semantic_dups` and `append_to_ann_index`
    now rely on to score each ingest batch against the centroids once
    instead of three times."""
    from trialsync_etl_spark.operators.similarity import (
        ivf_assign,
        kmeans_centroids,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(200)
    )
    cents = kmeans_centroids(emb, 8)
    primary = {
        (r["__vid"], r.cid)
        for r in ivf_assign(emb, cents, 1).select("__vid", "cid").collect()
    }
    ranked = ivf_assign(emb, cents, 3, keep_rank=True)
    derived = {
        (r["__vid"], r.cid)
        for r in ranked.filter(F.col("__crank") == 1)
        .select("__vid", "cid")
        .collect()
    }
    assert derived == primary
    # ranks are 1..n_probe per vector, dense
    per_vec = (
        ranked.groupBy("__vid")
        .agg(
            F.count("*").alias("n"),
            F.min("__crank").alias("lo"),
            F.max("__crank").alias("hi"),
        )
        .collect()
    )
    assert all(r["lo"] == 1 and r["hi"] == r["n"] and r["n"] <= 3 for r in per_vec)


def test_append_with_precomputed_assignment_matches_self_assign(
    spark, tmp_path
):
    """`append_to_ann_index(assigned=...)` (the reuse path the streaming
    sink drives) must land the same (vec_id, cid) rows and metadata as
    the self-assigning call."""
    from trialsync_etl_spark.operators.ann_store import (
        append_to_ann_index,
        build_ann_index,
    )
    from trialsync_etl_spark.operators.similarity import ivf_assign_auto

    base = _df(spark, B1)
    batch = _df(spark, B2)
    paths = {}
    for mode in ("self", "pre"):
        idx = str(tmp_path / f"idx_{mode}")
        build_ann_index(base, idx, n_lists=2)
        if mode == "self":
            meta = append_to_ann_index(batch, idx, batch_id="b2")
        else:
            cents = spark.read.parquet(f"{resolve_index(idx)}/centroids")
            pre = ivf_assign_auto(batch, cents, 1)
            meta = append_to_ann_index(
                batch, idx, batch_id="b2", assigned=pre
            )
        assert meta["count"] == 6
        from trialsync_etl_spark.operators.ann_store import read_index_rows

        paths[mode] = {
            (r.vec_id, r.cid, r.batch_id)
            for r in read_index_rows(spark, resolve_index(idx))
            .select("vec_id", "cid", "batch_id")
            .collect()
        }
    assert paths["self"] == paths["pre"]


def test_rebuild_if_oversized_retrains_and_preserves_rows(spark, tmp_path):
    """Sustained appends past the √N balance trigger the maintenance
    retrain: n_lists moves to ~√N, model_version bumps, every vec_id and
    its replay-exclusion batch_id tag survive, and the probed index
    still answers queries."""
    from trialsync_etl_spark.operators.ann_store import (
        append_to_ann_index,
        build_ann_index,
        query_ann_index,
        rebuild_ann_index_if_oversized,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(200)
    )
    idx = str(tmp_path / "idx")
    build_ann_index(emb.filter("vec_id < 40"), idx, n_lists=2)
    append_to_ann_index(emb.filter("vec_id >= 40"), idx, batch_id="grow")
    meta = read_index_meta(idx)
    assert meta["count"] == 200 and meta["n_lists"] == 2
    out = rebuild_ann_index_if_oversized(spark, idx)  # sqrt(200)=14 > 4*2
    assert out["rebuilt"] and out["n_lists"] == 14 and out["count"] == 200
    assert out["model_version"] == 2
    rows = (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{resolve_index(idx)}/lists")
        .select("vec_id", "batch_id")
        .collect()
    )
    assert len(rows) == 200
    assert {r.batch_id for r in rows if r.vec_id >= 40} == {"grow"}
    assert {r.batch_id for r in rows if r.vec_id < 40} == {None}
    q = emb.filter("vec_id < 5")
    assert query_ann_index(spark, idx, q, k=3).count() > 0
    # balanced now — second call is a no-op
    again = rebuild_ann_index_if_oversized(spark, idx)
    assert not again["rebuilt"] and again["model_version"] == 2


def test_append_reassigns_when_rebuild_wins_the_race(spark, tmp_path):
    """The model_version protocol: an append carrying an assignment made
    under centroids a rebuild has since replaced must re-assign under
    the live model — otherwise its rows land in cid dirs the new model
    never probes (unreachable history)."""
    from trialsync_etl_spark.operators.ann_store import (
        append_to_ann_index,
        build_ann_index,
        rebuild_ann_index_if_oversized,
    )
    from trialsync_etl_spark.operators.similarity import ivf_assign_auto

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    idx = str(tmp_path / "idx")
    build_ann_index(emb.filter("vec_id < 150"), idx, n_lists=2)
    batch = emb.filter("vec_id >= 150 and vec_id < 180")
    # assignment made under the v1 (2-centroid) model
    stale_cents = spark.read.parquet(f"{resolve_index(idx)}/centroids")
    stale = ivf_assign_auto(batch, stale_cents, 1).localCheckpoint(eager=True)
    # a rebuild lands before the append acquires the lock
    out = rebuild_ann_index_if_oversized(spark, idx, growth_factor=0.5)
    assert out["rebuilt"] and out["model_version"] == 2
    meta = append_to_ann_index(
        batch, idx, batch_id="late", assigned=stale, expected_model_version=1
    )
    assert meta["count"] == 180
    # every appended row sits where the LIVE model assigns it
    fresh_cents = spark.read.parquet(f"{resolve_index(idx)}/centroids")
    want = {
        (r["__vid"], r.cid)
        for r in ivf_assign_auto(batch, fresh_cents, 1)
        .select("__vid", "cid")
        .collect()
    }
    from trialsync_etl_spark.operators.ann_store import read_index_rows

    got = {
        (r.vec_id, r.cid)
        for r in read_index_rows(spark, resolve_index(idx))
        .filter("batch_id = 'late'")
        .select("vec_id", "cid")
        .collect()
    }
    assert got == want


def _full_probe(spark, idx, queries, k=5):
    """Model-independent probe: with n_probe covering every list, the
    candidate set is the whole corpus and both stages use per-vector
    (model-free) int8 codes + exact cosine with deterministic tiebreaks —
    so two indexes over the same vectors answer identically whatever
    their centroids are. The equality instrument for crash/contention
    tests."""
    from trialsync_etl_spark.operators.ann_store import query_ann_index

    return sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in query_ann_index(
            spark, idx, queries, k=k, n_probe=64
        ).collect()
    )


@pytest.mark.slow
def test_rebuild_crash_never_publishes_a_mixed_model_index(
    spark, tmp_path, monkeypatch
):
    """THE crash-atomicity contract (the round-7 verdict's top item): a
    rebuild that dies at ANY point before the single pointer swap — worst
    case: every table of the new generation fully staged — leaves the old
    generation live and complete. Probes return exactly the pre-rebuild
    answers (never new centroids over old lists), the metadata still
    shows the old model_version (so the nightly oversize condition
    re-fires), and the re-fired rebuild succeeds and retires the crash
    debris."""
    import os

    import pytest

    import trialsync_etl_spark.operators.ann_store as A

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(150)
        .localCheckpoint(eager=True)
    )
    idx = str(tmp_path / "idx")
    A.build_ann_index(emb.filter("vec_id < 100"), idx, n_lists=2)
    A.append_to_ann_index(emb.filter("vec_id >= 100"), idx, batch_id="grow")
    queries = emb.filter("vec_id < 5").localCheckpoint(eager=True)
    pre_answers = _full_probe(spark, idx, queries)
    pre_meta = read_index_meta(idx)
    pre_gen = resolve_index(idx)

    # two injection points: mid-staging (meta write) and the worst case —
    # everything staged, one instruction before the pointer swap
    for target in ("atomic_write_json", "_swap_generation_locked"):
        def boom(*a, **k):
            raise RuntimeError("injected crash")

        monkeypatch.setattr(A, target, boom)
        with pytest.raises(RuntimeError, match="injected crash"):
            A.rebuild_ann_index_if_oversized(spark, idx, growth_factor=0.5)
        monkeypatch.undo()
        assert resolve_index(idx) == pre_gen
        assert read_index_meta(idx) == pre_meta
        assert _full_probe(spark, idx, queries) == pre_answers

    # the re-fired nightly rebuild heals: publishes, bumps the version,
    # and the swap retires every crash-stranded staging dir (keeps at
    # most current + the replaced generation for in-flight readers)
    out = A.rebuild_ann_index_if_oversized(spark, idx, growth_factor=0.5)
    assert out["rebuilt"] and out["model_version"] == 2
    gens = [n for n in os.listdir(idx) if n.startswith("gen-")]
    assert len(gens) <= 2
    assert resolve_index(idx) != pre_gen
    # full-probe answers are model-independent — the retrain must not
    # change them (same vectors, new lists)
    assert _full_probe(spark, idx, queries) == pre_answers


@pytest.mark.slow
def test_ann_store_concurrent_appends_rebuild_and_compaction(spark, tmp_path):
    """The index lock contract under REAL contention (mirror of
    test_dedup_store_concurrent_appends_and_compaction): four appender
    threads race a forced retrain and a compaction on one index. No
    append may be dropped by a republish, no rebuild may snapshot a
    half-written batch into oblivion, the meta count must equal the
    physical count after the final compact, exactly one model_version
    wins, and every appended vector stays reachable — full-probe answers
    equal a from-scratch index over the same vectors."""
    from concurrent.futures import ThreadPoolExecutor

    import trialsync_etl_spark.operators.ann_store as A

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(300)
        .localCheckpoint(eager=True)
    )
    idx = str(tmp_path / "idx")
    A.build_ann_index(emb.filter("vec_id < 100"), idx, n_lists=4)

    def appender(i):
        lo, hi = 100 + i * 50, 150 + i * 50
        batch = emb.filter(f"vec_id >= {lo} and vec_id < {hi}")
        return A.append_to_ann_index(batch, idx, batch_id=f"c{i}")

    def rebuilder(_):
        return A.rebuild_ann_index_if_oversized(spark, idx, growth_factor=0.5)

    def compactor(_):
        return A.compact_ann_index(spark, idx)

    with ThreadPoolExecutor(max_workers=6) as pool:
        futures = [pool.submit(appender, i) for i in range(4)]
        futures += [pool.submit(rebuilder, 0), pool.submit(compactor, 0)]
        for f in futures:
            f.result()  # raises on any failure

    meta = A.compact_ann_index(spark, idx)
    lists = spark.read.option("mergeSchema", "true").parquet(
        f"{resolve_index(idx)}/lists"
    )
    rows = lists.select("vec_id", "batch_id").collect()
    # no lost rows: every built + appended vec_id is physically present
    assert {r.vec_id for r in rows} == set(range(300))
    # no duplicate (vec_id, batch_id) copies survive the compact, and the
    # meta counter equals the physical row count
    assert len({(r.vec_id, r.batch_id) for r in rows}) == len(rows)
    assert meta["count"] == len(rows)
    # exactly one model_version winner, bumped by the one retrain
    assert read_index_meta(idx)["model_version"] == 2

    # reachability: answers equal a from-scratch index over the SAME
    # vectors (full probe is model-independent — see _full_probe)
    queries = emb.filter("vec_id % 37 = 0").localCheckpoint(eager=True)
    fresh = str(tmp_path / "fresh")
    A.build_ann_index(emb, fresh, n_lists=int(meta["n_lists"]))
    assert _full_probe(spark, idx, queries) == _full_probe(
        spark, fresh, queries
    )


@pytest.mark.slow
def test_overlapping_rebuilds_never_publish_colliding_model_versions(
    spark, tmp_path
):
    """A rebuild that read the metadata BEFORE acquiring the index lock
    must re-read it under the lock: if another rebuild published while it
    waited, bumping the pre-lock version would re-issue the SAME
    model_version, letting an appender that assigned under the first
    model pass the under-lock version check with rows the second model
    never probes. Deterministic interleaving: the loser's pre-lock read
    happens while the main thread holds the lock and publishes version 2;
    the loser must then publish 3 (or skip), never 2 again."""
    import threading

    import trialsync_etl_spark.operators.ann_store as A

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(120)
        .localCheckpoint(eager=True)
    )
    idx = str(tmp_path / "idx")
    A.build_ann_index(emb, idx, n_lists=2)  # model_version 1, oversized

    versions_seen = []
    with A._index_lock(idx):
        loser = threading.Thread(
            target=lambda: versions_seen.append(
                A.rebuild_ann_index_if_oversized(spark, idx, 0.5)
            )
        )
        loser.start()  # pre-lock meta read sees version 1, then blocks
        loser.join(timeout=5)
        assert loser.is_alive()  # proves it is blocked on the lock
        # the winning rebuild publishes model_version 2 under the lock
        meta = A._publish_model_and_lists(
            spark.read.option("mergeSchema", "true").parquet(
                f"{resolve_index(idx)}/lists"
            ).select("vec_id", F.col("vec").alias("embedding")),
            idx, 4, "vec_id", "embedding",
            centroids=None, sample_fraction=None, batch_id=None,
            model_version=2, lists_already_locked=True,
        )
        assert meta["model_version"] == 2
    loser.join(timeout=120)
    assert not loser.is_alive() and versions_seen
    out = versions_seen[0]
    # the loser re-read under the lock: its publish (if any) is 3, not 2
    assert not out["rebuilt"] or out["model_version"] == 3
    assert read_index_meta(idx)["model_version"] in (2, 3)
    assert read_index_meta(idx)["model_version"] != 1


def test_probe_retry_survives_two_publishes(spark, tmp_path):
    """The lock-free reader lifetime bound, handled: the swap retains
    only {current, replaced}, so a probe plan bound to a generation that
    then survives TWO publishes (rebuild + nightly compact — exactly the
    nightly chain) scans deleted files. Part 1 pins that the stale plan
    fails LOUDLY with an error our classifier recognizes (never a silent
    wrong answer); part 2 pins that `query_ann_index_with_retry`
    re-resolves and returns the fresh index's answers when its first
    attempt loses that race (forced deterministically by pointing the
    first resolve at the retired generation)."""
    import os

    import pytest as _pytest

    from trialsync_etl_spark.operators import ann_store as A

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(120)
    )
    idx = str(tmp_path / "idx")
    A.build_ann_index(emb, idx, n_lists=2)  # √120 ≈ 10 > 4×2 → oversized
    q = emb.filter("vec_id < 3")

    # a probe plan resolved against the CURRENT generation, not yet run
    stale_root = resolve_index(idx)
    stale = A.query_ann_index(spark, idx, q, k=3, n_probe=2)

    # publish #1 (retrain keeps the old gen) + #2 (compact retires it)
    assert A.rebuild_ann_index_if_oversized(spark, idx)["rebuilt"]
    compact_ann_index(spark, idx)
    assert not os.path.exists(stale_root)

    with _pytest.raises(Exception) as ei:
        stale.collect()
    assert A._is_retired_generation_error(ei.value)

    # force the retrying probe's FIRST attempt onto the retired path:
    # the wrapper snapshots the pointer before probing (call 1) and the
    # probe resolves once itself (call 2) — both must see the retired
    # root so the failure is genuine AND the catch-time re-resolve
    # (call 3) observes a MOVED pointer, which is what authorizes retry
    real_resolve, calls = A.resolve_index, []

    def first_resolve_retired(path):
        calls.append(path)
        return stale_root if len(calls) <= 2 else real_resolve(path)

    expected = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in A.query_ann_index(spark, idx, q, k=3, n_probe=2).collect()
    )
    try:
        A.resolve_index = first_resolve_retired
        got = A.query_ann_index_with_retry(spark, idx, q, k=3, n_probe=2)
    finally:
        A.resolve_index = real_resolve
    assert len(calls) >= 2  # first attempt really hit the retired root
    assert sorted(
        (r.query_id, r.neighbor_id, r.rank) for r in got.collect()
    ) == expected

    # a non-retryable error must propagate, not loop
    def always_boom(path):
        raise RuntimeError("centroid frame corrupt")

    try:
        A.resolve_index = always_boom
        with _pytest.raises(RuntimeError, match="corrupt"):
            A.query_ann_index_with_retry(spark, idx, q, k=3)
    finally:
        A.resolve_index = real_resolve


def test_probe_retry_requires_a_moved_pointer(spark, tmp_path):
    """The retry classifier's substrings are broad ('does not exist'
    matches a mistyped queries path as much as a retired generation), so
    retry additionally requires the catch-time re-resolve to observe a
    DIFFERENT generation than the probe started from. A classified-
    looking failure inside a still-live generation must propagate on the
    FIRST attempt — no wasted full probe re-run."""
    import pytest as _pytest

    from trialsync_etl_spark.operators import ann_store as A

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(40)
    )
    idx = str(tmp_path / "idx")
    A.build_ann_index(emb, idx, n_lists=2)
    q = emb.filter("vec_id < 3")

    real_probe, attempts = A.query_ann_index, []

    def probe_missing_side_input(*a, **kw):
        attempts.append(1)
        raise FileNotFoundError(
            "Path does not exist: /nowhere/queries.parquet"
        )

    try:
        A.query_ann_index = probe_missing_side_input
        with _pytest.raises(FileNotFoundError, match="nowhere"):
            A.query_ann_index_with_retry(spark, idx, q, k=3, retries=3)
    finally:
        A.query_ann_index = real_probe
    # classified substring + live pointer ⇒ exactly one attempt
    assert len(attempts) == 1


def test_append_lands_in_pending_delta_and_compaction_folds_it(spark, tmp_path):
    """The LSM append shape: an ingest batch lands as a handful of
    sequential files in the generation's `pending` delta (never one tiny
    file per touched cid — that partitioned write was measured at 1.5-3s
    of in-lock time per 8K batch vs ~0.3s), probes see delta rows
    immediately, and compact_ann_index folds the delta into the
    cid-clustered base and publishes with an EMPTY delta."""
    import os

    from trialsync_etl_spark.operators.ann_store import (
        PENDING_DIR,
        append_to_ann_index,
        build_ann_index,
        query_ann_index,
        read_index_rows,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(80)
        .localCheckpoint(eager=True)
    )
    base = emb.filter("vec_id >= 20")
    newb = emb.filter("vec_id < 20").localCheckpoint(eager=True)
    idx = str(tmp_path / "ann")
    build_ann_index(base, idx, n_lists=6)

    meta = append_to_ann_index(newb, idx, batch_id="b-0001")
    gen = resolve_index(idx)
    pend = os.path.join(gen, PENDING_DIR)
    assert os.path.isdir(pend), "append must land in the pending delta"
    pend_files = [f for f in os.listdir(pend) if f.endswith(".parquet")]
    assert 1 <= len(pend_files) <= 4, pend_files
    # the base kept its one-file-per-cid clustering (no append fanout)
    lists_files = [
        f for _, _, fs in os.walk(os.path.join(gen, "lists")) for f in fs
        if f.endswith(".parquet")
    ]
    assert len(lists_files) <= 6
    # union view serves every row; a probe finds an appended vector
    assert read_index_rows(spark, gen).count() == meta["count"] == 80
    hits = query_ann_index(spark, idx, newb.limit(3), k=3, n_probe=6)
    assert hits.count() == 9

    # compaction folds the delta into the clustered base: new generation,
    # empty delta, same row count, identical probe answers
    pre = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in query_ann_index(spark, idx, newb.limit(5), k=3, n_probe=6).collect()
    )
    healed = compact_ann_index(spark, idx)
    assert healed["count"] == 80
    gen2 = resolve_index(idx)
    assert gen2 != gen
    assert not os.path.isdir(os.path.join(gen2, PENDING_DIR))
    assert read_index_rows(spark, gen2).count() == 80
    post = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in query_ann_index(spark, idx, newb.limit(5), k=3, n_probe=6).collect()
    )
    assert pre == post


@pytest.mark.slow
def test_size_triggered_minor_compaction_bounds_the_pending_delta(
    spark, tmp_path
):
    """Sustained appends must never grow the pending delta without bound
    between nightly folds: once the delta exceeds
    max(compact_min_rows, compact_fraction x base), the append folds it
    under its already-held lock. Invariants under a long append sequence:
    the physical delta never ends an append at-or-over the trigger, at
    least one minor fold actually fires (new generation, pending_count
    reset), counts stay exact, and probe answers are IDENTICAL to a
    control index that took the same appends with the trigger disabled."""
    import os

    from trialsync_etl_spark.operators.ann_store import (
        PENDING_DIR,
        append_to_ann_index,
        build_ann_index,
        query_ann_index,
        read_index_meta,
        resolve_index,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(120)
        .localCheckpoint(eager=True)
    )
    base = emb.filter("vec_id >= 60")
    batches = [
        emb.filter(f"vec_id >= {i * 10} and vec_id < {i * 10 + 10}")
        .localCheckpoint(eager=True)
        for i in range(6)
    ]
    probes = emb.filter("vec_id < 30").localCheckpoint(eager=True)

    def pend_rows(idx: str) -> int:
        p = os.path.join(resolve_index(idx), PENDING_DIR)
        if not os.path.isdir(p) or not any(
            f.endswith(".parquet") for f in os.listdir(p)
        ):
            return 0
        return spark.read.parquet(p).count()

    idx = str(tmp_path / "bounded")
    ctl = str(tmp_path / "control")
    # identical models: the control reuses the bounded index's centroids
    build_ann_index(base, idx, n_lists=6)
    cent = spark.read.parquet(
        os.path.join(resolve_index(idx), "centroids")
    ).localCheckpoint(eager=True)
    build_ann_index(base, ctl, n_lists=6, centroids=cent)

    frac, floor = 0.2, 15
    gens, folds = {resolve_index(idx)}, 0
    for i, b in enumerate(batches):
        meta = append_to_ann_index(
            b, idx, batch_id=f"b-{i:04d}",
            compact_fraction=frac, compact_min_rows=floor,
        )
        append_to_ann_index(
            b, ctl, batch_id=f"b-{i:04d}", compact_min_rows=10**9
        )
        pend = pend_rows(idx)
        basen = int(meta["count"]) - int(meta.get("pending_count", 0))
        cap = max(floor, frac * basen)
        assert pend < cap, f"append {i}: delta {pend} >= trigger {cap}"
        assert pend == int(meta.get("pending_count", 0))
        g = resolve_index(idx)
        if g not in gens:
            gens.add(g)
            folds += 1
            assert meta.get("pending_count") == 0
    assert folds >= 1, "the size trigger never fired over 60 appended rows"
    assert pend_rows(ctl) == 60, "control must have kept its whole delta"
    assert read_index_meta(idx)["count"] == read_index_meta(ctl)["count"]

    # probe answers across triggered folds == the never-folded control
    def answers(path: str):
        return sorted(
            (r.query_id, r.neighbor_id, r.rank)
            for r in query_ann_index(
                spark, path, probes, k=3, n_probe=6
            ).collect()
        )

    assert answers(idx) == answers(ctl)
