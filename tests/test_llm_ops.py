"""LLM-pipeline operator units beyond the oracle rows: the xxhash64
production hash family for MinHash/LSH."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from trialsync_etl_spark.catalog import load_table
from trialsync_etl_spark.operators.dedup import (
    MINHASH_SEEDS,
    doc_shingles,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from trialsync_etl_spark.operators.textstats import shingle_hash_xx


def _pairs(df):
    return {(r.doc_a, r.doc_b) for r in df.select("doc_a", "doc_b").collect()}


def test_hash_families_agree_on_true_near_dups(spark):
    """The production xxhash64 swap must detect the same near-duplicates as
    the oracle-reproducible md5 family. Pinned against exact-Jaccard ground
    truth: every truly-similar pair (J >= 0.7) is found by BOTH families,
    and the confidently-estimated (est >= 0.75) pair sets are identical.
    Borderline est≈threshold pairs may differ between hash families — LSH
    estimates carry per-family noise — so raw pair sets are not compared."""
    docs = load_table(spark, SF_DIR, "documents")
    md5 = {(r.doc_a, r.doc_b): r.est_jaccard
           for r in minhash_lsh_pairs(docs, hash_fn="md5").collect()}
    xx = {(r.doc_a, r.doc_b): r.est_jaccard
          for r in minhash_lsh_pairs(docs, hash_fn="xxhash64").collect()}
    truth = _pairs(ngram_jaccard_pairs(doc_shingles(docs), min_jaccard=0.7))
    assert truth, "fixture corpus must contain true near-duplicates"
    assert truth <= set(md5), "md5 family must find every true pair"
    assert truth <= set(xx), "xxhash64 family must find every true pair"
    strong_md5 = {p for p, v in md5.items() if v >= 0.75}
    strong_xx = {p for p, v in xx.items() if v >= 0.75}
    assert strong_md5 == strong_xx


def test_minhash_seeds_cover_full_hash_width():
    """Seeds narrower than the 60-bit hash space leave the top bits
    unpermuted — every component's min then gravitates to the same
    small-high-bits element and signatures collapse into correlation
    (this regressed once: 56-bit seeds → 0/16 matching components on a
    J=0.95 pair). At least one seed must flip each of the top bits."""
    assert len(MINHASH_SEEDS) == 16
    top_bits_covered = 0
    for s in MINHASH_SEEDS:
        top_bits_covered |= s
    for bit in range(55, 60):
        assert (top_bits_covered >> bit) & 1, f"no seed flips bit {bit}"


def test_xxhash64_shingle_hash_space(spark):
    """xxhash64 shingle hashes live in the same non-negative 60-bit space
    as the md5 family (required for XOR-permutation + min semantics)."""
    df = spark.createDataFrame([("a b c",), ("x y z",)], "s string").select(
        shingle_hash_xx(F.col("s")).alias("h")
    )
    for r in df.collect():
        assert 0 <= r.h < (1 << 60)


def test_kmeans_centroids_feed_ivf(spark):
    """The production IVF feeder: MLlib k-means centroids in (cid, cvec)
    shape drive ivf_topk with high recall against exact brute force."""
    from trialsync_etl_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        kmeans_centroids,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    centroids = kmeans_centroids(emb, k=8, max_iters=10)
    assert centroids.columns == ["cid", "cvec"]
    assert centroids.count() == 8

    queries = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(queries, emb, k=5)
    # the synthetic fixture embeddings are near-uniform, the hardest
    # geometry for IVF (neighbors barely cluster) — a high probe fraction
    # is needed here; clustered real corpora reach this recall at far
    # lower n_probe/k
    approx = ivf_topk(queries, emb, centroids, k=5, n_probe=5)
    exact_pairs = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_pairs = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.85, f"IVF recall {recall:.2f} too low with trained centroids"


def test_semdedup_keep_first_greedy_within_cluster(spark):
    """SemDeDup pins: (1) pair work is cluster-scoped — a near-identical
    pair split across clusters is NOT deduped; (2) keep-first greedy — in
    an a~b~c chain with no a~c edge, BOTH b and c drop (c's qualifying
    neighbor b is itself dropped); (3) kept rows carry original columns
    plus the assigned cid."""
    from trialsync_etl_spark.operators.similarity import semdedup

    # two orthogonal centroids; vectors cluster by their dominant axis
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "cid int, cvec array<double>",
    )
    rows = [
        # cluster 0: chain 1~2 (cos≈0.999), 2~3 (cos≈0.999), 1~3 below τ
        (1, [1.0, 0.00, 0.0]),
        (2, [1.0, 0.045, 0.0]),
        (3, [1.0, 0.090, 0.0]),
        # cluster 1: clone pair — only the lower id survives
        (10, [0.0, 1.0, 0.0]),
        (11, [0.0, 1.0, 0.0]),
        # cross-cluster near-identical pair: both survive (never compared)
        (20, [0.72, 0.70, 0.0]),  # assigns to cluster 0
        (21, [0.70, 0.72, 0.0]),  # assigns to cluster 1
    ]
    corpus = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    kept = semdedup(corpus, cents, threshold=0.999)
    got = {r.vec_id: r.cid for r in kept.collect()}
    assert set(got) == {1, 10, 20, 21}
    assert got[1] == 0 and got[10] == 1 and got[20] == 0 and got[21] == 1
    assert set(kept.columns) == {"vec_id", "embedding", "cid"}


def test_semdedup_bare_corpus_route_matches_wide_corpus_route(spark):
    """The (id, vec)-only corpus skips the final id re-attach join (the
    kept rows are read straight off the persisted assignment — r16
    optimization): its result must equal the wide-corpus route on the
    same vectors, projected, with the same column order — and its plan
    must carry NO sort-merge join (the one broadcast anti probe is the
    only join after the cid pair stage)."""
    from trialsync_etl_spark.operators.similarity import semdedup

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "cid int, cvec array<double>",
    )
    rows = [
        (1, [1.0, 0.00, 0.0], "a"),
        (2, [1.0, 0.001, 0.0], "b"),   # clone of 1 — drops
        (3, [1.0, 0.090, 0.0], "c"),
        (10, [0.0, 1.0, 0.0], "d"),
        (11, [0.0, 1.0, 0.0], "e"),    # clone of 10 — drops
    ]
    wide = spark.createDataFrame(
        rows, "vec_id int, embedding array<double>, tag string"
    )
    bare = wide.select("vec_id", "embedding")
    kept_bare = semdedup(bare, cents, threshold=0.999)
    kept_wide = semdedup(wide, cents, threshold=0.999)
    assert kept_bare.columns == ["vec_id", "embedding", "cid"]
    assert sorted(map(tuple, kept_bare.collect())) == sorted(
        tuple(r) for r in kept_wide.select("vec_id", "embedding", "cid").collect()
    )
    # the wide route still re-attaches (tag preserved)
    assert {r.vec_id: r.tag for r in kept_wide.collect()} == {
        1: "a", 3: "c", 10: "d"
    }
    # join census on the OPTIMIZED logical plan (AQE rewrites physical
    # join strategies on toy volumes): the bare route plans exactly two
    # joins — the cid pair stage and the broadcast anti probe — while the
    # wide route adds the id re-attach as a third. The anti side carries
    # the broadcast hint either way.
    import re

    bare_plan = kept_bare._jdf.queryExecution().optimizedPlan().toString()
    wide_plan = kept_wide._jdf.queryExecution().optimizedPlan().toString()
    # \bJoin avoids matching inside SortMergeJoin/BroadcastHashJoin text
    # that cached-relation bodies print after execution
    bare_joins = re.findall(r"\bJoin (Inner|LeftAnti)\b", bare_plan)
    wide_joins = re.findall(r"\bJoin (Inner|LeftAnti)\b", wide_plan)
    assert sorted(bare_joins) == ["Inner", "LeftAnti"], bare_plan
    assert sorted(wide_joins) == ["Inner", "Inner", "LeftAnti"], wide_plan
    assert "strategy=broadcast" in bare_plan


def test_ivf_quantized_topk_full_probe_equals_flat_rerank(spark):
    """The IVF×int8 composition: probing ALL lists must reproduce the flat
    quantized_rerank_topk top-k exactly (every pair coarse-scored, same
    candidates, same exact re-rank); probing a subset still recovers most
    exact neighbors while scanning only n_probe/n_lists of the store."""
    from trialsync_etl_spark.operators.similarity import (
        brute_force_topk,
        ivf_quantized_topk,
        kmeans_centroids,
        quantized_rerank_topk,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    centroids = kmeans_centroids(emb, k=8, max_iters=10)

    flat = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in quantized_rerank_topk(queries, emb, k=5).collect()
    )
    full_probe = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivf_quantized_topk(
            queries, emb, centroids, k=5, n_probe=8
        ).collect()
    )
    assert full_probe == flat

    # partial probe: recall against exact brute force stays high even on
    # the near-uniform fixture geometry (the hardest case for IVF)
    exact = {(r.query_id, r.neighbor_id)
             for r in brute_force_topk(queries, emb, k=5).collect()}
    pruned = {(r.query_id, r.neighbor_id)
              for r in ivf_quantized_topk(
                  queries, emb, centroids, k=5, n_probe=5
              ).collect()}
    recall = len(exact & pruned) / len(exact)
    assert recall >= 0.7, f"IVF+int8 recall {recall:.2f} too low"


def test_kmeans_centroids_deterministic_same_seed(spark):
    from trialsync_etl_spark.operators.similarity import kmeans_centroids

    emb = load_table(spark, SF_DIR, "embeddings")
    c1 = {r.cid: tuple(r.cvec) for r in kmeans_centroids(emb, k=4).collect()}
    c2 = {r.cid: tuple(r.cvec) for r in kmeans_centroids(emb, k=4).collect()}
    assert c1 == c2


def test_kmeans_local_cutover_scales_with_rows_times_dim(spark, monkeypatch):
    """The driver-local path cutover is a BYTE budget (rows × dim × 8),
    not a bare row count: a high-dim training set must route to
    distributed MLlib long before 100K rows (at dim 1536 a row-count-only
    gate would haul >1 GB of doubles to the driver). Pinned by spying the
    local fitter: under the budget it runs and sees the full matrix; with
    the budget shrunk below rows×dim it must NOT run, and the MLlib path
    still yields k well-formed centroids."""
    from trialsync_etl_spark.operators import similarity as S

    rows = [(i, [float((i * 7 + j) % 13) for j in range(16)])
            for i in range(64)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    seen = {}
    real = S._lloyd_local

    def spy(mat, k, max_iters, seed, n_init=4):
        seen["shape"] = mat.shape
        return real(mat, k, max_iters, seed, n_init)

    monkeypatch.setattr(S, "_lloyd_local", spy)
    local = S.kmeans_centroids(emb, k=4, max_iters=5)
    assert seen["shape"] == (64, 16)
    assert local.count() == 4

    # budget admits only 2 rows at dim 16 → the 64-row set exceeds the
    # local path and must fall through to MLlib (spy never fires)
    seen.clear()
    monkeypatch.setattr(S, "KMEANS_LOCAL_BUDGET_BYTES", 2 * 16 * 8)
    dist = S.kmeans_centroids(emb, k=4, max_iters=5)
    assert dist.columns == ["cid", "cvec"]
    assert dist.count() == 4
    assert "shape" not in seen, "high rows×dim input must not fit locally"


def test_lloyd_means_reseeds_empty_clusters_distinctly():
    """Two clusters emptying in the SAME iteration must re-seed to two
    DISTINCT farthest points — a shared argmax hands both the same point,
    producing duplicate centroids (dead IVF lists: the cid tiebreak
    routes every member to the lower duplicate)."""
    import numpy as np

    from trialsync_etl_spark.operators.similarity import _lloyd_means

    # 4 points; clusters 2 and 3 have no members this iteration
    mat = np.array([[0.0, 0.0], [1.0, 0.0], [10.0, 0.0], [20.0, 0.0]])
    assign = np.array([0, 1, 0, 1])
    # dists to each of the 4 current centers; min-per-row makes points
    # 3 (d=9) then 2 (d=5) the two farthest-from-assigned-center points
    dists = np.array([
        [0.0, 9.0, 9.0, 9.0],
        [1.0, 9.0, 9.0, 9.0],
        [5.0, 9.0, 9.0, 9.0],
        [9.0, 9.5, 9.5, 9.5],
    ])
    new = _lloyd_means(mat, assign, dists, k=4)
    # members: cluster 0 = {0, 2} mean (5, 0); cluster 1 = {1, 3} mean (10.5, 0)
    assert np.allclose(new[0], [5.0, 0.0])
    assert np.allclose(new[1], [10.5, 0.0])
    # empties re-seed to the two distinct farthest points, in order
    assert np.allclose(new[2], mat[3])
    assert np.allclose(new[3], mat[2])
    assert not np.allclose(new[2], new[3]), "duplicate re-seeded centroids"


def test_dup_clusters_chain_triangle_and_canonical(spark):
    """Label propagation must close transitive chains (1-2, 2-3, 3-4 is ONE
    cluster even though 1 and 4 never pair directly) and leave disjoint
    components separate; canonical_docs keeps min-id reps + untouched
    docs."""
    from trialsync_etl_spark.operators.dedup import canonical_docs, dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),        # chain → cluster 1
         (10, 11), (11, 12), (10, 12)], # triangle → cluster 10
        "doc_a long, doc_b long",
    )
    got = {r.doc_id: r.cluster_id for r in dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in [1, 2, 3, 4, 10, 11, 12, 99]], "doc_id long, text string"
    )
    kept = {r.doc_id for r in canonical_docs(docs, dup_clusters(pairs)).collect()}
    assert kept == {1, 10, 99}  # one rep per cluster + the untouched doc


def test_dup_clusters_long_chain_converges(spark):
    """A 300-hop duplicate chain (serially mutated near-dup copies — the
    worst case banded LSH emits) must fully converge to one cluster within
    the default iteration cap. Plain min-label propagation needs ~300
    rounds for this graph; the pointer-doubling compress step makes it
    O(log diameter), so max_iter=20 suffices."""
    from trialsync_etl_spark.operators.dedup import dup_clusters

    n = 300
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    got = dup_clusters(pairs)
    assert got.filter(F.col("cluster_id") != 0).count() == 0
    assert got.count() == n + 1


def test_hash_split_disjoint_and_stable(spark):
    """Deterministic splits: disjoint, exhaustive, rerun-stable, and
    roughly proportioned."""
    from trialsync_etl_spark.operators.sampling import hash_split

    docs = load_table(spark, SF_DIR, "documents").select("doc_id")
    splits = hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    ids = {k: {r.doc_id for r in v.collect()} for k, v in splits.items()}
    n = docs.count()
    assert ids["train"] | ids["val"] | ids["test"] == {r.doc_id for r in docs.collect()}
    assert not (ids["train"] & ids["val"]) and not (ids["val"] & ids["test"])
    assert abs(len(ids["train"]) / n - 0.8) < 0.1
    # rerun-stable: same membership on a second evaluation
    again = {r.doc_id for r in hash_split(docs, "doc_id",
             {"train": 0.8, "val": 0.1, "test": 0.1})["val"].collect()}
    assert again == ids["val"]


def test_stratified_targets_cap(spark):
    from trialsync_etl_spark.operators.sampling import hash_sample, stratified_targets

    docs = load_table(spark, SF_DIR, "documents")
    fracs = stratified_targets(docs, "lang", target_per_stratum=50)
    assert all(0 < f <= 1.0 for f in fracs.values())
    # applying the fractions caps each stratum near the target
    for lang, frac in fracs.items():
        stratum = docs.filter(F.col("lang") == lang)
        kept = hash_sample(stratum, "doc_id", frac, salt=lang).count()
        assert kept <= max(60, int(stratum.count() * frac * 1.5))


def test_xxhash64_plan_has_no_md5(spark):
    """The fast path must not fall back to the md5 hex round-trip."""
    docs = load_table(spark, SF_DIR, "documents")
    plan = minhash_lsh_pairs(docs, hash_fn="xxhash64")._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan.lower()


def test_profile_table_survives_extreme_doubles(spark):
    """Doubles beyond DECIMAL(38,6) range (|x| >= 1e32) must fall back to
    raw float rendering instead of silently profiling a NULL range; normal
    magnitudes keep the engine-stable fixed-point rendering."""
    from trialsync_etl_spark.operators.profiling import profile_table

    df = spark.createDataFrame(
        [(1.5e33,), (-2.5e38,), (42.0,)], "x double"
    )
    row = {r.column: r for r in profile_table(df).collect()}["x"]
    assert row.min_val is not None and row.max_val is not None
    assert "E" in row.min_val.upper()  # raw float rendering for the extreme
    normal = {r.column: r for r in profile_table(
        spark.createDataFrame([(42.0,), (7.25,)], "x double")).collect()}["x"]
    assert normal.min_val == "7.250000" and normal.max_val == "42.000000"


def test_incremental_dedup_against_signature_store(spark, tmp_path):
    """Batch 1 seeds the store; batch 2 detects its near-dup of a batch-1
    doc via the store (vs='history') plus its own in-batch clone
    (vs='batch') without re-hashing history; re-probing is idempotent for
    pair derivation."""
    from trialsync_etl_spark.operators.dedup_store import incremental_dup_pairs

    store = str(tmp_path / "sig_store")
    # 30 DISTINCT words: repeated-cycle text collapses to ~12 distinct
    # shingles and J(base, base+tail) drops below the 4-row band match
    base = " ".join(f"w{i}token" for i in range(30))
    b1 = spark.createDataFrame(
        [(1, base), (2, "one two three four five six seven eight nine ten " * 3)],
        "doc_id long, text string",
    )
    out1 = incremental_dup_pairs(spark, b1, store, batch_id="run-1")
    assert out1.count() == 0          # nothing to collide with yet

    b2 = spark.createDataFrame(
        [(10, base + " tiny tail"), (11, base + " tiny tail different"),
         (12, "completely unrelated words nothing shared here at all " * 3)],
        "doc_id long, text string",
    )
    out2 = {(r.doc_a, r.doc_b): r.vs for r in incremental_dup_pairs(
        spark, b2, store, batch_id="run-2").collect()}
    assert (1, 10) in out2 and out2[(1, 10)] == "history"
    assert (10, 11) in out2 and out2[(10, 11)] == "batch"
    assert not any(12 in pair for pair in out2)

    # the store now holds both batches: each signature ONCE in sigs/,
    # the narrow band index in bands/, both partitioned by batch_id
    stored = spark.read.parquet(f"{store}/sigs")
    assert stored.select("doc_id").distinct().count() == 5
    assert stored.count() == 5  # no per-band signature duplication
    bands = spark.read.parquet(f"{store}/bands")
    assert "band_key" in bands.columns and "h0" not in bands.columns

    # RERUN of batch 2 (same batch_id, e.g. after a crash between append
    # and ack): its own already-appended signatures are excluded from the
    # history probe, so the pair set is identical — (10, 11) stays
    # vs='batch', never double-reported as history
    rerun = {(r.doc_a, r.doc_b): r.vs for r in incremental_dup_pairs(
        spark, b2, store, batch_id="run-2").collect()}
    assert rerun == out2
    # ...and, rerunning the last completed append, appends nothing
    assert spark.read.parquet(f"{store}/sigs").count() == 5

    # a third run of the batch: the pair set is still identical, and it
    # rewrites its own batch partitions instead of appending them again
    rerun = {(r.doc_a, r.doc_b): r.vs for r in incremental_dup_pairs(
        spark, b2, store, batch_id="run-2").collect()}
    assert rerun == out2
    assert spark.read.parquet(f"{store}/sigs").count() == 5

    # maintenance compaction drops the duplicate rows the rerun appended
    from trialsync_etl_spark.operators.dedup_store import compact_store

    n = compact_store(spark, store)
    assert n == 5
    stored = spark.read.parquet(f"{store}/sigs")
    assert stored.count() == n
    assert stored.groupBy("doc_id", "batch_id").count().filter(
        "count > 1").count() == 0
    bands = spark.read.parquet(f"{store}/bands")
    assert bands.groupBy("doc_id", "band", "batch_id").count().filter(
        "count > 1").count() == 0


@pytest.mark.slow
def test_ann_index_build_query_matches_in_memory(spark, tmp_path):
    """The persisted index must answer exactly like the in-memory
    composition under the same centroids: build -> query == ivf_quantized
    _topk(queries, corpus, stored centroids). The probe scan must prune to
    the probed cid partitions (partition filter in the plan)."""
    from trialsync_etl_spark.operators.ann_store import (
        build_ann_index,
        query_ann_index,
        read_index_meta,
        resolve_index,
    )
    from trialsync_etl_spark.operators.similarity import ivf_quantized_topk

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    idx = str(tmp_path / "ann")
    meta = build_ann_index(emb, idx, n_lists=8)
    assert meta["count"] == emb.count()
    assert read_index_meta(idx)["n_lists"] == 8

    got_df = query_ann_index(spark, idx, queries, k=5, n_probe=8)
    got = sorted((r.query_id, r.neighbor_id, r.rank) for r in got_df.collect())
    centroids = spark.read.parquet(f"{resolve_index(idx)}/centroids")
    want = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivf_quantized_topk(queries, emb, centroids, k=5, n_probe=8).collect()
    )
    assert got == want

    # subset probe: the lists scan carries a cid partition filter
    pruned = query_ann_index(spark, idx, queries, k=5, n_probe=2)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cid" in plan
    assert pruned.count() > 0

    # rebuild under the SAME centroids is idempotent
    build_ann_index(emb, idx, centroids=centroids)
    again = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in query_ann_index(spark, idx, queries, k=5, n_probe=8).collect()
    )
    assert again == got


def test_ann_index_append_and_compact(spark, tmp_path):
    """Incremental index ingest: a new batch is assigned under the stored
    centroids and becomes retrievable without a rebuild; a replay of the
    last completed append lands nothing; a replay of an append that
    crashed before recording itself is healed by compaction; query
    answers stay duplicate-free even before the heal."""
    import os

    from trialsync_etl_spark.operators.ann_store import (
        append_to_ann_index,
        build_ann_index,
        compact_ann_index,
        query_ann_index,
        read_index_meta,
        resolve_index,
    )
    from trialsync_etl_spark.storage import atomic_write_json

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter(F.col("vec_id") >= 20)
    newb = emb.filter(F.col("vec_id") < 20).localCheckpoint(eager=True)
    idx = str(tmp_path / "ann")
    meta0 = build_ann_index(base, idx, n_lists=8)

    meta1 = append_to_ann_index(newb, idx, batch_id="run-1")
    assert meta1["count"] == meta0["count"] + newb.count()

    # an appended vector is now a retrievable neighbor of itself's queries
    queries = emb.filter(F.col("vec_id") < 5)
    got = query_ann_index(spark, idx, queries, k=5, n_probe=8)
    pre = sorted((r.query_id, r.neighbor_id, r.rank) for r in got.collect())
    assert len(pre) == queries.count() * 5
    # no duplicate (query, neighbor) pairs in the answers
    assert len({(q, n) for q, n, _ in pre}) == len(pre)

    # replayed append (same batch id, e.g. retry after a crash): the
    # append completed last, so the retry lands nothing
    assert append_to_ann_index(newb, idx, batch_id="run-1") == meta1

    # an append that crashed before recording itself (no last_batch_id):
    # its retry lands the batch again; answers stay duplicate-free;
    # compaction restores the true count
    meta = read_index_meta(idx)
    meta.pop("last_batch_id")
    atomic_write_json(os.path.join(resolve_index(idx), "_index.json"), meta)
    dup = append_to_ann_index(newb, idx, batch_id="run-1")
    assert dup["count"] == meta1["count"] + newb.count()
    got2 = query_ann_index(spark, idx, queries, k=5, n_probe=8)
    assert got2.select("query_id", "neighbor_id").distinct().count() == got2.count()
    healed = compact_ann_index(spark, idx)
    assert healed["count"] == meta1["count"]
    assert read_index_meta(idx)["count"] == meta1["count"]

    # post-heal answers equal the pre-replay answers
    post = sorted(
        (r.query_id, r.neighbor_id, r.rank)
        for r in query_ann_index(spark, idx, queries, k=5, n_probe=8).collect()
    )
    assert pre == post


def test_lsh_topk_hot_bucket_skew_is_aqe_handled(spark):
    """The module docstring claims skewed signature buckets are handled by
    AQE skew-join; this makes the claim load-bearing. A corpus where ~all
    vectors share one sign-signature bucket (same direction, varying
    magnitude) is the worst case — with skew thresholds scaled down to
    fixture size and broadcast disabled (at 100 TB neither side
    broadcasts), the adaptive plan must mark the bucket join skew-handled
    AND the results must stay correct: top-k per query by exact cosine
    within the bucket."""
    import numpy as np

    from trialsync_etl_spark.operators.similarity import lsh_topk

    dim, n = 8, 3000
    rng = np.random.default_rng(7)
    base = rng.normal(size=dim)
    # same direction (one bucket) with tiny jitter + varying magnitude;
    # a handful of opposite-direction rows keep a second, tiny bucket so
    # the hot partition is skewed RELATIVE to a nonempty median
    rows = []
    for i in range(n):
        v = base * (1.0 + (i % 17)) + rng.normal(scale=1e-3, size=dim)
        rows.append((i, [float(x) for x in v]))
    for i in range(n, n + 40):
        v = -base * (1.0 + (i % 5)) + rng.normal(scale=1e-3, size=dim)
        rows.append((i, [float(x) for x in v]))
    corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    queries = corpus.filter("vec_id in (0, 1, 2, 3000)")

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2KB",
        # keep AQE from collapsing everything into one partition first
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        out = lsh_topk(queries, corpus, dim=dim, k=3)
        got = out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    # 1. the skewed join really took the AQE skew-split path
    assert "skew=true" in plan, plan[:2000]
    # 2. results are correct: for query 0, top-3 by exact cosine among
    # same-bucket rows; all cosines ~1.0 within the hot bucket
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2, 3000}
    for q, rows_ in by_q.items():
        assert len(rows_) == 3
        assert all(r["cosine_sim"] >= 0.999 for r in rows_), rows_


def test_chunk_dedup_removes_repeated_spans_keeps_first(spark):
    from trialsync_etl_spark.operators.dedup import chunk_dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta unique tail here"),  # shares first span
            (3, "alpha beta gamma delta"),                   # full duplicate
            (4, ""),                                         # empty survives
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"] for r in chunk_dedup(docs, chunk_words=4).collect()}
    assert out[1] == "alpha beta gamma delta"      # first occurrence keeps all
    assert out[2] == "unique tail here"            # shared leading span removed
    assert out[3] == ""                            # nothing left but doc remains
    assert out[4] == ""
    assert set(out) == {1, 2, 3, 4}


def test_curate_funnel_semantic_dedup_stage(spark):
    """SemDeDup as a funnel stage: two docs with DIFFERENT texts (MinHash
    can't pair them) but near-identical embeddings — the higher id drops
    at semantic_deduped; a doc with no embedding passes through."""
    from trialsync_etl_spark.operators.curate import curate_corpus

    filler = ("completely different wording about clinical spark engines "
              "and parquet layouts with plenty of tokens to pass quality")
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog " + filler),
            (2, "an entirely distinct sentence about embedding stores "
                "and vector retrieval pipelines " + filler.upper()),
            (3, "a third unrelated document mentioning z-order and "
                "bloom filters " + filler),
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [1.0, 0.001, 0.0]),  # cosine ≈ 1.0 with doc 1
            # doc 3 has no embedding → untouched by the semantic stage
        ],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "cid int, cvec array<double>",
    )
    res = curate_corpus(
        docs, near_dup=False, embeddings=emb, centroids=cents,
        semantic_threshold=0.99,
    )
    assert "semantic_deduped" in res.stages
    kept = sorted(r.doc_id for r in res.corpus.collect())
    assert kept == [1, 3]
    res.unpersist()


@pytest.mark.slow
def test_two_level_assignment_recall_and_flat_equivalence(spark):
    """Two-level IVF assignment (the O(N·K) → O(N·√K) fix for flat
    coarse assignment): (1) below TWO_LEVEL_MIN_CENTROIDS, auto IS flat —
    bit-identical assignments, so every DuckDB-replayed parity oracle is
    untouched; (2) on clustered data (IVF's operating regime) the
    two-level route agrees with flat ≥95% at super_probe=2; (3) exact
    clones co-route to the SAME list on the real near-uniform fixture —
    the invariant semantic dedup actually needs, margin-free."""
    import numpy as np

    from trialsync_etl_spark.operators.similarity import (
        TWO_LEVEL_MIN_CENTROIDS,
        ivf_assign,
        ivf_assign_auto,
        ivf_assign_two_level,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    small_cents = emb.filter(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    assert small_cents.count() < TWO_LEVEL_MIN_CENTROIDS
    flat = ivf_assign(emb, small_cents, 1).select("__vid", "cid")
    auto = ivf_assign_auto(emb, small_cents, 1).select("__vid", "cid")
    assert {tuple(r) for r in flat.collect()} == {tuple(r) for r in auto.collect()}

    # clustered fixture: 160 centers, 8 members each, tight noise
    rng = np.random.RandomState(11)
    K, per, dim = 160, 8, 64
    centers = rng.randn(K, dim)
    rows = [
        (c * per + j, [float(x) for x in centers[c] + 0.15 * rng.randn(dim)])
        for c in range(K)
        for j in range(per)
    ]
    clustered = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = spark.createDataFrame(
        [(c, [float(x) for x in centers[c]]) for c in range(K)],
        "cid long, cvec array<float>",
    )
    assert K >= TWO_LEVEL_MIN_CENTROIDS
    cflat = ivf_assign(clustered, cents, 1).select(
        "__vid", F.col("cid").alias("flat_cid")
    )
    ctwo = ivf_assign_two_level(clustered, cents, 1, super_probe=2).select(
        "__vid", F.col("cid").alias("two_cid")
    )
    j = cflat.join(ctwo, "__vid")
    n = j.count()
    agree = j.filter(F.col("flat_cid") == F.col("two_cid")).count()
    assert n == K * per
    assert agree / n >= 0.95, f"two-level agreement {agree/n:.3f} < 0.95"

    # clone co-routing on the real (near-uniform — hardest) fixture
    clones = emb.withColumn("vec_id", F.col("vec_id") + 1_000_000)
    both = emb.unionByName(clones)
    dense_cents = emb.filter(F.col("vec_id") % 3 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    assert dense_cents.count() >= TWO_LEVEL_MIN_CENTROIDS
    a = ivf_assign_two_level(both, dense_cents, 1, super_probe=2)
    orig = a.filter(F.col("__vid") < 1_000_000).select(
        F.col("__vid").alias("o"), F.col("cid").alias("c1")
    )
    cl = a.filter(F.col("__vid") >= 1_000_000).select(
        (F.col("__vid") - 1_000_000).alias("o"), F.col("cid").alias("c2")
    )
    pairs = orig.join(cl, "o")
    assert pairs.count() == emb.count()
    assert pairs.filter(F.col("c1") != F.col("c2")).count() == 0


def test_two_level_assignment_plan_has_two_broadcast_stages(spark):
    """The scale claim in plan form: both probe stages are broadcast
    joins (√K supers, then children-of-probed-supers) — never a shuffle
    of the corpus against the centroid set."""
    from trialsync_etl_spark.operators.similarity import ivf_assign_two_level

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = emb.filter(F.col("vec_id") % 3 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    plan = ivf_assign_two_level(emb, cents, 1)._jdf.queryExecution().executedPlan().toString()
    n_broadcast = plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin")
    assert n_broadcast >= 2, plan


def _one_table_near_dup_store(spark, docs, path):
    """A near-dup store in the single-table shape (the MinHash signature
    on every band row, partitioned by band) — not the bands/ + sigs/
    layout dedup_store writes."""
    from trialsync_etl_spark.operators import dedup_store as D

    h = D._h_cols()
    D._signed(docs).select(
        "doc_id", F.explode(F.array(*D._band_structs())).alias("bk"), *h
    ).select(
        "doc_id", "bk.band", "bk.band_key", *h, F.lit("old").alias("batch_id")
    ).write.partitionBy("band").parquet(path)


def _band_partitioned_near_dup_store(spark, docs, path):
    """A near-dup store in the two-table shape with ``bands/`` partitioned
    by band and both tables written flat by append — the layout before
    the store's tables became batch-partitioned append logs."""
    from trialsync_etl_spark.operators import dedup_store as D

    sigs = D._signed(docs).withColumn("batch_id", F.lit("old"))
    D._band_keys(sigs).withColumn("batch_id", F.lit("old")).write.partitionBy(
        "band"
    ).parquet(f"{path}/bands")
    sigs.write.parquet(f"{path}/sigs")


def _root_table_ann_index(spark, vecs, path):
    """An ANN index with its tables at the index root and no `current`
    pointer — not the generation layout ann_store writes."""
    import os
    import shutil

    from trialsync_etl_spark.operators.ann_store import build_ann_index, resolve_index

    build_ann_index(vecs, path, n_lists=2)
    gen = resolve_index(path)
    for name in os.listdir(gen):
        os.rename(os.path.join(gen, name), os.path.join(path, name))
    os.unlink(os.path.join(path, "current"))
    shutil.rmtree(gen)


@pytest.mark.parametrize(
    "entry",
    ["incremental_dup_pairs", "compact_store", "incremental_semantic_dups",
     "band_partitioned_bands"],
)
def test_dedup_gate_refuses_a_foreign_store_layout(spark, tmp_path, entry):
    """A dedup gate's store dir in a layout its module does not write
    raises ValueError naming the path and the expected layout, and
    writes nothing into it — read as "no history" it would silently lose
    every history verdict and land new files beside the old ones. A
    missing or empty dir is still a fresh store."""
    import os
    import re

    from trialsync_etl_spark.operators import ann_store, dedup_store

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "one two three four five")],
        "doc_id long, text string",
    )
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [0.0, 0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    call = {
        "incremental_dup_pairs": lambda p: dedup_store.incremental_dup_pairs(
            spark, docs, p, batch_id="b1"
        ).collect(),
        "compact_store": lambda p: dedup_store.compact_store(spark, p),
        "band_partitioned_bands": lambda p: dedup_store.incremental_dup_pairs(
            spark, docs, p, batch_id="b1"
        ).collect(),
        "incremental_semantic_dups": lambda p: ann_store.incremental_semantic_dups(
            spark, vecs, p, batch_id="b1", n_lists=2
        ).collect(),
    }[entry]
    foreign = str(tmp_path / "foreign")
    if entry == "incremental_semantic_dups":
        _root_table_ann_index(spark, vecs, foreign)
        expected = "current"
    elif entry == "band_partitioned_bands":
        _band_partitioned_near_dup_store(spark, docs, foreign)
        expected = "bands"
    else:
        _one_table_near_dup_store(spark, docs, foreign)
        expected = "bands"
    before = sorted(os.listdir(foreign))
    with pytest.raises(ValueError, match=re.escape(foreign) + ".*" + expected):
        call(foreign)
    assert sorted(os.listdir(foreign)) == before

    empty = tmp_path / "empty"
    empty.mkdir()
    call(str(empty))
    call(str(tmp_path / "missing"))


def test_dedup_store_empty_batch_never_creates_unreadable_store(spark, tmp_path):
    """An empty first batch must not create a schema-less store dir that
    wedges later probes; an empty later batch is a no-op append."""
    from trialsync_etl_spark.operators.dedup_store import incremental_dup_pairs

    store = str(tmp_path / "store")
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert incremental_dup_pairs(
        spark, empty, store, batch_id="e-1").count() == 0
    import os
    assert not os.path.exists(store)  # nothing landed, nothing wedged

    base = " ".join(f"w{i}token" for i in range(30))
    b1 = spark.createDataFrame([(1, base)], "doc_id long, text string")
    assert incremental_dup_pairs(
        spark, b1, store, batch_id="b-1").count() == 0
    assert incremental_dup_pairs(
        spark, empty, store, batch_id="e-2").count() == 0
    b2 = spark.createDataFrame(
        [(10, base + " tiny tail")], "doc_id long, text string"
    )
    out = {(r.doc_a, r.doc_b): r.vs for r in incremental_dup_pairs(
        spark, b2, store, batch_id="b-2").collect()}
    assert out == {(1, 10): "history"}


def test_dedup_store_crashed_append_converges_on_replay(spark, tmp_path):
    """An append that crashed after landing batch X's bands/ partition but
    before its sigs/ one: the replay of X rewrites both partitions, so
    every (doc_id, band) and every doc_id is stored exactly once, with no
    compaction, and X's verdicts are those of an uncrashed run."""
    from trialsync_etl_spark.operators import dedup_store as D
    from trialsync_etl_spark.storage import append_batch

    store = str(tmp_path / "store")
    base = " ".join(f"w{i}token" for i in range(30))
    w = spark.createDataFrame([(1, base)], "doc_id long, text string")
    x = spark.createDataFrame(
        [(10, base + " tiny tail"), (11, "other words entirely " * 4)],
        "doc_id long, text string",
    )
    assert D.incremental_dup_pairs(spark, w, store, batch_id="w").count() == 0
    append_batch(D._band_keys(D._signed(x)), f"{store}/{D.BANDS_TABLE}", "x")

    out = {(r.doc_a, r.doc_b): r.vs for r in D.incremental_dup_pairs(
        spark, x, store, batch_id="x").collect()}
    assert out == {(1, 10): "history"}
    bands = spark.read.parquet(f"{store}/{D.BANDS_TABLE}")
    assert bands.groupBy("doc_id", "band").count().filter("count > 1").count() == 0
    sigs = spark.read.parquet(f"{store}/{D.SIGS_TABLE}")
    assert sigs.groupBy("doc_id").count().filter("count > 1").count() == 0
    assert sigs.count() == 3


@pytest.mark.slow
def test_dedup_store_concurrent_appends_and_compaction(spark, tmp_path):
    """The store flock contract under real contention: four appender
    threads (mutually dissimilar batches — verdicts are deterministic
    under any interleaving) race two compaction passes on one store.
    Afterwards every batch's signatures are present exactly once, and a
    probe batch carrying a near-dup of each batch's representative sees
    ALL of them as history — no append was dropped by a republish and no
    compaction saw a half-written batch."""
    from concurrent.futures import ThreadPoolExecutor

    from trialsync_etl_spark.operators.dedup_store import (
        compact_store,
        incremental_dup_pairs,
    )

    store = str(tmp_path / "store")
    bases = {
        i: " ".join(f"b{i}w{j}token" for j in range(30)) for i in range(4)
    }

    def batch_df(i):
        rows = [(i * 100, bases[i])] + [
            (i * 100 + j, f"filler {i} {j} " + " ".join(
                f"x{i}{j}{t}" for t in range(20)))
            for j in range(1, 6)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def appender(i):
        return incremental_dup_pairs(
            spark, batch_df(i), store, batch_id=f"c{i}"
        ).count()

    def compactor(_):
        return compact_store(spark, store)

    with ThreadPoolExecutor(max_workers=6) as pool:
        futures = [pool.submit(appender, i) for i in range(4)]
        futures += [pool.submit(compactor, i) for i in range(2)]
        results = [f.result() for f in futures]  # raises on any failure
    assert all(r == 0 for r in results[:4])  # batches are dissimilar

    n = compact_store(spark, store)
    assert n == 24  # 4 batches x 6 docs, each signature exactly once
    sigs = spark.read.parquet(f"{store}/sigs")
    assert sigs.groupBy("doc_id").count().filter("count > 1").count() == 0

    probe = spark.createDataFrame(
        [(9000 + i, bases[i] + " tiny tail") for i in range(4)],
        "doc_id long, text string",
    )
    pairs = {(r.doc_a, r.doc_b): r.vs for r in incremental_dup_pairs(
        spark, probe, store, batch_id="probe").collect()}
    assert {(i * 100, 9000 + i) for i in range(4)} <= set(pairs)
    assert all(v == "history" for v in pairs.values())


def test_lsh_hot_bucket_cap_preserves_clusters_with_linear_candidates(spark):
    """The 100 TB LSH failure mode: a boilerplate bucket of B docs emits
    B²/2 candidate pairs unbounded. With max_bucket, oversized buckets
    emit O(B) hub pairs instead; every emitted pair is still exactly
    scored, the bounded pair set is a subset of the unbounded one, and
    the downstream connected-components dedup reaches the SAME clusters
    on the boilerplate corpus. Small buckets are untouched: the bounded
    run still finds the ordinary near-dup pair."""
    from trialsync_etl_spark.operators.dedup import (
        dup_clusters,
        lsh_band_keys,
        lsh_candidate_pairs,
        minhash_lsh_pairs,
        minhash_signatures_narrow,
    )

    template = "terms of service apply to all users of this website " * 6
    rows = [(i, template) for i in range(40)]
    rows += [
        (100, "a perfectly unique document about spark partitioning strategies"),
        (101, "a perfectly unique document about spark partition strategy"),
        (200, "completely unrelated text with nothing shared at all here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    bands = lsh_band_keys(minhash_signatures_narrow(docs))
    unbounded = lsh_candidate_pairs(bands)
    bounded = lsh_candidate_pairs(bands, max_bucket=8)
    n_unb, n_bnd = unbounded.count(), bounded.count()
    # 40 identical docs: quadratic (780 pairs) vs linear (39 hub pairs)
    assert n_unb >= 780
    assert n_bnd < 2 * 40 + 10
    # bounded ⊆ unbounded (hub pairs are real bucket pairs)
    assert bounded.join(unbounded, ["doc_a", "doc_b"], "left_anti").count() == 0

    full = minhash_lsh_pairs(docs, min_est_jaccard=0.5)
    capped = minhash_lsh_pairs(docs, min_est_jaccard=0.5, max_bucket=8)
    # the ordinary (small-bucket) near-dup pair survives the cap
    assert capped.filter("doc_a = 100 and doc_b = 101").count() == 1
    assert capped.filter("doc_a = 200 or doc_b = 200").count() == 0
    # identical-cluster outcome for the keep-one-per-cluster consumer
    cf = {(r.doc_id, r.cluster_id) for r in dup_clusters(full).collect()}
    cc = {(r.doc_id, r.cluster_id) for r in dup_clusters(capped).collect()}
    assert cf == cc
    assert {(i, 0) for i in range(40)} <= cc  # one boilerplate cluster


@pytest.mark.slow
def test_lsh_cap_stats_make_the_rail_observable(spark):
    """curate_corpus defaults the hot-bucket rail ON (lsh_max_bucket=64),
    which changes near-dup results inside oversized buckets — the trade
    must be observable per run: stats_sink records how many buckets were
    capped and how many band-membership rows went through the hub rail;
    0 capped buckets certifies the run's output equals the exact
    semantics."""
    from trialsync_etl_spark.operators.curate import curate_corpus
    from trialsync_etl_spark.operators.dedup import minhash_lsh_pairs

    template = "terms of service apply to all users of this website " * 6
    rows = [(i, template + f" {i}") for i in range(30)]
    rows += [(100, "a unique document about spark partitioning strategies")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # direct operator: capped run reports the oversized buckets
    sink: dict = {}
    minhash_lsh_pairs(docs, max_bucket=8, stats_sink=sink).count()
    assert sink["lsh_capped_buckets"] >= 1
    assert sink["lsh_capped_rows"] > 8

    # a corpus with no oversized bucket reports 0 — certifying exactness
    small_sink: dict = {}
    minhash_lsh_pairs(
        docs.filter("doc_id >= 25"), max_bucket=64, stats_sink=small_sink
    ).count()
    assert small_sink["lsh_capped_buckets"] == 0
    assert small_sink["lsh_capped_rows"] == 0

    # the funnel surfaces the same numbers on CurationResult.stats
    # (quality gates opened so the repetitive template reaches the
    # near-dup stage — this test is about the rail, not the filter)
    lax = dict(
        min_tokens=3, max_top_token_frac=1.0, min_distinct_ratio=0.0,
        persist=False,
    )
    res = curate_corpus(docs, lsh_max_bucket=8, collect_lsh_stats=True, **lax)
    assert res.stats["lsh_capped_buckets"] >= 1
    # stats are opt-in (they cost an extra bands-relation agg): a default
    # run and an exact (uncapped) run both skip the pass entirely
    res_default = curate_corpus(docs, lsh_max_bucket=8, **lax)
    assert "lsh_capped_buckets" not in res_default.stats
    res_exact = curate_corpus(
        docs, lsh_max_bucket=None, collect_lsh_stats=True, **lax
    )
    assert "lsh_capped_buckets" not in res_exact.stats


def test_substring_dedup_catches_offset_shifted_spans_exactly(spark):
    """The suffix-array-recipe dedup family member: a verbatim block
    embedded at a DIFFERENT word offset must be caught exactly (start,
    end, length) — the case chunk hashing structurally misses because
    the copy straddles every chunk boundary. Also pins keep-first (the
    first occurrence is never reported), self-repeats within one doc,
    and the reassembled texts."""
    from trialsync_etl_spark.operators.dedup import (
        chunk_dedup,
        duplicate_spans,
        substring_dedup,
    )

    block = " ".join(f"w{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            # first occurrence of the block, at word offset 4
            (1, "intro one two three " + block + " tail alpha"),
            # the same block shifted to offset 2 — off the 3-word grid
            (2, "different lead " + block + " other end words here"),
            (3, "totally unrelated filler text with enough distinct "
                "words to never match anything at all ok"),
            # self-repeat: block twice back to back
            (4, block + " " + block),
        ],
        "doc_id long, text string",
    )

    spans = {
        (r.doc_id, r.span_start, r.span_end, r.span_words)
        for r in duplicate_spans(docs, k=4, min_len=8).collect()
    }
    # doc 2's copy: exactly words [2, 13]; doc 1 (first occurrence) absent;
    # doc 4: both 12-word copies redundant vs doc 1, split at the boundary
    # grams (w9 w10 w11 w0 … occur nowhere else, so the runs break there)
    assert spans == {
        (2, 2, 13, 12),
        (4, 0, 11, 12),
        (4, 12, 23, 12),
    }

    out = {
        r.doc_id: r.text
        for r in substring_dedup(docs, k=4, min_len=8).collect()
    }
    assert out[1].startswith("intro one two three w0")  # first copy intact
    assert out[2] == "different lead other end words here"
    assert "w0" not in out[2]
    assert out[3].startswith("totally unrelated")  # untouched
    assert out[4] == ""  # fully duplicated doc returns empty, not missing

    # the structural gap this operator closes: chunk_dedup (3-word grid)
    # does NOT remove doc 2's off-grid copy of the block
    chunked = {
        r.doc_id: r.text for r in chunk_dedup(docs, chunk_words=3).collect()
    }
    assert "w2" in chunked[2], (
        "chunk grid unexpectedly caught the off-grid copy — fixture broken"
    )

    # min_len < k is a contract error, not a silent empty result
    import pytest as _pytest

    with _pytest.raises(ValueError, match="min_len"):
        duplicate_spans(docs, k=8, min_len=4)


def test_trim_spans_short_circuits_untouched_docs(spark):
    """The untouched-doc short-circuit in trim_spans: a doc with no spans
    keeps its text BYTE-identical — including irregular whitespace the
    tokenize/rejoin path would have collapsed — while spanned docs still
    get the single-spaced rebuild; and on a span-free corpus the whole
    output equals the input exactly."""
    from trialsync_etl_spark.operators.dedup import substring_dedup, trim_spans

    raw = "keep   my\n\nweird\twhitespace exactly as it was written ok"
    block = " ".join(f"v{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, raw), (2, "lead " + block), (3, "shift pad " + block)],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.text
        for r in substring_dedup(docs, k=4, min_len=8).collect()
    }
    assert out[1] == raw                      # byte-identical, not re-joined
    assert out[2] == "lead " + block          # first occurrence untouched
    assert out[3] == "shift pad"              # later copy trimmed + rebuilt

    # span-free corpus: every doc passes through byte-identical
    empty_spans = spark.createDataFrame(
        [], "doc_id long, span_start long, span_end long, span_words long"
    )
    passthrough = {
        r.doc_id: r.text for r in trim_spans(docs, empty_spans).collect()
    }
    assert passthrough == {1: raw, 2: "lead " + block, 3: "shift pad " + block}


def test_unigram_perplexity_hand_computed_and_band(spark):
    """The unigram LM on a hand-checkable corpus: exact smoothed
    log-probs, boilerplate scores LOWER perplexity than diverse text,
    unseen tokens take the UNK mass (never null), the curation band
    keeps the middle, and an empty reference corpus is loud."""
    import math

    import pytest as _pytest

    from trialsync_etl_spark.operators.lm import (
        doc_perplexity,
        perplexity_band_mask,
        unigram_model,
    )

    # corpus: 6 tokens, 3 types -> N=6, V=3, denom = 6 + (3+1) = 10
    ref = spark.createDataFrame(
        [(1, "a a a b b c")], "doc_id long, text string"
    )
    lm, unseen = unigram_model(ref)
    probs = {r.tok: r.logp for r in lm.collect()}
    assert probs["a"] == round(math.log(4 / 10), 8)   # (3+1)/10
    assert probs["b"] == round(math.log(3 / 10), 8)
    assert probs["c"] == round(math.log(2 / 10), 8)
    assert unseen == round(math.log(1 / 10), 8)

    docs = spark.createDataFrame(
        [
            (10, "a a a a"),      # all high-prob -> LOW perplexity
            (11, "a b c a b c"),  # mixed
            (12, "z z z z"),      # all unseen -> HIGHEST perplexity
        ],
        "doc_id long, text string",
    )
    ppl = {r.doc_id: r for r in doc_perplexity(docs, lm, unseen).collect()}
    assert ppl[10].perplexity == round(math.exp(-round(math.log(0.4), 6)), 4)
    assert ppl[12].perplexity == round(math.exp(-round(math.log(0.1), 6)), 4)
    assert ppl[10].perplexity < ppl[11].perplexity < ppl[12].perplexity
    assert ppl[11].n_tokens == 6

    # the curation band drops the boilerplate floor AND the gibberish
    # ceiling, keeps the middle
    kept = sorted(
        r.doc_id
        for r in perplexity_band_mask(
            docs, lm, unseen,
            min_ppl=ppl[10].perplexity + 0.01,
            max_ppl=ppl[12].perplexity - 0.01,
        ).collect()
    )
    assert kept == [11]

    with _pytest.raises(ValueError, match="no tokens"):
        unigram_model(spark.createDataFrame(
            [(1, "")], "doc_id long, text string"
        ))


def test_bigram_perplexity_hand_computed_order_signal_and_backoff(spark):
    """The interpolated bigram LM on a hand-checkable corpus: exact
    smoothed log-probs for all three model tables, the WORD-ORDER signal
    (a shuffled doc keeps its unigram perplexity bit-for-bit but its
    bigram perplexity climbs — transitions are unattested), the backoff
    ladder (seen bigram → context's unseen-continuation mass → unigram
    when the context itself is out-of-vocabulary), first token pure
    unigram, and an empty reference is loud."""
    import math

    import pytest as _pytest

    from trialsync_etl_spark.operators.lm import (
        bigram_model,
        doc_perplexity,
        doc_perplexity_bigram,
        unigram_model,
    )

    # corpus "a b a b c": N=5, V=3, uni denom = 5+(3+1) = 9
    # bigrams: (a,b)x2, (b,a)x1, (b,c)x1; ctx denom = c(w1)+(V+1)
    ref = spark.createDataFrame(
        [(1, "a b a b c")], "doc_id long, text string"
    )
    uni, bi, ctx, sc = bigram_model(ref)
    u = {r.tok: r.logp for r in uni.collect()}
    b = {(r.w1, r.w2): r.logp for r in bi.collect()}
    c = {r.w1: r.logp for r in ctx.collect()}
    assert u["a"] == round(math.log(3 / 9), 8)        # (2+1)/9
    assert u["c"] == round(math.log(2 / 9), 8)
    assert b[("a", "b")] == round(math.log(3 / 6), 8)  # (2+1)/(2+4)
    assert b[("b", "a")] == round(math.log(2 / 6), 8)
    assert c["a"] == round(math.log(1 / 6), 8)         # unseen after 'a'
    assert c["c"] == round(math.log(1 / 5), 8)         # c(c)=1 -> 1/5
    assert sc["unseen_logp"] == round(math.log(1 / 9), 8)

    # per-token hand check on "a b z": tok1 'a' pure unigram ln(3/9);
    # tok2 'b' mixes seen bigram (a,b)=3/6 with uni 3/9; tok3 'z' is
    # unseen after seen 'b' -> ctx mass 1/6 mixed with global UNK 1/9
    lp1 = round(math.log(3 / 9), 8)
    lp2 = round(math.log(0.5 * (3 / 6) + 0.5 * (3 / 9)), 8)
    lp3 = round(math.log(0.5 * (1 / 6) + 0.5 * (1 / 9)), 8)
    want_avg = round((lp1 + lp2 + lp3) / 3, 6)
    got = doc_perplexity_bigram(
        spark.createDataFrame([(20, "a b z")], "doc_id long, text string"),
        uni, bi, ctx, sc["unseen_logp"],
    ).collect()[0]
    assert got.avg_logp == want_avg
    assert got.perplexity == round(math.exp(-want_avg), 4)

    # context itself unseen ('z a'): full backoff — the bigram term for
    # 'a' after OOV 'z' IS the unigram, so the mix collapses to ln(3/9)
    got_oov = doc_perplexity_bigram(
        spark.createDataFrame([(21, "z a")], "doc_id long, text string"),
        uni, bi, ctx, sc["unseen_logp"],
    ).collect()[0]
    want_oov = round(
        (sc["unseen_logp"] + round(math.log(3 / 9), 8)) / 2, 6
    )
    assert got_oov.avg_logp == want_oov

    # the word-order signal: same token multiset, different order
    docs = spark.createDataFrame(
        [(30, "a b a b c"), (31, "b b a c a")],
        "doc_id long, text string",
    )
    ulm, unseen = unigram_model(ref)
    up = {r.doc_id: r.perplexity for r in doc_perplexity(docs, ulm, unseen).collect()}
    bp = {
        r.doc_id: r.perplexity
        for r in doc_perplexity_bigram(
            docs, uni, bi, ctx, sc["unseen_logp"]
        ).collect()
    }
    assert up[30] == up[31]       # unigram is order-blind
    assert bp[31] > bp[30]        # the bigram sees the shuffle

    with _pytest.raises(ValueError, match="no tokens"):
        bigram_model(spark.createDataFrame(
            [(1, "  ")], "doc_id long, text string"
        ))


@pytest.mark.slow
def test_kn_trigram_hand_computed_backoff_and_order_signal(spark):
    """Interpolated Kneser-Ney trigram (the public Chen & Goodman
    recipe): every model table hand-derived on a tiny corpus with the
    exact 8 dp cascade the engine stores, the three-rung score-time
    backoff (stored row → stored γ × lower → lower), the all-OOV doc
    collapsing to the UNK mass, the order signal STRENGTHENING over the
    bigram on a shuffled doc, and loud contract errors."""
    import math

    import pytest as _pytest

    from trialsync_etl_spark.operators.lm import (
        bigram_model,
        doc_perplexity_bigram,
        doc_perplexity_kn,
        kn_model,
    )

    # corpus "a b c a b d": bigram TYPES {(a,b),(b,c),(c,a),(b,d)} -> B=4;
    # each of a,b,c,d completes exactly one context -> V=4, every
    # continuation count 1; trigram types (a,b,c),(b,c,a),(c,a,b),(a,b,d)
    ref = spark.createDataFrame(
        [(1, "a b c a b d")], "doc_id long, text string"
    )
    uni, bi, ctx2, tri, ctx3, sc = kn_model(ref)
    u = {r.tok: r.logp for r in uni.collect()}
    b = {(r.w1, r.w2): r.logp for r in bi.collect()}
    g2 = {r.w1: r.logg for r in ctx2.collect()}
    t = {(r.w1, r.w2, r.w3): r.logp for r in tri.collect()}
    g3 = {(r.w1, r.w2): r.logg for r in ctx3.collect()}

    # p1(w) = max(1-0.75,0)/4 + (0.75*4/4)/5 = 0.0625 + 0.15 = 0.2125
    p1r = round(math.log(0.2125), 8)
    assert set(u) == {"a", "b", "c", "d"}
    assert all(lp == p1r for lp in u.values())
    assert sc["unk_logp"] == round(math.log(0.15), 8)

    # p2(c|b): N1+(.bc)=1 of N1+(.b.)=2, gamma2(b)=0.75*2/2
    p2_cb = round(math.log(0.25 / 2 + 0.75 * math.exp(p1r)), 8)
    assert b[("b", "c")] == p2_cb
    # p2(b|a): N1+(.ab)=1 of N1+(.a.)=1
    p2_ba = round(math.log(0.25 / 1 + 0.75 * math.exp(p1r)), 8)
    assert b[("a", "b")] == p2_ba
    assert g2["a"] == round(math.log(0.75), 8)  # 0.75*1/1
    assert g2["b"] == round(math.log(0.75), 8)  # 0.75*2/2

    # p3(c|a,b): c3=1 of c(ab.)=2, gamma3(ab)=0.75*2/2
    p3_abc = round(math.log(0.25 / 2 + 0.75 * math.exp(p2_cb)), 8)
    assert t[("a", "b", "c")] == p3_abc
    assert g3[("a", "b")] == round(math.log(0.75), 8)

    # fully-attested doc "a b c": pos0 unigram, pos1 stored bigram,
    # pos2 stored trigram
    got = doc_perplexity_kn(
        spark.createDataFrame([(10, "a b c")], "doc_id long, text string"),
        uni, bi, ctx2, tri, ctx3, sc["unk_logp"],
    ).collect()[0]
    want_avg = round((p1r + p2_ba + p3_abc) / 3, 6)
    assert got.avg_logp == want_avg
    assert got.perplexity == round(math.exp(-want_avg), 4)

    # backoff doc "c a d": pos2 'd' has no (c,a,d) trigram and no (a,d)
    # bigram -> gamma3(c,a) * gamma2(a) * p1(d), every factor stored 8dp
    p2_ca = round(math.log(0.25 / 1 + 0.75 * math.exp(p1r)), 8)
    lp_d = round(
        math.log(
            math.exp(round(math.log(0.75), 8))
            * math.exp(round(math.log(0.75), 8))
            * math.exp(p1r)
        ),
        8,
    )
    got_b = doc_perplexity_kn(
        spark.createDataFrame([(11, "c a d")], "doc_id long, text string"),
        uni, bi, ctx2, tri, ctx3, sc["unk_logp"],
    ).collect()[0]
    assert got_b.avg_logp == round((p1r + p2_ca + lp_d) / 3, 6)

    # all-OOV doc: every rung misses -> every token scores the UNK mass
    got_u = doc_perplexity_kn(
        spark.createDataFrame([(12, "zz qq ww")], "doc_id long, text string"),
        uni, bi, ctx2, tri, ctx3, sc["unk_logp"],
    ).collect()[0]
    assert got_u.avg_logp == round(sc["unk_logp"], 6)

    # the order signal strengthens: on a corpus of one repeated sentence,
    # a shuffled copy's perplexity ratio (shuffled/original) is larger
    # under the KN trigram than under the interpolated bigram — two
    # attested-transition rungs collapse instead of one
    ref2 = spark.createDataFrame(
        [(1, "the quick fox jumps over the lazy dog " * 4)],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [(30, "the quick fox jumps over the lazy dog"),
         (31, "fox the lazy jumps dog quick over the")],
        "doc_id long, text string",
    )
    ku, kb, kc2, kt, kc3, ksc = kn_model(ref2)
    kn_ppl = {
        r.doc_id: r.perplexity
        for r in doc_perplexity_kn(
            docs, ku, kb, kc2, kt, kc3, ksc["unk_logp"]
        ).collect()
    }
    bu, bb, bc, bsc = bigram_model(ref2)
    bi_ppl = {
        r.doc_id: r.perplexity
        for r in doc_perplexity_bigram(
            docs, bu, bb, bc, bsc["unseen_logp"]
        ).collect()
    }
    assert kn_ppl[31] > kn_ppl[30]
    assert bi_ppl[31] > bi_ppl[30]
    assert kn_ppl[31] / kn_ppl[30] > bi_ppl[31] / bi_ppl[30]

    with _pytest.raises(ValueError, match="discount"):
        kn_model(ref, discount=1.5)
    with _pytest.raises(ValueError, match="bigrams"):
        kn_model(spark.createDataFrame(
            [(1, "solo"), (2, "word")], "doc_id long, text string"
        ))


def test_gopher_metrics_hand_computed_and_mask_per_rule(spark):
    """The published Gopher rule set: every metric hand-checked on a
    tiny doc, and a corpus of one-rule violators where the mask keeps
    exactly the clean doc — each violator satisfies every OTHER rule, so
    each kill is attributable to its rule."""
    from trialsync_etl_spark.operators.textstats import (
        gopher_metrics,
        gopher_quality_mask,
    )

    tiny = spark.createDataFrame(
        [(1, "the fox#\n- bullet line\nends here...")],
        "doc_id long, text string",
    )
    m = gopher_metrics(F.col("text"))
    row = tiny.select(
        *[v.alias(k) for k, v in m.items()]
    ).collect()[0]
    # ws = [the, fox#, -, bullet, line, ends, here...]
    assert row.word_count == 7
    assert row.mean_word_len == round(29 / 7, 4)
    assert row.hash_word_ratio == round(1 / 7, 4)      # one '#'
    assert row.ellipsis_word_ratio == round(1 / 7, 4)  # one '...'
    assert row.bullet_frac == round(1 / 3, 4)
    assert row.ellipsis_frac == round(1 / 3, 4)
    assert row.alpha_word_frac == round(6 / 7, 4)  # '-' has no letters
    assert row.n_stopwords == 1  # 'the'

    stop_pad = "the of and that have with"  # 6 stopwords, mean len 3.5
    good_words = "quick brown foxes jump over lazy dogs daily " * 6
    good = (stop_pad + " " + good_words).strip()  # 54 words, all alpha
    violators = [
        (10, good, True),
        (11, stop_pad + " too few words here", False),        # < 50 words
        (12, " ".join(["extraordinarily"] * 48) + " " + stop_pad,
         False),                                              # mean len > 10
        (13, good + " " + "# # # # # # #", False),            # symbols
        (14, "\n".join("- " + good_words.strip() for _ in range(10))
             + "\n" + stop_pad, False),                       # bullets > 0.9
        (15, "\n".join(
            (good_words.strip() + ("..." if i < 2 else ""))
            for i in range(4)) + "\n" + stop_pad, False),     # ellipsis 0.4
        (16, good + " " + " ".join(str(n) for n in range(20)),
         False),                                              # alpha < 0.8
        (17, good_words * 2, False),                          # 0 stopwords
        # the published rule thresholds EACH symbol ratio separately:
        # 4 hashes + 4 ellipses over ~62 words ≈ 0.065 each — a combined
        # ratio would read 0.13 > 0.1 and wrongly drop this doc
        (18, good + " on... so... far... now... #go #go #go #go", True),
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t, _ in violators], "doc_id long, text string"
    )
    kept = sorted(
        r.doc_id
        for r in docs.filter(gopher_quality_mask(F.col("text"))).collect()
    )
    assert kept == [i for i, _, keep in violators if keep] == [10, 18]

    # bullets-violator sanity: its OTHER metrics pass (the kill is the
    # bullet fraction alone)
    g = gopher_metrics(F.col("text"))
    b = docs.filter(F.col("doc_id") == 14).select(
        *[v.alias(k) for k, v in g.items()]
    ).collect()[0]
    assert b.bullet_frac > 0.9
    assert b.word_count >= 50 and b.alpha_word_frac >= 0.8
    assert b.n_stopwords >= 2 and 3.0 <= b.mean_word_len <= 10.0


def test_gopher_stage_runs_in_both_funnels(spark, tmp_path):
    """curate_corpus(gopher_rules=True) and CurateStreamSink(
    gopher_rules=...) drop the same planted violator — the cadences
    share the Column expression; dict form overrides thresholds."""
    import json as _json
    import os as _os

    from pyspark.sql import types as T

    from trialsync_etl_spark.operators.curate import curate_corpus
    from trialsync_etl_spark.streaming import structured

    good = ("the of and that have with "
            + "quick brown foxes jump over lazy dogs daily " * 6).strip()
    bad = "tok " * 60  # 60 words, zero stopwords, distinct_ratio tiny
    # the funnel-ordering regression: a bullet-list page whose LINE
    # structure is the only violation — clean_text collapses it to one
    # non-bullet line that PASSES every rule, so the stage must run on
    # the raw text (before clean_text) to catch it
    bullets = good + "\n" + "\n".join(
        "- quick brown foxes jump over lazy dogs daily" for _ in range(19)
    )
    docs = spark.createDataFrame(
        [(1, good), (2, bad), (3, bullets)], "doc_id long, text string"
    )
    res = curate_corpus(
        docs, gopher_rules=True, near_dup=False, persist=False,
        min_distinct_ratio=0.0, max_top_token_frac=1.0,
    )
    assert [r.doc_id for r in res.stages["gopher_filtered"].collect()] == [1]
    # dict form: loosen the stopword floor and the repeated doc passes
    res2 = curate_corpus(
        docs, gopher_rules={"min_stopwords": 0, "min_alpha_word_frac": 0.0},
        near_dup=False, persist=False,
        min_distinct_ratio=0.0, max_top_token_frac=1.0,
    )
    assert sorted(
        r.doc_id for r in res2.stages["gopher_filtered"].collect()
    ) == [1, 2]

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "curated")
    _os.makedirs(landing)
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    with open(_os.path.join(landing, "b1.json"), "w") as f:
        for i, t in ((1, good), (2, bad), (3, bullets)):
            f.write(_json.dumps(
                {"doc_id": i, "text": t,
                 "ts": f"2024-01-01T00:00:0{i}Z"}) + "\n")
    sink = structured.CurateStreamSink(
        out, gopher_rules=True,
        min_distinct_ratio=0.0, max_top_token_frac=1.0,
    )
    sink.attach(
        structured.read_landing_stream(spark, landing, schema),
        str(tmp_path / "ckpt"),
    )
    assert [r.doc_id for r in spark.read.parquet(out).collect()] == [1]


def test_c4_rules_hand_checked_and_both_funnels(spark, tmp_path):
    """The published C4 recipe: line retention hand-checked per rule
    (terminal punctuation, ≥5 words, lorem-ipsum / javascript / '{'
    markers), the page rules (three-retained-line floor, page-anywhere
    markers), and the stage running FIRST in both funnels — on the raw
    line structure clean_text would destroy."""
    import json as _json
    import os as _os

    from pyspark.sql import types as T

    from trialsync_etl_spark.operators.curate import curate_corpus
    from trialsync_etl_spark.operators.textstats import (
        c4_clean_text,
        c4_kept_lines,
        c4_quality_mask,
    )
    from trialsync_etl_spark.streaming import structured

    page = "\n".join([
        "raw lead line without punctuation",          # dropped: no punct
        "This sentence survives the line rules fine.",
        "Short one ends.",                            # dropped: <5 words
        "Another good sentence stays in the page.",
        "A third good sentence completes the floor.",
        "Please enable javascript to continue here.",  # dropped: the
        # ONE line-level marker (lorem ipsum and '{' are page-level)
    ])
    tiny = spark.createDataFrame([(1, page)], "doc_id long, text string")
    kept = tiny.select(c4_kept_lines(F.col("text")).alias("k")).collect()[0].k
    assert kept == [
        "This sentence survives the line rules fine.",
        "Another good sentence stays in the page.",
        "A third good sentence completes the floor.",
    ]
    assert tiny.select(
        c4_clean_text(F.col("text")).alias("t")
    ).collect()[0].t == "\n".join(kept)
    assert tiny.select(
        c4_quality_mask(F.col("text")).alias("m")
    ).collect()[0].m is True

    # page drops, each attributable: two kept lines only (the floor);
    # a page-anywhere '{' (code smell — drops the PAGE even though its
    # sentences pass); a page-anywhere 'lorem ipsum' (same page-level
    # rule, even buried in an otherwise-dropped line)
    two_lines = "\n".join(kept[:2])
    braced = page + "\nif (x) { return; }"
    lorem = page + "\nserved by a lorem ipsum factory"
    pages = spark.createDataFrame(
        [(1, page), (2, two_lines), (3, braced), (4, lorem)],
        "doc_id long, text string",
    )
    flags = {r.doc_id: r.m for r in pages.select(
        "doc_id", c4_quality_mask(F.col("text")).alias("m")).collect()}
    assert flags == {1: True, 2: False, 3: False, 4: False}

    # batch funnel: stage first, pages 2-4 drop, page 1 rebuilt
    res = curate_corpus(pages, c4_clean=True, near_dup=False, persist=False)
    got = res.stages["c4_cleaned"].collect()
    assert [r.doc_id for r in got] == [1]
    assert got[0].text == "\n".join(kept)

    # streaming twin
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "curated")
    _os.makedirs(landing)
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    with open(_os.path.join(landing, "b1.json"), "w") as f:
        for i, t in ((1, page), (2, two_lines), (3, lorem)):
            f.write(_json.dumps(
                {"doc_id": i, "text": t,
                 "ts": f"2024-01-01T00:00:0{i}Z"}) + "\n")
    sink = structured.CurateStreamSink(out, c4_clean=True)
    sink.attach(
        structured.read_landing_stream(spark, landing, schema),
        str(tmp_path / "ckpt"),
    )
    rows = spark.read.parquet(out).collect()
    assert [r.doc_id for r in rows] == [1]
    # the landed text went through c4 (line rebuild) THEN clean_text
    # (whitespace collapse): the newlines became single spaces
    assert rows[0].text == " ".join(kept)


@pytest.mark.slow
def test_gopher_repetition_hand_computed_and_both_funnels(spark, tmp_path):
    """The published Gopher repetition rules: duplicate-line and
    duplicate-paragraph fractions hand-checked, n-gram coverage
    fractions hand-checked on a hot-bigram doc, the raw-line-structure
    requirement (a collapsed doc would hide the line dups), and the
    funnel stage dropping the same planted violator in both cadences."""
    import json as _json
    import os as _os

    from pyspark.sql import types as T

    from trialsync_etl_spark.operators.curate import curate_corpus
    from trialsync_etl_spark.operators.textstats import (
        gopher_repetition_report,
    )
    from trialsync_etl_spark.streaming import structured

    # hand-check: 3 identical lines (12 chars each) + 1 distinct (25)
    tiny = spark.createDataFrame(
        [(1, "same line xx\nsame line xx\nsame line xx\n"
             "a distinct closing row yy")],
        "doc_id long, text string",
    )
    r = gopher_repetition_report(tiny).collect()[0]
    assert r.dup_line_frac == 0.5  # 2 of 4 lines are repeats
    assert r.dup_line_char_frac == round(24 / 61, 4)
    # hot bigram: 'buy now' x3 -> top 2-gram covers 3*7 chars of 23
    hot = spark.createDataFrame(
        [(2, "buy now buy now buy now")], "doc_id long, text string"
    )
    r2 = gopher_repetition_report(hot).collect()[0]
    assert r2.top_2gram_char_frac == round(21 / 23, 4)
    # dup 5-gram: 'b n b n b' windows... the repeated block doc
    blk = spark.createDataFrame(
        [(3, "one two three four five filler one two three four five")],
        "doc_id long, text string",
    )
    r3 = gopher_repetition_report(blk).collect()[0]
    # the 5-gram 'one two three four five' occurs twice: 2*23 chars / 54
    assert r3.dup_5gram_char_frac == round(46 / 54, 4)
    # top_* is the coverage of the MOST FREQUENT gram, not the max
    # coverage over all grams (the r13 advice): 'a b' x3 (9 chars) is
    # the top 2-gram even though 'elongated1 elongated2' x2 covers 43
    mix = spark.createDataFrame(
        [(4, "a b c a b d a b elongated1 elongated2 x "
             "elongated1 elongated2")],
        "doc_id long, text string",
    )
    r4 = gopher_repetition_report(mix).collect()[0]
    chars4 = len("a b c a b d a b elongated1 elongated2 x "
                 "elongated1 elongated2")
    assert r4.top_2gram_char_frac == round(3 * len("a b") / chars4, 4)

    # funnel, both cadences: a long repetitive doc drops, a varied
    # long doc survives
    # fully distinct words: no n-gram ever repeats, so only the
    # top-{2,3,4}-gram caps matter and they shrink with doc length
    good = " ".join(f"distinctword{i}" for i in range(80))
    bad_lines = "\n".join(
        "this exact sentence repeats again and again verbatim."
        for _ in range(10)
    )
    docs = spark.createDataFrame(
        [(1, good.strip()), (2, bad_lines)], "doc_id long, text string"
    )
    res = curate_corpus(
        docs, gopher_repetition=True, near_dup=False, persist=False,
        min_distinct_ratio=0.0, max_top_token_frac=1.0,
    )
    assert [
        r.doc_id for r in res.stages["repetition_filtered"].collect()
    ] == [1]
    # dict form loosens the caps and the repeated doc passes
    res2 = curate_corpus(
        docs,
        gopher_repetition={k: 1.0 for k in (
            "dup_line_frac", "dup_line_char_frac",
            "dup_para_frac", "dup_para_char_frac",
        )} | {f"top_{k}gram_char_frac": 99.0 for k in (2, 3, 4)}
          | {f"dup_{k}gram_char_frac": 99.0 for k in range(5, 11)},
        near_dup=False, persist=False,
        min_distinct_ratio=0.0, max_top_token_frac=1.0,
    )
    assert sorted(
        r.doc_id for r in res2.stages["repetition_filtered"].collect()
    ) == [1, 2]

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "curated")
    _os.makedirs(landing)
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    with open(_os.path.join(landing, "b1.json"), "w") as f:
        for i, t in ((1, good.strip()), (2, bad_lines)):
            f.write(_json.dumps(
                {"doc_id": i, "text": t,
                 "ts": f"2024-01-01T00:00:0{i}Z"}) + "\n")
    sink = structured.CurateStreamSink(
        out, gopher_repetition=True,
        min_distinct_ratio=0.0, max_top_token_frac=1.0,
    )
    sink.attach(
        structured.read_landing_stream(spark, landing, schema),
        str(tmp_path / "ckpt"),
    )
    assert [r.doc_id for r in spark.read.parquet(out).collect()] == [1]


@pytest.mark.slow
def test_kn_generic_matches_specialized_and_oracle_generator(spark):
    """The r14 order-N generalization is pinned to the r13 trigram at
    order 3 from both directions: (a) kn_tables(order=3) reproduces
    every kn_model table row-for-row and doc_perplexity_kn_n the exact
    scorer output; (b) the GENERATED DuckDB oracle (_kn_oracle_n(3))
    returns the same rows as the hand-written trigram oracle on the
    test corpus. Order-5 is then exercised end-to-end by the
    text_perplexity_kn5 value oracle in the registry sweep."""
    import duckdb

    from tests.conftest import SF_DIR
    from trialsync_etl_spark.operators.lm import (
        doc_perplexity_kn,
        doc_perplexity_kn_n,
        kn_model,
        kn_tables,
    )
    from trialsync_etl_spark.plans.llm_ops import (
        _KN_ORACLE_SQL,
        _kn_oracle_n,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and the cat ran"),
            (2, "a dog sat on a log and the dog ran off quickly"),
            (3, "the cat and the dog sat quietly together on the mat"),
            (4, "san francisco is foggy and san francisco is hilly"),
        ],
        "doc_id long, text string",
    )
    uni, bi, ctx2, tri, ctx3, sc = kn_model(docs)
    tables, sc2 = kn_tables(docs, order=3)
    assert sc["unk_logp"] == sc2["unk_logp"]

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(uni) == rows(tables[0])
    assert rows(bi) == rows(tables[1][0])
    assert rows(ctx2) == rows(tables[1][1])
    assert rows(tri) == rows(tables[2][0])
    assert rows(ctx3) == rows(tables[2][1])
    assert rows(
        doc_perplexity_kn(docs, uni, bi, ctx2, tri, ctx3, sc["unk_logp"])
    ) == rows(doc_perplexity_kn_n(docs, tables, sc2["unk_logp"]))

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{SF_DIR}/documents.parquet'"
    )
    hand = sorted(con.execute(_KN_ORACLE_SQL).fetchall())
    gen = sorted(con.execute(_kn_oracle_n(3, max_doc=500)).fetchall())
    assert hand == gen

    import pytest as _pytest

    with _pytest.raises(ValueError, match="order"):
        kn_tables(docs, order=6)
