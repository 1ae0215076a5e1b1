"""Store-backed incremental benchmark decontamination.

`operators/decontam.py` is the one-shot shape: it re-shingles the
benchmark side on every call. At 100 TB the benchmark suite is tiny,
STATIC, and probed by every corpus ingest — so it belongs in a persisted
store, the same discipline every other dedup-family operator got
(signature store, ANN store, CM store):

- ``<store>/shingles/benchmark_id=<id>/`` — the distinct word-k-gram
  hashes of one benchmark, built ONCE per benchmark version. Re-building
  an id overwrites its partition (benchmark updates are versioned by
  id — ship ``mmlu-2026-08`` next to ``mmlu-2026-01`` and select at
  probe time). Kilobyte-to-megabyte scale: always broadcastable.
- ``<store>__meta.json`` — pinned (k, hash_fn), written under the
  store's ``__lock`` flock on first build and REJECTING mismatches on
  every later one: probing md5-built shingles with xxhash64 (or a
  different k) silently reports zero contamination — the exact
  silently-wrong failure the CM store's param pin exists to keep loud.

Corpus batches then gate incrementally: each batch probes the store's
(broadcast) shingle union — one scan of the batch, never a rescan of
prior batches or of the benchmark text — and a replayed batch derives
the same verdicts by construction (the profile is a pure function of
(batch, store)). Adding a NEW benchmark later costs one tiny build plus
re-gating only the batches you choose to re-check, not a full-corpus
re-shingle.

Parity contract: probing the store equals the one-shot
:func:`~trialsync_etl_spark.operators.decontam.contamination_profile`
over the concatenation of the stored benchmarks — the store holds
exactly the distinct shingle hashes that call would derive, so the
DuckDB oracle of the one-shot query pins this path too
(tests/test_decontam.py).

The store also carries an EMBEDDING partition family
(``<store>/embeddings/benchmark_id=<id>/`` + ``<store>__emb_meta.json``
pinning the vector dim) for SEMANTIC decontamination — the paraphrase
gap: a reworded benchmark item shares no word-k-grams but keeps a
near-identical embedding. Same disciplines as the shingle family:
built once per benchmark version, broadcast per corpus batch,
replay-convergent gating, loud param pins (a dim mismatch would zip to
null cosines — silent zero contamination), one-shot parity against
:func:`decontam.semantic_contamination_profile`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trialsync_etl_spark.operators import dedup
from trialsync_etl_spark.storage import PinnedParams, check_tag

SHINGLES_TABLE = "shingles"


_PARAMS = PinnedParams(
    label="decontam store",
    suffix="__meta.json",
    lock_suffix="/__lock",
    keys=("k", "hash_fn"),
    hint="the (k, hash_fn) pin is the contamination gate's safety "
    "contract; rebuild it by re-running build_benchmark_store for any "
    "benchmark (or restore the meta file from the store's source of truth)",
    why="mixed shingle spaces report silent zero contamination",
    first_step="build a benchmark first (build_benchmark_store)",
)


def read_store_params(store_path: str) -> dict | None:
    """Pinned (k, hash_fn) of the store, or None when never pinned.

    A PRESENT-but-unreadable meta (truncated/corrupt JSON, missing keys)
    raises a loud rebuild error instead of surfacing as a bare
    JSONDecodeError/KeyError traceback: this store is the contamination
    gate — an operator staring at a KeyError should be told the fix
    (re-pin by rebuilding a benchmark), not left to guess whether the
    gate's params are trustworthy."""
    return _PARAMS.read(store_path)


def build_benchmark_store(
    benchmark: DataFrame,
    store_path: str,
    benchmark_id: str,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "md5",
) -> int:
    """Shingle ONE benchmark into the store — paid once per benchmark
    version, never per corpus batch. Returns the distinct-shingle count.
    Re-building the same ``benchmark_id`` overwrites its partition
    (replay-convergent); a benchmark UPDATE ships under a new id so
    past gating decisions stay attributable to the set they ran against.
    """
    check_tag("benchmark_id", benchmark_id)
    _PARAMS.pin(store_path, k=k, hash_fn=hash_fn)
    sh = (
        dedup.doc_shingles(
            benchmark, id_col=id_col, text_col=text_col, k=k, hash_fn=hash_fn
        )
        .select("h")
        .distinct()
    )
    target = os.path.join(
        store_path, SHINGLES_TABLE, f"benchmark_id={benchmark_id}"
    )
    # a benchmark is kilobytes of longs — one file reads fastest at probe
    from pyspark.sql import Observation

    obs = Observation()
    sh.coalesce(1).observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).parquet(target)
    return int(obs.get["n"])


def list_benchmarks(store_path: str) -> list[str]:
    base = os.path.join(store_path, SHINGLES_TABLE)
    if not os.path.isdir(base):
        return []
    return sorted(
        d.split("=", 1)[1]
        for d in os.listdir(base)
        if d.startswith("benchmark_id=")
    )


def read_benchmark_shingles(
    spark: SparkSession,
    store_path: str,
    benchmark_ids: list[str] | None = None,
) -> DataFrame:
    """The distinct shingle-hash union of the selected benchmarks (all by
    default) — the broadcastable probe side. Partition pruning keeps a
    selected-subset read from touching other benchmarks' files."""
    sh = spark.read.parquet(os.path.join(store_path, SHINGLES_TABLE))
    if benchmark_ids is not None:
        missing = set(benchmark_ids) - set(list_benchmarks(store_path))
        if missing:
            raise ValueError(
                f"decontam store {store_path} has no benchmark(s) "
                f"{sorted(missing)}; built: {list_benchmarks(store_path)}"
            )
        sh = sh.filter(F.col("benchmark_id").isin(list(benchmark_ids)))
    # distinct across benchmarks: overlapping suites must not double-hit
    return sh.select("h").distinct()


def contamination_profile_store(
    spark: SparkSession,
    train: DataFrame,
    store_path: str,
    benchmark_ids: list[str] | None = None,
    min_overlap_frac: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int | None = None,
    hash_fn: str | None = None,
) -> DataFrame:
    """Per-doc contamination profile of ONE corpus batch against the
    stored benchmarks — same output contract as
    :func:`decontam.contamination_profile` ((doc_id, n_shingles,
    n_overlap, overlap_frac, contaminated)), with the benchmark side
    read from the store instead of re-shingled. (k, hash_fn) come from
    the store's pin; pass them only to assert expectations."""
    k, hash_fn = _PARAMS.resolve(store_path, k=k, hash_fn=hash_fn)
    train_sh = dedup.doc_shingles(
        dedup.spread_for_cpu(train), id_col=id_col, text_col=text_col,
        k=k, hash_fn=hash_fn,
    )
    bench_sh = read_benchmark_shingles(
        spark, store_path, benchmark_ids
    ).withColumn("__hit", F.lit(1))
    marked = train_sh.join(F.broadcast(bench_sh), "h", "left")
    frac = F.round(F.col("n_overlap").cast("double") / F.col("n_shingles"), 4)
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("__hit").alias("n_overlap"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            frac.alias("overlap_frac"),
            (frac >= F.lit(min_overlap_frac)).alias("contaminated"),
        )
    )


def decontaminate_incremental(
    spark: SparkSession,
    train: DataFrame,
    store_path: str,
    benchmark_ids: list[str] | None = None,
    min_overlap_frac: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Drop a batch's contaminated docs against the stored benchmarks —
    the per-ingest gating call. Pure function of (batch, store): a
    replayed batch derives identical survivors, no tags needed."""
    flagged = (
        contamination_profile_store(
            spark, train, store_path, benchmark_ids,
            min_overlap_frac=min_overlap_frac,
            id_col=id_col, text_col=text_col,
        )
        .filter(F.col("contaminated"))
        .select(F.col("doc_id").alias("__flagged_id"))
    )
    return train.join(
        flagged, train[id_col] == flagged.__flagged_id, "left_anti"
    )


# ---------------------------------------------------------------------------
# embedding (semantic) partition family — the paraphrase gap
# ---------------------------------------------------------------------------

EMBEDDINGS_TABLE = "embeddings"


#: separate meta from the shingle family's (k, hash_fn) pin — a store may
#: carry either family alone
_EMB_PARAMS = PinnedParams(
    label="decontam embedding store",
    suffix="__emb_meta.json",
    lock_suffix="/__lock",
    keys=("dim",),
    hint="rebuild it by re-running build_benchmark_embeddings for any "
    "benchmark",
    why="mixed dimensions zip to null cosines and report silent zero "
    "contamination",
    first_step="build a benchmark first (build_benchmark_embeddings)",
)


def read_emb_params(store_path: str) -> dict | None:
    """Pinned embedding params ({dim}), or None when no embedding
    benchmark was ever built. Same loud-on-corrupt contract as
    :func:`read_store_params` — the dim pin is what keeps a
    mismatched-dimension probe from silently scoring null cosines
    (zip_with over unequal lengths) and reporting zero contamination."""
    return _EMB_PARAMS.read(store_path)


def build_benchmark_embeddings(
    benchmark_emb: DataFrame,
    store_path: str,
    benchmark_id: str,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
) -> int:
    """Land ONE benchmark's embeddings in the store — the semantic
    sibling of :func:`build_benchmark_store`, for the contamination
    n-gram overlap cannot see: a paraphrased benchmark item shares no
    shingles but keeps a near-identical embedding. Paid once per
    benchmark version; re-building an id overwrites its partition.
    Vectors are stored VERBATIM (no cast), so the store probe scores the
    exact floats the one-shot profile would. Returns the vector count."""
    check_tag("benchmark_id", benchmark_id)
    rows = benchmark_emb.select(
        F.col(id_col).alias("doc_id"), F.col(vec_col).alias("embedding")
    ).filter(F.col("embedding").isNotNull())
    probe = rows.limit(1).collect()
    if not probe:
        raise ValueError(
            f"benchmark {benchmark_id!r} has no non-null embeddings"
        )
    _EMB_PARAMS.pin(store_path, dim=len(probe[0][1]))
    target = os.path.join(
        store_path, EMBEDDINGS_TABLE, f"benchmark_id={benchmark_id}"
    )
    from pyspark.sql import Observation

    obs = Observation()
    rows.coalesce(1).observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    ).parquet(target)
    return int(obs.get["n"])


def list_embedding_benchmarks(store_path: str) -> list[str]:
    base = os.path.join(store_path, EMBEDDINGS_TABLE)
    if not os.path.isdir(base):
        return []
    return sorted(
        d.split("=", 1)[1]
        for d in os.listdir(base)
        if d.startswith("benchmark_id=")
    )


def read_benchmark_embeddings(
    spark: SparkSession,
    store_path: str,
    benchmark_ids: list[str] | None = None,
) -> DataFrame:
    """(doc_id, embedding) of the selected benchmarks (all by default) —
    the broadcastable semantic probe side; partition pruning keeps a
    subset read from touching other benchmarks' files."""
    emb = spark.read.parquet(os.path.join(store_path, EMBEDDINGS_TABLE))
    if benchmark_ids is not None:
        missing = set(benchmark_ids) - set(list_embedding_benchmarks(store_path))
        if missing:
            raise ValueError(
                f"decontam store {store_path} has no embedding benchmark(s) "
                f"{sorted(missing)}; built: "
                f"{list_embedding_benchmarks(store_path)}"
            )
        emb = emb.filter(F.col("benchmark_id").isin(list(benchmark_ids)))
    return emb.select("doc_id", "embedding")


def semantic_contamination_profile_store(
    spark: SparkSession,
    train_emb: DataFrame,
    store_path: str,
    benchmark_ids: list[str] | None = None,
    threshold: float = 0.95,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-doc semantic contamination of ONE corpus batch against the
    STORED benchmark embeddings — same output contract as the one-shot
    :func:`decontam.semantic_contamination_profile` ((doc_id, bench_id,
    max_cosine, contaminated)), with the benchmark side read from the
    store (built once per version, broadcast per batch). The probe's
    vector dim is validated against the store pin BEFORE scoring: a
    mismatched dim zips to null cosines, i.e. silent zero contamination
    — the exact failure the pin keeps loud."""
    from trialsync_etl_spark.operators.decontam import (
        semantic_contamination_profile,
    )

    probe = train_emb.select(F.col(vec_col)).filter(
        F.col(vec_col).isNotNull()
    ).limit(1).collect()
    _EMB_PARAMS.resolve(store_path, dim=len(probe[0][0]) if probe else None)
    # the store frame is always (doc_id, embedding) — align it with the
    # caller's column names before handing both sides to the one-shot
    bench = read_benchmark_embeddings(spark, store_path, benchmark_ids).select(
        F.col("doc_id").alias(id_col), F.col("embedding").alias(vec_col)
    )
    return semantic_contamination_profile(
        train_emb, bench, threshold=threshold, id_col=id_col, vec_col=vec_col
    )


def decontaminate_semantic_incremental(
    spark: SparkSession,
    train: DataFrame,
    embeddings: DataFrame,
    store_path: str,
    benchmark_ids: list[str] | None = None,
    threshold: float = 0.95,
    id_col: str = "doc_id",
    emb_id_col: str = "vec_id",
    emb_vec_col: str = "embedding",
) -> DataFrame:
    """Drop a batch's semantically-contaminated docs against the stored
    benchmark embeddings — the per-ingest gating call, replay-convergent
    (a pure function of (batch, embeddings, store)). ``embeddings`` maps
    ``emb_id_col`` → vector for the batch's docs; docs WITHOUT an
    embedding pass through (no evidence, no drop — the SemDeDup stage's
    contract)."""
    batch_emb = embeddings.select(
        F.col(emb_id_col).alias("__sid"), F.col(emb_vec_col).alias("__svec")
    ).join(
        train.select(F.col(id_col).alias("__sid")), "__sid", "semi"
    )
    flagged = (
        semantic_contamination_profile_store(
            spark, batch_emb, store_path, benchmark_ids,
            threshold=threshold, id_col="__sid", vec_col="__svec",
        )
        .filter(F.col("contaminated"))
        .select(F.col("doc_id").alias("__flagged_id"))
    )
    return train.join(
        flagged, train[id_col] == flagged.__flagged_id, "left_anti"
    )
