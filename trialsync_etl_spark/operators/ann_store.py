"""Persisted ANN index: build once, probe per batch (beyond-reference).

The in-memory retrieval operators (`similarity.ivf_quantized_topk`)
recompute centroid assignment and int8 codes on every call; at 100 TB the
index is an ARTIFACT — trained and assigned once, then probed by every
retrieval batch without touching the raw corpus. This module persists
exactly the structures those operators derive, as one crash-atomic
GENERATION per model:

- ``<index>/current`` — THE publish pointer (a symlink, swapped with one
  atomic ``os.replace``). Everything a probe needs lives under the
  generation directory it points at, so a reader that resolves the
  pointer once gets a CONSISTENT model+lists snapshot — a crash at any
  point of a rebuild leaves the pointer on the previous complete
  generation, never on a mixed-model index (new centroids over old
  lists was the one silent-wrong-answer window of the per-table layout).
- ``<gen>/centroids`` — the (cid, cvec) k-means frame (tiny, broadcast);
- ``<gen>/supers`` / ``<gen>/children`` — the persisted super-centroid
  grouping, present iff the generation's model is above the two-level
  threshold (stale pairs from a smaller retrain cannot survive: each
  generation carries its own or none);
- ``<gen>/lists`` — one row per corpus vector: (vec_id, int8 codes,
  full-precision vector), **partitioned by cid** so a probe scans only
  its ``n_probe`` lists via partition pruning — ~n_probe/n_lists of the
  store. The coarse pass projects only the 1-byte codes (column pruning
  keeps the wide ``vec`` column unread); the stored full-precision
  vectors are fetched by a second pruned scan for just the
  k x rerank_factor candidates. The per-vector quantization scale is not
  stored: it cancels in the cosine-proportional coarse score;
- ``<gen>/_index.json`` — n_lists / dim / count / model_version metadata,
  written into the generation BEFORE the pointer swap (meta can never
  describe a model the pointer doesn't reference).

Mutations serialize on ``<index>/lists__lock`` (see :func:`_lock_file`).
The replaced generation is retained until the NEXT publish — a lock-free
reader that resolved the pointer just before a swap keeps scanning
intact files for one more publish cycle (same long-running-reader bound
as `storage.swap_publish` with keep_versions=2). This is the only layout
read: a directory holding index tables at its root but no ``current``
pointer is refused (:func:`resolve_index`), never read as an empty index.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from trialsync_etl_spark.operators.similarity import (
    TWO_LEVEL_MIN_CENTROIDS,
    coarse_cut,
    cosine,
    exact_rerank,
    int8_coarse_score,
    ivf_assign,
    ivf_assign_auto,
    kmeans_centroids,
    quantize_int8,
    quantize_scale,
    super_centroids,
)
from trialsync_etl_spark.storage import atomic_write_json, file_lock

#: basename of the publish pointer inside an index directory
GEN_POINTER = "current"

#: basename of a generation's sequential-append delta (LSM shape): appends
#: land here as a handful of plain parquet files per batch instead of one
#: tiny file per touched cid partition — the 178-way partitioned write was
#: measured at 1.5-3s per 8K-row ingest batch vs ~0.3s for the delta, and
#: it happens inside the index lock. Readers union ``lists`` (pruned by
#: cid partition) with ``pending`` (pruned by a data filter — small
#: between compactions by construction); ``compact_ann_index`` folds the
#: delta into the cid-clustered base nightly.
PENDING_DIR = "pending"

#: size trigger for the append path's MINOR compaction of the pending
#: delta: fold when the delta exceeds this fraction of the clustered base
#: (bounding every probe's unpruned delta scan at ~fraction × its pruned
#: base read — the classic LSM read-amplification cap)...
PENDING_COMPACT_FRACTION = 0.25
#: ...but never below this many delta rows: a full base rewrite is only
#: worth scheduling once the delta scan it removes is material, and small
#: indexes would otherwise re-cluster on every second micro-batch. Indexes
#: small enough to stay under the floor scan a ≤floor-sized delta — noise
#: at probe time — and still fold on the nightly maintenance chain.
PENDING_COMPACT_MIN_ROWS = 20_000


def resolve_index(index_path: str) -> str:
    """The live generation directory (realpath through the ``current``
    pointer) — resolve ONCE per logical read so centroids and lists come
    from the same model snapshot. An index with nothing published yet (a
    missing or empty dir) resolves to the index dir itself, which holds
    no ``centroids``, so the ingest gate bootstraps it. A dir with index
    tables at its root but no pointer is not this layout and raises
    ``ValueError``: reading it as empty would drop every history verdict
    and publish a generation beside the foreign files."""
    ptr = os.path.join(index_path, GEN_POINTER)
    if os.path.islink(ptr):
        return os.path.realpath(ptr)
    root_tables = ("centroids", "lists")
    if any(os.path.exists(os.path.join(index_path, t)) for t in root_tables):
        raise ValueError(
            f"ANN index {index_path} has index tables at its root but no "
            f"'{GEN_POINTER}' pointer; expected layout: "
            f"{index_path}/{GEN_POINTER} -> gen-<id>/{{centroids, lists, "
            "_index.json}}"
        )
    return index_path


def read_index_rows(
    spark: SparkSession,
    gen_root: str,
    probed_cids: list | None = None,
    schema=None,
) -> DataFrame:
    """Every live row of a RESOLVED generation: the cid-partitioned
    ``lists`` base UNION the ``pending`` sequential-append delta (see
    :data:`PENDING_DIR`). ``probed_cids`` prunes the base by partition
    and the delta by a data filter — the delta is bounded by what landed
    since the last ``compact_ann_index``, so the extra scan is a
    between-compactions read-amplification trade, classic LSM. A column
    one side lacks (``batch_id`` on a base built without a batch tag) is
    null-filled so downstream schema checks see the union.

    ``schema`` (the cached unified schema from :func:`_gen_model`) skips
    the per-call ``mergeSchema`` footer-scan job — measured at ~0.4s per
    ingest micro-batch, pure fixed cost. Without it the schema is merged
    from footers as before (the right call for one-shot maintenance
    reads; the wrong one inside a per-batch loop)."""
    if schema is not None:
        base_reader = delta_reader = spark.read.schema(schema)
    else:
        base_reader = delta_reader = spark.read.option("mergeSchema", "true")
    rows = base_reader.parquet(os.path.join(gen_root, "lists"))
    if probed_cids is not None:
        rows = rows.filter(F.col("cid").isin(probed_cids))
    pend = os.path.join(gen_root, PENDING_DIR)
    if os.path.isdir(pend) and any(
        f.endswith(".parquet") for f in os.listdir(pend)
    ):
        delta = delta_reader.parquet(pend)
        if probed_cids is not None:
            delta = delta.filter(F.col("cid").isin(probed_cids))
        rows = rows.unionByName(delta, allowMissingColumns=True)
    return rows


def _lock_file(index_path: str) -> str:
    """The index mutation lock, at the index ROOT: every generation is
    retired by a later publish, so a lock inside one would be a different
    file for each publisher. The file is never unlinked — a later locker
    opening a new inode at the same path would not exclude a holder of
    the old one."""
    return os.path.join(index_path, "lists__lock")


def _index_lock(index_path: str):
    return file_lock(_lock_file(index_path))


def _load_two_level(
    spark: SparkSession, gen_root: str
) -> tuple[DataFrame | None, DataFrame | None]:
    """The persisted super-centroid grouping of a RESOLVED generation, if
    its model was built above the two-level threshold (smaller/older
    generations have neither — callers fall back to per-call derivation
    via `ivf_assign_auto`)."""
    sp, ch = os.path.join(gen_root, "supers"), os.path.join(gen_root, "children")
    if os.path.exists(sp) and os.path.exists(ch):
        return spark.read.parquet(sp), spark.read.parquet(ch)
    return None, None


#: per-(session, generation) cache of the IMMUTABLE model artifacts —
#: centroids/supers/children pinned in memory and the unified lists
#: schema. A published generation's model tables and base ``lists`` never
#: change (appends only add files under ``pending``), so the only
#: invalidation is the generation being replaced — and that changes the
#: resolved path, i.e. the key. Bounded LRU: retired generations' entries
#: age out; the pinned frames are kilobytes (centroid-count-sized).
_MODEL_CACHE: dict = {}
_MODEL_CACHE_MAX = 8


def _gen_model(spark: SparkSession, gen_root: str) -> dict:
    """The cached model artifacts of a RESOLVED generation: pays the
    three parquet reads + one mergeSchema footer scan ONCE per
    generation instead of per ingest micro-batch (measured ~0.5s of
    per-batch fixed cost at the 500-row gate floor)."""
    key = (spark.sparkContext.applicationId, gen_root)
    ent = _MODEL_CACHE.get(key)
    if ent is not None:
        return ent
    centroids = spark.read.parquet(
        os.path.join(gen_root, "centroids")
    ).localCheckpoint(eager=True)
    supers, children = _load_two_level(spark, gen_root)
    if supers is not None:
        supers = supers.localCheckpoint(eager=True)
        children = children.localCheckpoint(eager=True)
    schema = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(gen_root, "lists")
    ).schema
    return _cache_model(key, centroids, supers, children, schema)


def _cache_model(key, centroids, supers, children, lists_schema) -> dict:
    """Cache one generation's model artifacts under ``key``. The cached
    schema is the unified base+delta one: the base's schema plus the
    append-only ``batch_id`` (delta rows always tag it) — files missing
    it null-fill per ordinary parquet schema evolution, exactly the
    semantics a mergeSchema read of both produces."""
    from pyspark.sql import types as T

    schema = lists_schema
    if "batch_id" not in schema.fieldNames():
        schema = schema.add("batch_id", T.StringType())
    ent = {
        "centroids": centroids,
        "supers": supers,
        "children": children,
        "lists_schema": schema,
    }
    _MODEL_CACHE[key] = ent
    while len(_MODEL_CACHE) > _MODEL_CACHE_MAX:
        del _MODEL_CACHE[next(iter(_MODEL_CACHE))]
    return ent


def _swap_generation_locked(index_path: str, new_gen: str) -> None:
    """Publish a fully-staged generation with ONE atomic pointer swap,
    then retire what the pointer no longer references: generations other
    than {current, the one just replaced} (the replaced one is retained
    for in-flight lock-free readers until the next publish; anything
    older — including crash-stranded half-staged dirs — is debris)."""
    ptr = os.path.join(index_path, GEN_POINTER)
    prev = os.path.realpath(ptr) if os.path.islink(ptr) else None
    tmp = ptr + "__ptr"
    if os.path.lexists(tmp):
        os.remove(tmp)
    os.symlink(os.path.basename(new_gen), tmp)  # relative: dir relocatable
    os.replace(tmp, ptr)  # THE publish — one POSIX rename
    current = os.path.realpath(ptr)
    keep = {current} | ({prev} if prev else set())
    for name in os.listdir(index_path):
        full = os.path.join(index_path, name)
        if name.startswith("gen-") and os.path.realpath(full) not in keep:
            shutil.rmtree(full, ignore_errors=True)


def build_ann_index(
    corpus: DataFrame,
    index_path: str,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    sample_fraction: float | None = None,
    batch_id: str | None = None,
    clustered: bool = True,
) -> dict:
    """Train (or accept) centroids, assign every corpus vector to its
    nearest list, quantize, and publish the index. Returns the metadata
    dict. Pass ``centroids`` to rebuild lists under an existing model
    (e.g. after appends drift a list too large). ``batch_id`` tags the
    initial rows like an append would — the bootstrap path of
    :func:`incremental_semantic_dups` needs its first batch excludable
    from the history probe on a crash-replay. ``clustered=False`` is the
    micro-batch bootstrap shape: rows land in the pending delta instead
    of paying a k-way partitioned write (see
    :func:`_publish_model_and_lists`)."""
    return _publish_model_and_lists(
        corpus,
        index_path,
        n_lists,
        id_col,
        vec_col,
        centroids,
        sample_fraction,
        batch_id,
        model_version=1,
        clustered=clustered,
    )


def _publish_model_and_lists(
    corpus: DataFrame,
    index_path: str,
    n_lists: int,
    id_col: str,
    vec_col: str,
    centroids: DataFrame | None,
    sample_fraction: float | None,
    batch_id: str | None,
    model_version: int,
    lists_already_locked: bool = False,
    row_tags: DataFrame | None = None,
    clustered: bool = True,
) -> dict:
    """Core of build/rebuild: train (or accept) the model, assign,
    quantize, stage a complete generation directory, publish it with one
    pointer swap. ``lists_already_locked`` lets the maintenance rebuild
    hold the index lock across its whole snapshot-retrain-republish
    sequence (the lock otherwise wraps the staging too, so two fresh
    builds never race each other's staged dirs); ``model_version`` is
    stamped into the metadata so appenders can detect they assigned
    under a model that a rebuild has since replaced; ``row_tags`` is a
    per-row (id, batch_id) frame the rebuild passes so existing replay-
    exclusion tags survive the retrain (one row per id — the rebuild
    collapses multi-batch copies deterministically before passing it).

    ``clustered=False`` stages the rows in the generation's ``pending``
    delta (sequential files; the base ``lists`` is a zero-row
    schema-bearing file) instead of the cid-partitioned base — the
    micro-batch BOOTSTRAP path: the k-way partitioned write of a
    batch-sized corpus was measured at 1.5-2.3s against ~0.3s for the
    delta shape, and ``cid`` travels as a data column so every probe's
    cid filter selects exactly the same rows (a data-filter scan of one
    micro-batch instead of partition-pruned I/O — until the size-triggered
    or nightly compaction re-clusters, the standard LSM trade)."""
    dim_row = corpus.select(F.size(vec_col)).first()
    if dim_row is None:
        # fail BEFORE publishing: an empty corpus would otherwise publish
        # empty tables and then crash on first()[0], wedging the index
        raise ValueError("build_ann_index: corpus is empty — nothing to index")
    if centroids is None:
        centroids = kmeans_centroids(
            corpus, n_lists, vec_col=vec_col, sample_fraction=sample_fraction
        )
    # pin the (tiny) centroid frame eagerly: a caller rebuilding an index
    # passes a DataFrame that lazily READS this index's centroids table —
    # without the checkpoint, retiring the old generation below would
    # delete the files a later lazy re-read would need. The pin ALSO pays
    # for itself on trained-here centroids: skipping it for the literal
    # relation kmeans_centroids builds was tried (r16) and MEASURED the
    # ingest gate 15% SLOWER (interleaved A/B, old faster in 6/6 rounds)
    # — the cached model then re-embeds the k×dim literal into every
    # later batch's plans, and the per-plan analysis outweighs the one
    # checkpoint job. The count() job IS skippable when kmeans published
    # the center count driver-side (_trained_k) — the checkpoint keeps
    # the frame, the count was a pure re-derivation.
    k_actual = getattr(centroids, "_trained_k", None)
    centroids = centroids.localCheckpoint(eager=True)
    if k_actual is None:
        k_actual = centroids.count()
    # above the two-level threshold, derive the super-centroid grouping
    # ONCE and persist it with the generation: it is a pure function of
    # the centroid model (stable until a rebuild retrains), and deriving
    # it per assignment call costs a k-means over the centroids (~3s of
    # MLlib job overhead measured at 179 centroids) — which an ingest
    # cadence would otherwise pay every micro-batch
    supers = children = None
    if k_actual >= TWO_LEVEL_MIN_CENTROIDS:
        supers, children = super_centroids(centroids)
        supers = supers.localCheckpoint(eager=True)
        children = children.localCheckpoint(eager=True)

    def _stage_and_publish() -> dict:
        assigned = ivf_assign_auto(
            corpus, centroids, 1, id_col, vec_col,
            supers=supers, children=children,
        )
        scale = quantize_scale(F.col("__vec"))
        lists = assigned.select(
            F.col("__vid").alias("vec_id"),
            "cid",
            quantize_int8(F.col("__vec"), scale).alias("codes"),
            F.col("__vec").cast("array<float>").alias("vec"),
        )
        if row_tags is not None:
            lists = lists.join(
                row_tags.withColumnRenamed(id_col, "vec_id"), "vec_id", "left"
            )
        elif batch_id is not None:
            lists = lists.withColumn("batch_id", F.lit(batch_id))
        gen = os.path.join(index_path, "gen-" + uuid.uuid4().hex[:12])
        centroids.write.parquet(os.path.join(gen, "centroids"))
        if supers is not None:
            supers.write.parquet(os.path.join(gen, "supers"))
            children.write.parquet(os.path.join(gen, "children"))
        spark = corpus.sparkSession
        # the row count rides the write job itself (no read-back count
        # pass — physical truth by construction, same as the append path)
        obs = Observation()
        if clustered:
            # cluster by cid before the partitioned write: every cid then
            # lands in ONE file instead of one per upstream task (the
            # window shuffle leaves rows cid-interleaved, which would fan
            # each task across all n_lists dirs — n_tasks × n_lists tiny
            # files that every later probe's scan pays to open)
            lists.repartition(F.col("cid")).observe(
                obs, F.count(F.lit(1)).alias("n")
            ).write.partitionBy("cid").parquet(os.path.join(gen, "lists"))
        else:
            # micro-batch bootstrap: a zero-row schema-bearing base (so
            # schema derivation and base scans resolve) + the rows as a
            # sequential pending delta — see the docstring's LSM trade.
            # The empty base is written from a LOCAL empty frame carrying
            # lists' analyzed schema: `lists.limit(0)` dragged the whole
            # assignment plan through a write job just to emit a footer
            lists_schema = lists.schema
            spark.createDataFrame([], lists_schema).coalesce(1).write.parquet(
                os.path.join(gen, "lists")
            )
            lists.coalesce(4).observe(
                obs, F.count(F.lit(1)).alias("n")
            ).write.parquet(os.path.join(gen, PENDING_DIR))
        n_vecs = int(obs.get["n"])
        meta = {
            "n_lists": int(k_actual),
            "dim": int(dim_row[0]),
            "count": int(n_vecs),
            "model_version": int(model_version),
        }
        if not clustered:
            meta["pending_count"] = int(n_vecs)
        if batch_id is not None and row_tags is None:
            # a bootstrap build is the first append (see append_to_ann_index)
            meta["last_batch_id"] = batch_id
        # meta is PART of the generation: written before the swap, so a
        # published pointer always references a complete, self-described
        # model — there is no separate meta swap to crash between
        atomic_write_json(os.path.join(gen, "_index.json"), meta)
        _swap_generation_locked(index_path, gen)
        # pre-warm the model cache for the generation just published: the
        # frames in hand ARE the artifacts a follow-up probe would
        # otherwise re-read + re-checkpoint (plus one mergeSchema footer
        # job for the lists schema) — the ingest gate probes the index it
        # just bootstrapped in the SAME micro-batch
        _cache_model(
            (spark.sparkContext.applicationId, os.path.realpath(gen)),
            centroids, supers, children, lists.schema,
        )
        return meta

    os.makedirs(index_path, exist_ok=True)
    if lists_already_locked:
        return _stage_and_publish()
    with _index_lock(index_path):
        return _stage_and_publish()


def read_index_meta(index_path: str) -> dict:
    with open(os.path.join(resolve_index(index_path), "_index.json")) as f:
        return json.load(f)


def query_ann_index(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage retrieval against the persisted index, scanning only the
    probed lists.

    The generation pointer is resolved ONCE, so the centroids used to
    pick the probe set and the lists they prune belong to the same model
    even if a rebuild publishes mid-probe. The probed cid set is
    collected to the driver (bounded by n_lists — a few hundred ints,
    never corpus-sized) and pushed as a partition filter on the lists
    table; the ``pending`` append delta is additionally scanned with a
    data filter (bounded by compaction cadence — see ``PENDING_DIR``).
    The coarse scan projects only (vec_id, codes) — parquet column
    pruning never reads the wide full-precision column — and the
    candidates' vectors come from a second pruned scan of just the
    k x rerank_factor rows per query. Scoring is the same
    `similarity.int8_coarse_score` / `exact_rerank` pair the in-memory
    compositions use, so the paths cannot drift."""
    root = resolve_index(index_path)
    model = _gen_model(spark, root)
    centroids = model["centroids"]
    # query batches are driver-bounded (the probed-cid collect below
    # already requires that), so FLAT assignment is optimal here even at
    # high list counts: N_queries x K dots beat the two-level path's
    # per-call super-centroid derivation. The auto/two-level routing is
    # for CORPUS-side assignment (build/append), where N dominates.
    probes = ivf_assign(queries, centroids, n_probe, id_col, vec_col).select(
        F.col("__vid").alias("query_id"),
        F.col("__vec").cast("array<double>").alias("__qvec"),
        "cid",
    )
    probed_cids = [r.cid for r in probes.select("cid").distinct().collect()]
    # base lists pruned by partition + the pending append delta pruned by
    # a data filter (bounded by compaction cadence — see PENDING_DIR)
    lists = read_index_rows(
        spark, root, probed_cids, schema=model["lists_schema"]
    )

    # on a compacted index each corpus vector lives in exactly one list,
    # so (query, neighbor) pairs are unique; crashed-and-retried appends
    # can leave duplicate copies until compact_ann_index runs. The
    # groupBy-max dedup BEFORE the cut keeps candidate slots honest under
    # any duplicate multiplicity (a post-cut dedup could return fewer
    # than k distinct candidates) and is a no-op partial-agg on a clean
    # index — duplicates carry identical scores, so max == the score.
    from trialsync_etl_spark.operators.similarity import int8_code_norm

    # ||codes|| hoisted to once per LIST ROW — inline it re-folded per
    # (query, neighbor) pair (a list row probed by q queries paid q folds)
    lists_sel = lists.select("cid", "vec_id", "codes").withColumn(
        "__cnorm", int8_code_norm(F.col("codes"))
    )
    coarse = (
        probes.join(lists_sel, "cid")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            int8_coarse_score(
                F.col("__qvec"), F.col("codes"), F.col("__cnorm")
            ).alias("__coarse"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("__coarse").alias("__coarse"))
    )
    cand = coarse_cut(coarse, k * rerank_factor)
    qv = probes.select("query_id", "__qvec").dropDuplicates(["query_id"])
    nv = lists.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("vec").cast("array<double>").alias("__nvec"),
    ).dropDuplicates(["neighbor_id"])
    exact = (
        cand.join(nv, "neighbor_id")
        .join(qv, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("__qvec"), F.col("__nvec")).alias("cosine_sim"),
        )
    )
    return exact_rerank(exact, k)


#: substrings that identify a read failing because the generation it
#: resolved was retired underneath it (deleted dir or deleted files)
_RETIRED_GEN_TOKENS = (
    "FileNotFoundException",
    "FILE_NOT_FOUND",
    "FILE_NOT_EXIST",
    "PATH_NOT_FOUND",
    "does not exist",
    "No such file",
    # a read that races the retiring rmtree itself: the generation dir
    # still exists but its parquet files are already unlinked, so the
    # scan fails at schema inference rather than FILE_NOT_EXIST
    "UNABLE_TO_INFER_SCHEMA",
    "Unable to infer schema",
)


def _is_retired_generation_error(exc: BaseException) -> bool:
    """True when an exception plausibly means the generation a probe
    resolved was retired under it. The swap retains only {current,
    replaced}, so a lock-free reader has a TWO-publish lifetime: a probe
    that resolves a generation and then survives e.g. a rebuild AND the
    nightly compact scans deleted files. That failure is loud — this
    classifier is what lets :func:`query_ann_index_with_retry` tell it
    apart from a real error and re-resolve instead of propagating.

    Matched against ``repr`` AND ``str``: Py4JJavaError's repr omits the
    JVM message (where the FAILED_READ_FILE.FILE_NOT_EXIST error class
    lives) while some captured exceptions carry it only in repr."""
    s = f"{exc!r} {exc}"
    return any(tok in s for tok in _RETIRED_GEN_TOKENS)


def query_ann_index_with_retry(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    retries: int = 1,
    consume=None,
) -> DataFrame:
    """:func:`query_ann_index` with the lock-free reader lifetime bound
    handled instead of documented: the probe result is consumed INSIDE
    the call — by default eagerly pinned via ``localCheckpoint``, so the
    returned frame can never fail later on retired generation files —
    and a read that loses the two-publish race (its generation was
    replaced twice mid-probe — e.g. a rebuild then the nightly compact)
    re-resolves the pointer and re-runs, at most ``retries`` times. Each
    retry reads a COMPLETE newer generation, so the answers are always
    from one consistent model snapshot — retrying never mixes models.

    ``consume`` replaces the default pin with the caller's own terminal
    action run inside the retry loop (e.g. a parquet write for large
    query batches, where checkpoint-pinning the full result before
    writing would double-materialize it); its return value is returned.

    Retry only fires when the index root itself still exists — a
    mistyped index path fails on the FIRST attempt instead of paying a
    full wasted probe re-run to rediscover the typo.

    This is the operational entry point (the CLI's ``ann query`` uses
    it); :func:`query_ann_index` stays the lazy composable core for
    callers that pin or consume the frame themselves."""
    attempt = 0
    while True:
        # snapshot the pointer BEFORE the probe: the classifier's
        # substrings are broad ("does not exist" matches many failures),
        # so a retry additionally requires that the pointer has MOVED
        # since the probe started — a genuine error inside a still-live
        # generation (e.g. a missing queries-side path) propagates
        # immediately instead of paying a full wasted re-run. A publish
        # landing between the probe's own resolve and this snapshot makes
        # the guard conservative (retry fires), never false-negative:
        # unchanged pointer ⇒ the probed generation was never retired.
        gen_before = resolve_index(index_path) if os.path.isdir(index_path) else None
        try:
            hits = query_ann_index(
                spark, index_path, queries, k=k, n_probe=n_probe,
                rerank_factor=rerank_factor, id_col=id_col, vec_col=vec_col,
            )
            if consume is not None:
                return consume(hits)
            return hits.localCheckpoint(eager=True)
        except Exception as exc:  # noqa: BLE001 — classified below
            if (
                attempt >= retries
                or not _is_retired_generation_error(exc)
                or not os.path.isdir(index_path)
                or resolve_index(index_path) == gen_before
            ):
                raise
            attempt += 1


def append_to_ann_index(
    new_vectors: DataFrame,
    index_path: str,
    *,
    batch_id: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: DataFrame | None = None,
    expected_model_version: int | None = None,
    compact_fraction: float = PENDING_COMPACT_FRACTION,
    compact_min_rows: int = PENDING_COMPACT_MIN_ROWS,
) -> dict:
    """Incremental ingest: assign a new batch under the EXISTING centroids
    and land its rows in the live generation's ``pending`` append delta
    (folded into the cid-partitioned lists by ``compact_ann_index``) —
    the corpus is never re-indexed (the dedup_store pattern applied to
    retrieval).

    The delta is SIZE-BOUNDED, not just nightly-folded: the metadata
    tracks ``pending_count``, and when it exceeds
    ``max(compact_min_rows, compact_fraction × base rows)`` the append
    folds the delta into the cid-clustered base right here, under the
    lock it already holds (a scheduled-only fold would let a sustained
    high-rate ingest grow every probe's unpruned delta scan all day).
    The triggering append pays one O(base) re-cluster — amortized
    ≥ ``1/compact_fraction`` appended rows per rewritten row — and
    publishes a fresh generation, so concurrent lock-free probes keep
    reading their resolved snapshot throughout.

    ``batch_id`` must be a stable per-ingest identifier: appended rows are
    tagged with it. A retry of the last completed append (the meta's
    ``last_batch_id``, written with the count it landed) appends nothing;
    a retry of an append that crashed midway can leave duplicate rows,
    healed by :func:`compact_ann_index` (drops duplicate (vec_id,
    batch_id) rows).
    It should also be LEXICOGRAPHICALLY MONOTONIC across ingests
    (timestamp-prefixed or zero-padded — ``b0009`` not ``b9``): the
    maintenance retrain keeps one copy per vec_id by string-max batch_id,
    so with non-monotonic ids a re-ingested vector can survive a retrain
    with the OLDER embedding (deterministically, but not newest-wins).
    The append resolves the generation pointer UNDER the same lock every
    publisher holds, so it cannot interleave with a concurrent rebuild
    retiring that generation. Centroid drift is handled by the nightly
    :func:`rebuild_ann_index_if_oversized` retrain.

    ``assigned`` accepts a precomputed primary assignment (the
    ``__vid``/``__vec``/``cid`` frame of ``ivf_assign_auto(batch, 1)``)
    so a caller that already assigned the batch — the ingest-cadence
    dedup probe — doesn't pay the centroid scoring twice; pass the
    ``model_version`` the caller observed alongside it. The append
    validates the version UNDER the lock and re-assigns with the
    live model if a rebuild won the race — rows assigned under replaced
    centroids would otherwise land in cid dirs the new model never
    probes (silently unreachable history).

    The batch size is never counted by a separate job: an ``Observation``
    rides the write itself, so the metadata increment records exactly the
    rows the write landed — physical truth whatever the caller passed.
    With ``assigned`` the append also skips its own pre-materialization
    (the ingest gate hands over an already-checkpointed frame), so the
    write's cid-clustering shuffle is the only in-lock batch compute;
    pass a MATERIALIZED frame — a lazy one recomputes its whole upstream
    inside the critical section, serialized against every publisher.
    A fresh (no-``assigned``) batch still materializes OUTSIDE the lock
    for the shortest possible critical section.
    """
    if not batch_id:
        raise ValueError("batch_id must be a non-empty per-ingest identifier")
    spark = new_vectors.sparkSession

    def _fresh_assignment():
        model = _gen_model(spark, resolve_index(index_path))
        return ivf_assign_auto(
            new_vectors, model["centroids"], 1, id_col, vec_col,
            supers=model["supers"], children=model["children"],
        )

    def _project_plan(a):
        scale = quantize_scale(F.col("__vec"))
        r = a.select(
            F.col("__vid").alias("vec_id"),
            "cid",
            quantize_int8(F.col("__vec"), scale).alias("codes"),
            F.col("__vec").cast("array<float>").alias("vec"),
            F.lit(batch_id).alias("batch_id"),
        )
        # a handful of sequential files into the pending delta — never a
        # cid-partitioned write (one tiny file per touched cid per batch,
        # measured at 1.5-3s of in-lock time for an 8K batch vs ~0.3s;
        # compact_ann_index folds the delta into the clustered base)
        return r.coalesce(4)

    def _project(a):
        return _project_plan(a).localCheckpoint(eager=True)

    if assigned is None:
        # remember the model version BEFORE reading the centroids: if a
        # rebuild lands in between, the version comparison under the
        # lock errs on re-assigning (never on keeping a stale layout)
        expected_model_version = int(
            read_index_meta(index_path).get("model_version", 1)
        )
        # materialize OUTSIDE the lock (shortest possible critical
        # section); a caller-supplied `assigned` is contractually
        # already materialized, so its write-side shuffle is the only
        # in-lock compute either way
        rows = _project(_fresh_assignment())
    else:
        rows = _project_plan(assigned)
    with _index_lock(index_path):
        root = resolve_index(index_path)
        meta = read_index_meta(index_path)
        if meta.get("last_batch_id") == batch_id:
            # a retry of the append that completed last: its rows are
            # already in the index, landing them again would duplicate
            return meta
        live_version = int(meta.get("model_version", 1))
        if (
            expected_model_version is not None
            and live_version != expected_model_version
        ):
            # a rebuild replaced the model between our assignment and
            # this lock: re-assign under the live centroids (the rebuild
            # holds this same lock for its whole retrain, so the model
            # cannot change again while we hold it). Rare — costs one
            # extra assignment pass inside the critical section.
            rows = _project(_fresh_assignment())
        # appends land in the generation's PENDING delta (LSM shape; see
        # PENDING_DIR) — sequential files, no per-cid fanout, shortest
        # possible in-lock write
        target = os.path.join(root, PENDING_DIR)
        # the write job itself counts what it lands (no separate count()
        # job, and never a trusted caller-side number): the meta
        # increment below is the physical row count by construction.
        # Duplicate rows from a crashed-and-retried append inflate the
        # counter by exactly the duplicates that really exist in the
        # delta, so it stays equal to the physical count until
        # compact_ann_index re-derives it exactly.
        obs = Observation()
        rows.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "append"
        ).option("mergeSchema", "true").parquet(target)
        n_new = int(obs.get["n"])
        # read + increment + write stay inside the lock: a concurrent
        # append finishing between our append and the meta write would
        # otherwise have its increment overwritten
        meta["count"] = int(meta.get("count", 0)) + n_new
        # pending_count is the delta's physical size by the same
        # construction (every published generation resets it to 0; a
        # pre-upgrade meta missing the key undercounts until the next
        # fold — conservative: triggers late, never spuriously)
        meta["pending_count"] = int(meta.get("pending_count", 0)) + n_new
        meta["last_batch_id"] = batch_id
        atomic_write_json(os.path.join(root, "_index.json"), meta)
        # minor compaction, size-triggered, under the already-held lock:
        # the meta above is already durable, so a crash inside the fold
        # leaves a correct un-compacted index and the next trigger refires
        pend_n = meta["pending_count"]
        base_n = meta["count"] - pend_n
        if pend_n >= max(compact_min_rows, compact_fraction * base_n):
            meta = _compact_pending_locked(spark, index_path)
    return meta


def incremental_semantic_dups(
    spark: SparkSession,
    new_vectors: DataFrame,
    index_path: str,
    threshold: float = 0.95,
    *,
    batch_id: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 2,
    n_lists: int | None = None,
    spread: int | None = None,
    pin: bool = True,
    batch_rows: int | None = None,
) -> DataFrame:
    """Semantic near-dup detection of a NEW batch against the persisted
    ANN index AND within the batch, then append the batch to the index —
    SemDeDup's cluster-scoped pair semantics at INGEST cadence (the
    dedup_store pattern applied to embeddings: history is never
    re-embedded, re-assigned, or re-scored).

    Returns (doc_dup, neighbor_id, cosine_sim, vs) with vs ∈ {'history',
    'batch'}; ``doc_dup`` is always the NEW vector to drop (history wins;
    within the batch the lower id wins, matching
    :func:`~trialsync_etl_spark.operators.similarity.semdedup`).

    Scale shape: the batch assigns to the existing centroids (broadcast;
    two-level routing above TWO_LEVEL_MIN_CENTROIDS) and probes its
    ``n_probe`` nearest lists — history is scanned ONLY on the probed cid
    partitions (partition pruning), scored exactly against the stored
    full-precision vectors. Within-batch pairs are cluster-scoped on the
    primary (n_probe=1) assignment, exactly semdedup's bound. Like
    SemDeDup itself, a pair straddling clusters in BOTH stages is missed;
    ``n_probe`` buys history-side recall. The whole probe phase reads
    from ONE resolved generation, so the centroids that route the probe
    and the lists it prunes always belong to the same model.

    Every candidate pair is scored by the exact cosine fold, with no
    sketch filter in front: at ingest micro-batch sizes the gate is bound
    by fixed per-batch work, not pair scoring (a sign-sketch filter
    measured ~17% slower end to end; COVERAGE.md round 10).

    Replay-convergent: the history probe excludes rows tagged with the
    current ``batch_id``, so a crashed-and-retried ingest derives the
    same verdicts instead of pairing the batch with its own earlier
    partial append; duplicate appended rows are healed by
    :func:`compact_ann_index`. A missing (or empty) index dir bootstraps
    from this batch (``n_lists`` defaults to ~√N), emitting within-batch
    pairs only; a dir in a foreign layout raises ``ValueError`` (see
    :func:`resolve_index`).

    ``pin=False`` returns the verdicts LAZY (skipping one whole query
    execution per call — planning + an AQE job cascade, a measured slice
    of the ingest gate's small-batch floor). Only for callers that
    consume the frame exactly once, promptly: the scoring then runs at
    consumption time, after this call's own append — still correct (the
    probe excludes ``batch_id``-tagged rows, and the resolved generation
    survives at least one later publish) — but a caller that holds the
    frame across two index publishes scans retired files. ``batch_rows``
    passes a row count the caller already knows (the streaming sink's
    pin-job Observation) so the bootstrap's ~√N list sizing skips its
    own count query."""
    from trialsync_etl_spark.operators.similarity import dot, l2_norm

    if not batch_id:
        raise ValueError("batch_id must be a non-empty per-ingest identifier")

    def _exact_cos(qv, qn, nv, nn):
        # operands arrive PRE-CAST to array<double> (once per row in the
        # side projections) — casting here re-materialized each vector
        # once per candidate PAIR
        return F.round(
            dot(qv, nv) / F.nullif(qn * nn, F.lit(0.0)), 4
        )

    bootstrap = not os.path.exists(
        os.path.join(resolve_index(index_path), "centroids")
    )
    if bootstrap:
        import math

        n = batch_rows if batch_rows is not None else new_vectors.count()
        if n == 0:
            return spark.createDataFrame(
                [], "doc_dup long, neighbor_id long, cosine_sim double, vs string"
            )
        # batch_id TAGS the bootstrap rows: a crash between this build
        # and the return means the retry sees centroids and takes the
        # non-bootstrap path — its history probe must be able to exclude
        # this partial append, or every row pairs against its own earlier
        # copy as a spurious 'history' dup (replay-convergence contract)
        k = n_lists or max(4, int(math.sqrt(n)))
        # train k-means on a seeded sample when the batch is large: ~20
        # training points per centroid is plenty to SCOPE clusters (the
        # centroids only bound which pairs get scored — scoring itself is
        # always exact), and the full k-means was the dominant fixed cost
        # of the ingest gate's first micro-batch. None below the cutover
        # keeps small bootstraps exactly as before.
        frac = (20.0 * k) / n if n > 20 * k else None
        build_ann_index(
            new_vectors,
            index_path,
            n_lists=k,
            id_col=id_col,
            vec_col=vec_col,
            batch_id=batch_id,
            sample_fraction=frac,
            # the bootstrap is ONE micro-batch: land it as the pending
            # delta (~0.3s) instead of a k-way partitioned write
            # (1.5-2.3s measured) — the size-triggered / nightly
            # compaction re-clusters once the corpus warrants it
            clustered=False,
        )
    # resolve the generation ONCE for the whole probe phase, and read the
    # version from that RESOLVED directory — not via read_index_meta,
    # which would re-resolve the pointer: a rebuild publishing between
    # the two resolutions would pair the NEW version with the OLD
    # centroids, and the append's under-lock check would then wrongly
    # skip re-assignment (rows unreachable under the live model). Read
    # this way the version is from the same-or-older generation than the
    # centroids, so a mid-probe rebuild always errs on re-assigning.
    root = resolve_index(index_path)
    with open(os.path.join(root, "_index.json")) as f:
        model_version = int(json.load(f).get("model_version", 1))
    # immutable per-generation artifacts from the cache: centroids +
    # two-level routing pinned in memory, and the unified lists schema so
    # the history read below skips its per-batch mergeSchema footer job —
    # together ~0.5s of measured fixed cost per ingest micro-batch
    model = _gen_model(spark, root)
    # ONE ranked probe scores the batch against the centroids; rank 1 IS
    # the primary assignment (same window, same score/cid tiebreak as a
    # separate n_probe=1 call — float-identical), so the per-batch cost
    # is one centroid-scoring pass + one checkpoint instead of two of
    # each, and the append below reuses the same rank-1 rows instead of
    # scoring a third time.
    # AQE sizes the assignment's post-window shuffle by BYTES, so a
    # byte-small micro-batch coalesces to 1-2 tasks — but the pair
    # scoring below costs ~µs per candidate (interpreted array fold over
    # dim elements), so a narrow checkpoint serializes the quadratic
    # stage on one core (measured 2 tasks on local[32]). Declare the
    # width explicitly — the spread_for_cpu rationale applied after
    # the window, where the input's arrival width no longer survives.
    # ``spread`` lets a caller that KNOWS the batch size right-size it:
    # full-CPU width on a 500-row batch is ~200 task launches across the
    # batch's shuffle stages — pure scheduling, measured as a material
    # slice of the small-batch fixed cost (the ingest sink passes
    # ~rows/250 clamped to [4, defaultParallelism]).
    # The checkpoint job already touches every row — observe the
    # probed-cid set on it instead of paying a separate
    # `distinct().collect()` job per ingest batch
    obs = Observation()
    ranked = (
        ivf_assign_auto(
            new_vectors, model["centroids"], n_probe, id_col, vec_col,
            keep_rank=True, supers=model["supers"], children=model["children"],
        )
        .withColumn("__n", l2_norm(F.col("__vec").cast("array<double>")))
        .repartition(spread or spark.sparkContext.defaultParallelism)
        .observe(obs, F.collect_set("cid").alias("cids"))
        .localCheckpoint(eager=True)
    )

    def _nview(df):
        # __nv pre-cast to array<double> once per row: every consumer of
        # this view is a pair scorer (see _exact_cos)
        return df.select(
            F.col("__vid").alias("__nid"),
            F.col("__vec").cast("array<double>").alias("__nv"),
            "cid",
            F.col("__n").alias("__nn"),
        )

    primary = ranked.filter(F.col("__crank") == 1)
    assigned = _nview(primary)
    probes = _nview(ranked)

    pairs = []
    if not bootstrap:
        probed_cids = list(obs.get["cids"] or [])  # fired by the checkpoint
        hist = read_index_rows(
            spark, root, probed_cids, schema=model["lists_schema"]
        )
        hist = hist.filter(
            # NULL tags (a base built without a batch tag) are history
            ~F.col("batch_id").eqNullSafe(batch_id)
        ).select(
            F.col("vec_id").alias("neighbor_id"),
            "cid",
            # pre-cast once per history row (see _exact_cos)
            F.col("vec").cast("array<double>").alias("__hv"),
        ).withColumn("__hn", l2_norm(F.col("__hv")))
        vs_hist = (
            probes.join(hist, "cid")
            .filter(F.col("__nid") != F.col("neighbor_id"))
            .select(
                F.col("__nid").alias("doc_dup"),
                "neighbor_id",
                _exact_cos(
                    F.col("__nv"), F.col("__nn"), F.col("__hv"), F.col("__hn")
                ).alias("cosine_sim"),
                F.lit("history").alias("vs"),
            )
            # threshold BEFORE the duplicate-collapse: Catalyst cannot
            # push a predicate on a float group key through the
            # distinct's NaN-normalization, so filtering here is what
            # keeps the distinct's shuffle at O(survivors) instead of
            # O(candidate pairs) — measured as the dominant shuffle of a
            # steady ingest batch. filter∘distinct ≡ distinct∘filter for
            # this deterministic per-row predicate; the distinct itself
            # only collapses duplicate history copies a crashed append
            # left behind (vs identical scores — same rounded cosine).
            .filter(F.col("cosine_sim") >= threshold)
            .distinct()
        )
        pairs.append(vs_hist)

    a = assigned.select(
        F.col("__nid").alias("neighbor_id"),
        F.col("__nv").alias("__av"),
        "cid",
        F.col("__nn").alias("__an"),
    )
    vs_batch = (
        assigned.join(a, "cid")
        .filter(F.col("__nid") > F.col("neighbor_id"))
        .select(
            F.col("__nid").alias("doc_dup"),
            "neighbor_id",
            _exact_cos(
                F.col("__nv"), F.col("__nn"), F.col("__av"), F.col("__an")
            ).alias("cosine_sim"),
            F.lit("batch").alias("vs"),
        )
    )
    pairs.append(vs_batch)
    out = pairs[0]
    for p in pairs[1:]:
        out = out.unionByName(p)
    result = out.filter(F.col("cosine_sim") >= threshold)
    if pin:
        # pin the verdicts BEFORE the index mutates (cf.
        # incremental_dup_pairs) — the default, safe for callers that
        # hold the frame across later index mutations or consume it
        # more than once
        result = result.localCheckpoint(eager=True)
    if not bootstrap:
        append_to_ann_index(
            new_vectors, index_path, batch_id=batch_id,
            id_col=id_col, vec_col=vec_col,
            assigned=primary.select("__vid", "__vec", "cid"),
            expected_model_version=model_version,
        )
    return result


def compact_ann_index(spark: SparkSession, index_path: str) -> dict:
    """Maintenance after appends: FOLD the ``pending`` append delta into
    the cid-clustered base (appends land as sequential delta files — see
    ``PENDING_DIR`` — so until this fold every probe pays a full
    delta scan on top of its pruned base read), drop duplicate
    (vec_id, batch_id) rows a crashed-and-retried append may have left,
    unify the file schema (base rows carry no batch_id), and publish the
    result as a NEW generation under the SAME model — one atomic pointer
    swap with an EMPTY delta, uniform with every other non-append
    mutation.

    The listing, the rewrite, and the publish all happen under the index
    lock — reading before locking would let a concurrent append commit
    between the listing and the swap, and the swap would silently drop
    that batch's rows. The model tables are file-copied into the new
    generation (immutable per model — a byte copy is exact and avoids a
    Spark round-trip through the tiny frames).

    This same fold also runs as a size-triggered MINOR compaction from
    the append path itself (see :func:`append_to_ann_index`) — a
    scheduled-only fold would let a sustained high-rate ingest grow the
    delta's unpruned probe scan all day between nightly runs."""
    with _index_lock(index_path):
        return _compact_pending_locked(spark, index_path)


def _compact_pending_locked(spark: SparkSession, index_path: str) -> dict:
    """Body of :func:`compact_ann_index`; the index lock MUST already be
    held (flock is per-open-fd, so re-acquiring here would deadlock the
    append path's in-lock minor compaction)."""
    root = resolve_index(index_path)
    lists = read_index_rows(spark, root)  # base + pending delta
    if "batch_id" not in lists.columns:
        lists = lists.withColumn("batch_id", F.lit(None).cast("string"))
    compacted = lists.dropDuplicates(["vec_id", "batch_id"]).repartition(
        F.col("cid")
    )
    gen = os.path.join(index_path, "gen-" + uuid.uuid4().hex[:12])
    os.makedirs(gen)
    for t in ("centroids", "supers", "children"):
        src = os.path.join(root, t)
        if os.path.exists(src):
            shutil.copytree(os.path.realpath(src), os.path.join(gen, t))
    # the count rides the rewrite (no read-back pass): this fold also
    # runs as the append path's in-lock minor compaction, where an extra
    # full-scan job would stretch the critical section
    obs = Observation()
    compacted.observe(obs, F.count(F.lit(1)).alias("n")).write.partitionBy(
        "cid"
    ).parquet(os.path.join(gen, "lists"))
    meta = read_index_meta(index_path)
    meta["count"] = int(obs.get["n"])
    meta["pending_count"] = 0  # the published generation's delta is empty
    atomic_write_json(os.path.join(gen, "_index.json"), meta)
    _swap_generation_locked(index_path, gen)
    return meta


def rebuild_ann_index_if_oversized(
    spark: SparkSession, index_path: str, growth_factor: float = 4.0
) -> dict:
    """Maintenance retrain for centroid drift — the missing half of the
    append story: sustained appends grow the lists while the centroid
    count stays fixed, so per-probe work (~avg list size) drifts away
    from the √N balance and the cluster-scoped dedup scoring degrades
    quadratically. When the balanced count √N exceeds
    ``growth_factor × n_lists`` (i.e. lists average ``growth_factor``×
    their balanced size), retrain at √N lists and republish.

    Concurrency contract: the WHOLE snapshot-retrain-republish holds the
    index lock, and the republish bumps ``model_version`` — an append
    that assigned under the old centroids detects the bump under the
    same lock and re-assigns (see :func:`append_to_ann_index`), so no
    rows land in cid dirs the new model never probes. The retrain
    publishes a complete new GENERATION with one pointer swap: lock-free
    readers see either the old model+lists or the new pair, never new
    centroids over old lists — and a crash anywhere before the swap
    leaves the old generation live and complete (the oversize condition
    simply re-fires at the next nightly run).

    Returns the metadata dict plus ``rebuilt``; cheap no-op (one meta
    read) while the index is within balance."""
    import math

    from pyspark.sql import Window

    def _within_balance(m: dict) -> bool:
        n = int(m.get("count", 0))
        k = max(1, int(m.get("n_lists", 1)))
        return max(4, int(math.sqrt(max(n, 1)))) <= growth_factor * k

    meta = read_index_meta(index_path)
    if _within_balance(meta):  # lock-free fast path for the nightly no-op
        return {**meta, "rebuilt": False}
    with _index_lock(index_path):
        # re-read UNDER the lock: the pre-lock meta may predate a rebuild
        # that just released this lock. Publishing stale_version+1 would
        # collide with that rebuild's version, letting an appender that
        # assigned under the first model pass the under-lock version
        # check and append unreachable rows — the exact hole
        # model_version exists to close. The re-check also skips a
        # redundant back-to-back retrain the winner already did.
        meta = read_index_meta(index_path)
        if _within_balance(meta):
            return {**meta, "rebuilt": False}
        root = resolve_index(index_path)
        # snapshot UNDER the lock: every append is either fully in this
        # snapshot (base lists + pending delta) or blocked until the new
        # model is live (and will then re-assign against it) — nothing
        # can fall between
        snap = read_index_rows(spark, root)
        if "batch_id" not in snap.columns:
            snap = snap.withColumn("batch_id", F.lit(None).cast("string"))
        # one row per vec_id, picked DETERMINISTICALLY: the max batch_id
        # (tagged appends are newer than the untagged base build, so the
        # newest embedding and its replay-exclusion tag survive a
        # re-ingest; the embedding hash breaks a same-tag tie) — a bare
        # dropDuplicates(vec_id) let Spark pick an arbitrary copy, so a
        # re-ingested vector could survive the retrain with the STALE
        # embedding and an arbitrary tag. "Newest" is STRING-max: the
        # append contract requires lexicographically monotonic batch ids
        # (see append_to_ann_index) — 'b9' > 'b10' would invert this
        w = Window.partitionBy("vec_id").orderBy(
            F.col("batch_id").desc_nulls_last(),
            F.hash(F.col("embedding")).asc(),
        )
        snap = (
            snap.select(
                "vec_id", F.col("vec").alias("embedding"), "batch_id"
            )
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .localCheckpoint(eager=True)
        )
        n = snap.count()
        target = max(4, int(math.sqrt(max(n, 1))))
        meta = _publish_model_and_lists(
            snap.select("vec_id", "embedding"),
            index_path,
            target,
            "vec_id",
            "embedding",
            centroids=None,
            sample_fraction=None,
            batch_id=None,
            model_version=int(meta.get("model_version", 1)) + 1,
            lists_already_locked=True,
            # replay-exclusion tags survive the retrain: a crashed batch
            # retried AFTER a rebuild must still be able to exclude its
            # own earlier partial append from the history probe
            row_tags=snap.select("vec_id", "batch_id"),
        )
    return {**meta, "rebuilt": True}
