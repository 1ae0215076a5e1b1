"""Embedding similarity search over `array<float>` columns.

Brute-force cosine top-k as the exact baseline, and an LSH-bucketed
(random-hyperplane) variant as the 100 TB scale path. Dot products are
JVM-side `aggregate`/`zip_with` expressions — no Python in the hot loop.

Scale notes: brute force is O(Q×N) — fine when the query side is small and
broadcast; the LSH path buckets both sides on a b-bit sign signature so the
join fans out only within buckets (expected N/2^b candidates per query),
then re-ranks exactly. Skewed buckets (a hot sign-signature) are handled
by AQE skew-join — pinned by a hot-bucket fixture test
(`test_lsh_topk_hot_bucket_skew_is_aqe_handled`: the adaptive plan marks
the bucket join ``skew=true`` and results stay exact); `operators.skew`
(salted join/agg) is the manual fallback where AQE is unavailable.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / F.nullif(l2_norm(a) * l2_norm(b), F.lit(0.0))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query side against the
    corpus, per-query row_number over similarity.

    Norms and float→double casts are hoisted to the per-row projections
    (float-identical — same fold ops, same order, computed once per row
    instead of once per PAIR: inline ``cosine`` paid 2 array casts + 3
    folds per (query, neighbor) pair; this shape pays 1 dot fold)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qvec"),
    ).withColumn("__qn", l2_norm(F.col("__qvec")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__cvec"),
    ).withColumn("__cn", l2_norm(F.col("__cvec")))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("__qvec"), F.col("__cvec"))
                / F.nullif(F.col("__qn") * F.col("__cn"), F.lit(0.0))
            ).alias("cosine_sim"),
        )
    )
    # rank on the ROUNDED similarity: raw doubles can differ by 1 ulp
    # across engines/summation orders, flipping near-tied ranks; at 4dp the
    # ordering is deterministic with neighbor_id as the tiebreak
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cosine_sim"), 4).desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine_sim", 4).alias("cosine_sim"))
    )


@functools.lru_cache(maxsize=4096)
def hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane components derived from md5 —
    reproducible on any engine (oracle parity), no RNG state. Cached: a
    plan that is rebuilt per call would otherwise recompute ``dim`` md5
    digests per plane every time."""
    import hashlib

    comps = []
    for i in range(dim):
        h = hashlib.md5(f"plane_{plane}_dim_{i}".encode()).hexdigest()
        comps.append((int(h[:8], 16) % 2001 - 1000) / 1000.0)
    return comps


def lsh_signature(vec: Column, dim: int, n_planes: int = 8) -> Column:
    """Sign-of-dot-product bit signature packed into a BIGINT bucket id."""
    sig = F.lit(0).cast("bigint")
    for p in range(n_planes):
        plane = hyperplane(dim, p)
        d = F.aggregate(
            F.zip_with(
                vec.cast("array<double>"),
                F.array(*[F.lit(c) for c in plane]),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig = sig * 2 + F.when(d >= 0, 1).otherwise(0)
    return sig


def _rank1_agg(scored: DataFrame) -> DataFrame:
    """Rank-1 selection for the ``n_probe=1, keep_rank=False`` assignment
    shape as ONE partial-aggregable hash aggregation instead of a window:
    ``min`` over ``struct(coalesce(-__csim, +inf), cid, __vec)``.
    Ascending struct order equals the window's (__csim DESC nulls-last,
    cid ASC): negating the score turns DESC into ASC (including the
    -0.0/0.0 total order), NULL scores coalesce to +inf so they rank LAST
    exactly like the window's DESC nulls-last, and (neg, cid) is unique
    per vector (cid is a key), so ``__vec`` rides the struct but is never
    compared. NaN embeddings are OUTSIDE the contract: a NaN ``__csim`` sorts FIRST
    under the window's DESC (NaN is greatest) but LAST under this
    ``min(struct(-csim, ...))`` (NaN negates to NaN, still greatest), so
    NaN-scored candidates would diverge between the aggregation route
    and the ranked/multi-probe window route — no caller feeds NaN
    vectors (test-pinned fixtures are finite), and the routes are only
    interchangeable under that precondition.

    Why it matters: the window shape shuffles the FULL scored relation —
    every (vector, centroid) row, each carrying the vector payload, K
    copies per vector — then sorts it. Map-side partial aggregation
    collapses each vector's K candidates to one best-struct before the
    exchange, so exactly one row per vector crosses (guide §2.3:
    aggregate before you shuffle)."""
    best = F.min(
        F.struct(
            F.coalesce(-F.col("__csim"), F.lit(float("inf"))).alias("__neg"),
            F.col("cid").alias("cid"),
            F.col("__vec").alias("__vec"),
        )
    ).alias("__best")
    return (
        scored.groupBy("__vid")
        .agg(best)
        .select(
            "__vid",
            F.col("__best.__vec").alias("__vec"),
            F.col("__best.cid").alias("cid"),
        )
    )


def _topn_window(scored: DataFrame, n_probe: int, keep_rank: bool) -> DataFrame:
    """Top-``n_probe`` selection via the window — the ranked/multi-probe
    shapes (query probes, two-level super-routing) keep it. A
    collect_list + array_sort + posexplode aggregation twin (the
    :func:`_rank1_agg` struct ordering, vector carried once via
    any_value) was built and MEASURED SLOWER here — 1.04/1.08/1.29×
    interleaved at 200K vectors × 64 candidates × n_probe=2:
    collect_list is a TypedImperativeAggregate (object buffers,
    serialized partials, no codegen), and its buffer/sort/explode CPU
    exceeds the window's codegen'd sort at the √K-wide candidate sets
    these shapes see, despite shuffling ~10× fewer bytes — so the window
    stays (guide §1.1: the "ideal" plan lost the empirical loop)."""
    w = Window.partitionBy("__vid").orderBy(
        F.col("__csim").desc(), F.col("cid").asc()
    )
    ranked = scored.withColumn("__crank", F.row_number().over(w)).filter(
        F.col("__crank") <= n_probe
    )
    cols = ["__vid", "__vec", "cid"] + (["__crank"] if keep_rank else [])
    return ranked.select(*cols)


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_rank: bool = False,
) -> DataFrame:
    """IVF list assignment: each vector joins its ``n_probe`` nearest
    centroids (corpus uses n_probe=1 — its inverted list; queries probe
    several). Centroids are a small broadcast frame (cid, cvec).

    The dominant ``n_probe=1, keep_rank=False`` corpus shape routes
    through :func:`_rank1_agg` (min-struct aggregation with map-side
    partial agg — one row per vector crosses the exchange); ranked and
    multi-probe shapes keep the window via :func:`_topn_window` (an
    aggregation twin was measured slower there — see its docstring).

    ``keep_rank`` also emits the 1-based ``__crank`` nearness rank, so a
    caller needing BOTH the primary assignment and the probe set computes
    one ranked probe and filters ``__crank == 1`` — float-identical to a
    second n_probe=1 call (same window, same ordering) at half the
    scoring cost.

    NOTE: deriving EXTRA per-vector expressions inside the ``v``
    projection below (a former ``carry`` hook) looks free but trips
    Spark's Union constraint rewrite ("key not found: <attr>") when the
    input is a self-union — consumers compute derived columns on the
    assignment OUTPUT instead (see ann_store's ``__n`` norm column)."""
    # hoist the norms AND the float→double array casts out of the
    # per-pair expression: cosine(v, c) inline would recompute ||v|| once
    # per CENTROID and ||c|| once per VECTOR — 3 array folds per pair
    # instead of 1 — and casting inside the dot re-materialized each
    # vector array once per (vector, centroid) PAIR (N×K copies). Both
    # hoists are float-identical (same ops, same order, just earlier), so
    # oracle parity is preserved while the probe does a single dot fold
    # per pair over pre-cast arrays. ``__vec`` keeps its original type —
    # the cast rides an internal extra column, never the output contract.
    v = vectors.select(
        F.col(id_col).alias("__vid"),
        F.col(vec_col).alias("__vec"),
        F.col(vec_col).cast("array<double>").alias("__vecd"),
    ).withColumn("__vn", l2_norm(F.col("__vecd")))
    c = centroids.select(
        "cid", F.col("cvec").cast("array<double>").alias("__cvd")
    ).withColumn("__cn", l2_norm(F.col("__cvd")))
    scored = F.broadcast(c).crossJoin(v).select(
        "__vid",
        "__vec",
        "cid",
        (
            dot(F.col("__vecd"), F.col("__cvd"))
            / F.nullif(F.col("__vn") * F.col("__cn"), F.lit(0.0))
        ).alias("__csim"),
    )
    if n_probe == 1 and not keep_rank:
        return _rank1_agg(scored)
    return _topn_window(scored, n_probe, keep_rank)


#: centroid count above which :func:`ivf_assign_auto` switches from the
#: flat broadcast probe to the two-level (super-centroid) probe. Flat
#: assignment is O(N·K) dot products with a K-row broadcast — the textbook
#: FAISS-flat shape, cheapest while K is small. Past ~this K the two-level
#: probe's O(N·(√K·super_probe + children)) wins and the broadcast stays
#: √K-sized. Every oracle-pinned parity query uses K below this, so auto
#: is flat-identical where DuckDB replays the assignment.
TWO_LEVEL_MIN_CENTROIDS = 128


def super_centroids(
    centroids: DataFrame, n_super: int | None = None, seed: int = 7
) -> tuple[DataFrame, DataFrame]:
    """Group K centroids under ~√K super-centroids for two-level IVF
    assignment: k-means over the CENTROIDS (K rows — driver-cheap, seeded)
    yields the supers; each centroid then maps to its nearest super via
    the same flat probe it will later route.

    Returns ``(supers, children)``: supers is (sid, svec); children is the
    centroid frame annotated with its super — (cid, cvec, sid). Both are
    tiny and broadcast by consumers."""
    k = centroids.count()
    if n_super is None:
        import math

        n_super = max(2, int(round(math.sqrt(k))))
    supers = kmeans_centroids(
        centroids.select(F.col("cvec").alias("embedding")), n_super, seed=seed
    ).select(F.col("cid").alias("sid"), F.col("cvec").alias("svec"))
    mapping = ivf_assign(
        centroids.select(F.col("cid").alias("vec_id"), F.col("cvec").alias("embedding")),
        supers.select(F.col("sid").alias("cid"), F.col("svec").alias("cvec")),
        n_probe=1,
    ).select(F.col("__vid").alias("cid"), F.col("cid").alias("sid"))
    children = centroids.join(mapping, "cid")
    return supers, children


def ivf_assign_two_level(
    vectors: DataFrame,
    centroids: DataFrame,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    super_probe: int = 2,
    seed: int = 7,
    keep_rank: bool = False,
    supers: DataFrame | None = None,
    children: DataFrame | None = None,
) -> DataFrame:
    """Two-level IVF assignment — the corpus-scale answer to flat
    assignment's O(N·K) cost (the r5 watch item): score each vector
    against ~√K broadcast super-centroids, keep its ``super_probe``
    nearest supers, then score only THOSE supers' children. Work per
    vector is O(√K·(1 + super_probe)) instead of O(K), and the broadcast
    is √K rows instead of K — at 10⁹ vectors × 10⁵ centroids that is the
    difference between 10¹⁴ and ~10⁹·10³ dot products.

    Same output contract as :func:`ivf_assign` (``__vid``, ``__vec``,
    ``cid``; same score/tiebreak ordering). Approximate: a vector whose
    true nearest centroid lives under an unprobed super can land one list
    over — ``super_probe=2`` keeps observed recall ≥0.95 on the unit
    fixture; raise it for tighter parity with flat.

    ``supers``/``children`` accept a PRECOMPUTED grouping (the
    :func:`super_centroids` pair, e.g. persisted alongside an ANN index):
    deriving it here costs a k-means over the centroids PER CALL (~3s of
    MLlib job overhead measured on 179 centroids) — fine for one-shot
    batch queries, pure waste at ingest cadence where the centroid model
    is fixed between rebuilds."""
    if (supers is None) != (children is None):
        raise ValueError("pass supers and children together, or neither")
    if supers is None:
        supers, children = super_centroids(centroids, seed=seed)
    routed = ivf_assign(
        vectors,
        supers.select(F.col("sid").alias("cid"), F.col("svec").alias("cvec")),
        n_probe=super_probe,
        id_col=id_col,
        vec_col=vec_col,
    ).select("__vid", "__vec", F.col("cid").alias("sid"))
    # per-pair cast hoist (same as ivf_assign): pre-cast both sides'
    # arrays once per row instead of once per (vector, child) pair
    kids = F.broadcast(
        children.select(
            "sid", "cid",
            F.col("cvec").cast("array<double>").alias("__kvec"),
        ).withColumn("__kn", l2_norm(F.col("__kvec")))
    )
    scored = routed.withColumn(
        "__vecd", F.col("__vec").cast("array<double>")
    ).withColumn(
        "__vn", l2_norm(F.col("__vecd"))
    ).join(kids, "sid").select(
        "__vid",
        "__vec",
        "cid",
        (
            dot(F.col("__vecd"), F.col("__kvec"))
            / F.nullif(F.col("__vn") * F.col("__kn"), F.lit(0.0))
        ).alias("__csim"),
    )
    if n_probe == 1 and not keep_rank:
        return _rank1_agg(scored)
    return _topn_window(scored, n_probe, keep_rank)


def ivf_assign_auto(
    vectors: DataFrame,
    centroids: DataFrame,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    super_probe: int = 2,
    keep_rank: bool = False,
    supers: DataFrame | None = None,
    children: DataFrame | None = None,
) -> DataFrame:
    """Flat assignment below :data:`TWO_LEVEL_MIN_CENTROIDS` centroids
    (exact, flat-identical to every DuckDB-replayed parity oracle),
    two-level above it (the scale path). The centroid count comes from a
    count() on the tiny centroid frame — one cheap job, never a corpus
    scan. A precomputed ``supers``/``children`` pair is forwarded to the
    two-level path (and ignored on the flat one)."""
    if centroids.count() < TWO_LEVEL_MIN_CENTROIDS:
        return ivf_assign(
            vectors, centroids, n_probe, id_col, vec_col, keep_rank=keep_rank
        )
    return ivf_assign_two_level(
        vectors,
        centroids,
        n_probe,
        id_col,
        vec_col,
        super_probe=super_probe,
        keep_rank=keep_rank,
        supers=supers,
        children=children,
    )


#: training sets that fit the driver-local byte budget below run a seeded
#: Lloyd loop instead of MLlib: distributed k-means costs ~15-20 Spark JOBS
#: (init passes + one per iteration), measured at 2-4s of pure scheduling
#: for a micro-batch-sized input — the dominant cost of the streaming
#: gate's bootstrap build. The local row cutover is rows × dim AWARE —
#: ``budget_bytes // (dim × 8)`` capped at this row count — so a 1536-dim
#: embedding table cuts over to MLlib around ~8K rows instead of hauling
#: hundreds of MB of doubles to the driver; the transfer itself is
#: Arrow-batched (`toPandas`), never a Python-object Row collect. The n×k
#: distance matrix is computed with the |a-b|² = |a|²+|b|²-2a·b
#: factorization (never an n×k×dim broadcast). At 100 TB the TRAINING set
#: is still this small — you train on a sample (`sample_fraction`) and
#: assign the full corpus distributed.
KMEANS_LOCAL_MAX_ROWS = 100_000

#: raw-double budget for the driver-local path (the numpy matrix it
#: becomes): 100 MB ⇒ ~100K rows at dim 128, ~8K rows at dim 1536.
KMEANS_LOCAL_BUDGET_BYTES = 100 * 1024 * 1024


def _lloyd_means(mat, assign, dists, k: int):
    """One Lloyd mean-update: per-cluster means, with each EMPTY cluster
    re-seeded from a DISTINCT farthest point (descending order of
    distance-to-assigned-center). A single shared argmax would hand
    every simultaneously-empty cluster the SAME point — duplicate
    centroids, i.e. dead IVF lists (the cid tiebreak routes all their
    members to the lower duplicate)."""
    import numpy as np

    n = mat.shape[0]
    new = np.empty((k, mat.shape[1]), dtype=np.float64)
    far_order = None
    n_reseeded = 0
    for j in range(k):
        members = assign == j
        if members.any():
            new[j] = mat[members].mean(axis=0)
        else:
            if far_order is None:
                far_order = np.argsort(dists.min(axis=1))[::-1]
            new[j] = mat[int(far_order[n_reseeded % n])]
            n_reseeded += 1
    return new


def _lloyd_local(mat, k: int, max_iters: int, seed: int, n_init: int = 4):
    """Seeded k-means++ init + Lloyd on a driver-local matrix, best of
    ``n_init`` restarts by inertia (the sklearn discipline — one draw of
    k-means++ can land a boundary badly; restarts cost microseconds at
    this scale and buy back the quality MLlib's k-means|| init gets from
    its oversampling). Deterministic for a fixed (input order, seed).
    Empty clusters are re-seeded from the points farthest from their
    assigned centers — a DISTINCT point per empty cluster, so several
    clusters emptying in one iteration never collapse to duplicates."""
    import numpy as np

    n = mat.shape[0]
    k = min(k, n)
    sq = (mat ** 2).sum(axis=1)

    # greedy k-means++ (sklearn's init): per step, D²-sample several
    # candidates and keep the one that lowers total potential most —
    # measurably better-spread centers than single-draw k-means++ on
    # near-uniform data, the geometry where init quality shows up as
    # IVF recall
    n_candidates = 2 + int(np.log(max(k, 2)))

    def one_run(run_seed: int):
        rng = np.random.default_rng(run_seed)
        centers = np.empty((k, mat.shape[1]), dtype=np.float64)
        centers[0] = mat[int(rng.integers(n))]
        d2 = ((mat - centers[0]) ** 2).sum(axis=1)
        for i in range(1, k):
            tot = float(d2.sum())
            if tot <= 0.0:  # all points identical: duplicate the center
                centers[i:] = centers[0]
                break
            cand_idx = rng.choice(n, size=n_candidates, p=d2 / tot)
            best_j, best_d2 = None, None
            for j in cand_idx:
                nd2 = np.minimum(d2, ((mat - mat[int(j)]) ** 2).sum(axis=1))
                s = float(nd2.sum())
                if best_j is None or s < best_d2[0]:
                    best_j, best_d2 = int(j), (s, nd2)
            centers[i] = mat[best_j]
            d2 = best_d2[1]
        dists = None
        for _ in range(max_iters):
            dists = sq[:, None] + (centers ** 2).sum(axis=1)[None, :] \
                - 2.0 * (mat @ centers.T)
            assign = dists.argmin(axis=1)
            new = _lloyd_means(mat, assign, dists, k)
            if np.allclose(new, centers, rtol=0.0, atol=1e-9):
                centers = new
                break
            centers = new
        dists = sq[:, None] + (centers ** 2).sum(axis=1)[None, :] \
            - 2.0 * (mat @ centers.T)
        return float(dists.min(axis=1).sum()), centers

    best_inertia, best = None, None
    for r in range(n_init):
        inertia, centers = one_run(seed + 1000003 * r)
        if best_inertia is None or inertia < best_inertia:
            best_inertia, best = inertia, centers
    return best


def kmeans_centroids(
    vectors: DataFrame,
    k: int,
    vec_col: str = "embedding",
    max_iters: int = 20,
    seed: int = 7,
    sample_fraction: float | None = None,
) -> DataFrame:
    """Train IVF centroids (k-means) and return them in the (cid, cvec)
    shape `ivf_topk` consumes.

    This is the production centroid feeder the IVF docstring promises: at
    100 TB you train on a sample (``sample_fraction``; seeded, so the model
    is reproducible) — k-means cost is O(sample × k × iters) and the
    resulting lists index the FULL corpus via `ivf_assign`. ~sqrt(N)
    centroids keeps list sizes ~sqrt(N).

    Training sets inside the driver byte budget (rows × dim scaled — see
    :data:`KMEANS_LOCAL_MAX_ROWS` / :data:`KMEANS_LOCAL_BUDGET_BYTES`) run
    a driver-local seeded Lloyd loop (the streaming gate's bootstrap was
    paying seconds of MLlib job scheduling per micro-batch-sized fit);
    larger sets use distributed MLlib k-means.
    Both are Lloyd with seeded init, deterministic per (path, seed) —
    the centroids differ between paths, as they already do between MLlib
    versions, which is why parity queries pin stride-sampled centroids
    instead (a DuckDB oracle cannot re-run either trainer)."""
    train = vectors.select(F.col(vec_col).cast("array<double>").alias("__tv"))
    if sample_fraction is not None:
        train = train.sample(fraction=sample_fraction, seed=seed)
    spark = vectors.sparkSession
    # dim-aware cutover: probe the vector width first (one 1-row job),
    # then size the local-path row cap so the driver matrix stays inside
    # KMEANS_LOCAL_BUDGET_BYTES regardless of embedding dim — a 1536-dim
    # table must NOT haul 100K rows of doubles to the driver. The bounded
    # probe collect (+1 row as the "too big" signal) rides Arrow
    # (toPandas), so the transfer is columnar batches, never a Python
    # Row/float object per value.
    probe = train.limit(1).collect()
    if not probe:
        raise ValueError("kmeans_centroids: empty training set")
    dim = len(probe[0][0]) if probe[0][0] is not None else 0
    local_max = min(
        KMEANS_LOCAL_MAX_ROWS, KMEANS_LOCAL_BUDGET_BYTES // (max(dim, 1) * 8)
    )
    head = train.limit(local_max + 1).toPandas()["__tv"]
    if len(head) <= local_max:
        import numpy as np

        mat = np.stack([np.asarray(v, dtype=np.float64) for v in head])
        centers = _lloyd_local(mat, k, max_iters, seed)
    else:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        model = KMeans(k=k, maxIter=max_iters, seed=seed).fit(
            train.select(array_to_vector(F.col("__tv")).alias("features"))
        )
        centers = model.clusterCenters()
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
        "cid int, cvec array<double>",
    )
    # tiny frame (k rows) — consumers broadcast it
    out = cdf.select("cid", F.col("cvec").cast("array<float>").alias("cvec"))
    # the trained center count is known DRIVER-LOCALLY (len(centers));
    # publish it on the frame so the index build skips a count() job —
    # the ingest gate's bootstrap pays every such job inside its first
    # micro-batch (measured fixed cost). The frame is also a local
    # literal relation: no external lineage, so no checkpoint needed.
    out._trained_k = len(centers)  # type: ignore[attr-defined]
    return out


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """IVF-style ANN: corpus vectors live in the inverted list of their
    nearest centroid; a query probes its ``n_probe`` nearest lists and
    re-ranks exactly within them. vs LSH: recall degrades gracefully with
    data geometry instead of bit-signature granularity, and list sizes are
    balanceable by picking centroid counts (~sqrt(N) lists at scale).

    `centroids` is (cid, cvec) — in production the output of
    :func:`kmeans_centroids` (distributed, sampled, seeded); any
    deterministic representative set works (the parity query uses a
    stride sample so its DuckDB oracle can recompute assignments).
    """
    # per-pair → per-row hoist (cosine_topk note): cast + norm once per
    # assigned row on each side, one dot fold per candidate pair
    corpus_assigned = ivf_assign_auto(corpus, centroids, 1, id_col, vec_col).select(
        F.col("__vid").alias("neighbor_id"),
        F.col("__vec").cast("array<double>").alias("__cvec"),
        "cid",
    ).withColumn("__cn", l2_norm(F.col("__cvec")))
    query_probes = ivf_assign_auto(queries, centroids, n_probe, id_col, vec_col).select(
        F.col("__vid").alias("query_id"),
        F.col("__vec").cast("array<double>").alias("__qvec"),
        "cid",
    ).withColumn("__qn", l2_norm(F.col("__qvec")))
    scored = (
        query_probes.join(corpus_assigned, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("__qvec"), F.col("__cvec"))
                / F.nullif(F.col("__qn") * F.col("__cn"), F.lit(0.0))
            ).alias("cosine_sim"),
        )
        .groupBy("query_id", "neighbor_id")  # probes may overlap → dedup
        .agg(F.max("cosine_sim").alias("cosine_sim"))
    )
    # rank on the ROUNDED similarity: raw doubles can differ by 1 ulp
    # across engines/summation orders, flipping near-tied ranks; at 4dp the
    # ordering is deterministic with neighbor_id as the tiebreak
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cosine_sim"), 4).desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine_sim", 4).alias("cosine_sim"))
    )


def embedding_dup_pairs(
    vectors: DataFrame,
    dim: int,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate detection: LSH self-join (same sign
    signature ⇒ candidate), exact cosine filter at ``threshold``. The
    linear-scale dedup path for embedding stores — candidates only within
    buckets, never the O(N²) cross join."""
    # per-pair → per-row hoist (cosine_topk note): cast + norm once per
    # signature row, one dot fold per bucket-candidate pair
    sigs = vectors.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__vec"),
        lsh_signature(F.col(vec_col), dim, n_planes).alias("__bucket"),
    ).withColumn("__n", l2_norm(F.col("__vec")))
    a = sigs.select(
        F.col("__id").alias("id_a"), F.col("__vec").alias("__va"),
        F.col("__n").alias("__na"), "__bucket",
    )
    b = sigs.select(
        F.col("__id").alias("id_b"), F.col("__vec").alias("__vb"),
        F.col("__n").alias("__nb"), "__bucket",
    )
    return (
        a.join(b, "__bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("__va"), F.col("__vb"))
                / F.nullif(F.col("__na") * F.col("__nb"), F.lit(0.0)),
                4,
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def semdedup(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-scoped semantic dedup (SemDeDup, Abbas et al. 2023,
    arXiv:2303.09540): assign every vector to its nearest centroid
    (broadcast k-means/IVF centroids), then WITHIN each cluster drop any
    row whose cluster holds a lower-id row with cosine ≥ ``threshold``.
    Returns the kept rows — original ``corpus`` columns plus the assigned
    ``cid``.

    Keep-first greedy, not connected components: a row is dropped on ANY
    qualifying lower-id neighbor, even one that is itself dropped — the
    deterministic rule both this plan and the DuckDB oracle replay exactly.

    Scale shape: pairs are only formed inside a cluster, so the self-join
    costs Σ cluster_size² — with ~√N centroids (`kmeans_centroids`) that is
    ~O(N^1.5 / N^0.5) per list, never the corpus-quadratic cross join; the
    cid equi-join shuffles once and AQE handles oversized clusters the same
    way it handles hot LSH buckets."""
    from trialsync_etl_spark.cache import track_persist

    # assignment is referenced 3x (both self-join sides + the kept base);
    # without the persist each reference re-scans the corpus and re-runs
    # the centroid probe — 5 extra full scans in the physical plan.
    # ivf_assign_auto: flat probe below TWO_LEVEL_MIN_CENTROIDS (exact,
    # what the parity oracle replays), two-level super-centroid routing
    # above it (the O(N·√K) scale path)
    assigned = track_persist(
        ivf_assign_auto(corpus, centroids, 1, id_col, vec_col).persist()
    )
    # norms hoisted to once-per-row (see ivf_assign), and the float→
    # double array cast hoisted with them: casting inside the pair
    # predicate re-materialized each vector once per PAIR (Σ cluster²
    # array copies); cast in the per-row projection it happens once per
    # row per side, and the join's dot fold reads the pre-cast arrays.
    # Bit-identical scores — the cast commutes with the join.
    a = assigned.select(
        F.col("__vid").alias("__id_a"),
        F.col("__vec").cast("array<double>").alias("__va"),
        "cid",
    ).withColumn("__na", l2_norm(F.col("__va")))
    b = assigned.select(
        F.col("__vid").alias("__id_b"),
        F.col("__vec").cast("array<double>").alias("__vb"),
        "cid",
    ).withColumn("__nb", l2_norm(F.col("__vb")))
    dropped = (
        a.join(b, "cid")
        .filter(F.col("__id_a") > F.col("__id_b"))
        .filter(
            F.round(
                dot(F.col("__va"), F.col("__vb"))
                / F.nullif(F.col("__na") * F.col("__nb"), F.lit(0.0)),
                4,
            )
            >= F.lit(threshold)
        )
        .select(F.col("__id_a").alias(id_col))
        .distinct()
    )
    # the dropped set is the duplicate MINORITY of the corpus — broadcast
    # it so the anti join never shuffles its big side (guide §3.1): the
    # kept-row derivation becomes a broadcast hash anti probe instead of
    # two sort-merge exchanges on id.
    dropped = F.broadcast(dropped)
    if set(corpus.columns) == {id_col, vec_col}:
        # bare (id, vec) corpus — both callers' shape: every output
        # column already rides the persisted assignment (``__vec`` keeps
        # the original values/type, see ivf_assign), so the final
        # re-attach join — a full corpus shuffle by id at scale, just to
        # recover columns the assignment carried all along — disappears
        # entirely. Ids identify rows by the operator's contract (the
        # keep-lowest-id rule presupposes it); carrying EXTRA corpus
        # columns through the assignment itself was tried and reverted
        # (self-union inputs trip Spark's Union constraint rewrite — see
        # the ivf_assign NOTE), which is why wider corpora keep the
        # re-attach below.
        return assigned.select(
            F.col("__vid").alias(id_col),
            F.col("__vec").alias(vec_col),
            "cid",
        ).join(dropped, id_col, "left_anti")
    kept = assigned.select(F.col("__vid").alias(id_col), "cid").join(
        dropped, id_col, "left_anti"
    )
    return corpus.join(kept, id_col, "inner")


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
) -> DataFrame:
    """ANN: bucket both sides by hyperplane signature, rank only within the
    query's bucket. Recall < 1 by design; the scale path for 100 TB."""
    # per-pair → per-row hoist (cosine_topk note): cast + norm once per
    # bucketed row on each side, one dot fold per in-bucket pair
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qvec"),
        lsh_signature(F.col(vec_col), dim, n_planes).alias("__bucket"),
    ).withColumn("__qn", l2_norm(F.col("__qvec")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__cvec"),
        lsh_signature(F.col(vec_col), dim, n_planes).alias("__bucket"),
    ).withColumn("__cn", l2_norm(F.col("__cvec")))
    scored = (
        q.join(c, "__bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("__qvec"), F.col("__cvec"))
                / F.nullif(F.col("__qn") * F.col("__cn"), F.lit(0.0))
            ).alias("cosine_sim"),
        )
    )
    # rank on the ROUNDED similarity: raw doubles can differ by 1 ulp
    # across engines/summation orders, flipping near-tied ranks; at 4dp the
    # ordering is deterministic with neighbor_id as the tiebreak
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cosine_sim"), 4).desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine_sim", 4).alias("cosine_sim"))
    )


# ---------------------------------------------------------------------------
# int8 quantization — the embedding-store footprint cut (beyond-reference)
# ---------------------------------------------------------------------------
def quantize_scale(vec: Column) -> Column:
    """Per-vector symmetric int8 scale: max|x| / 127 (NULL for all-zero
    vectors so downstream math nulls out instead of dividing by zero)."""
    return F.nullif(
        F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double")))), F.lit(0.0)
    ) / F.lit(127.0)


def quantize_int8(vec: Column, scale: Column) -> Column:
    """Quantize to int8 codes with floor(x/scale + 0.5) — floor is exact
    and engine-portable, unlike round(), whose half-way tie rule differs
    across engines. Codes live in [-127, 127]."""
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") / scale + F.lit(0.5)).cast("int")
    )


def dequantize(codes: Column, scale: Column) -> Column:
    return F.transform(codes, lambda q: q.cast("double") * scale)


def quantization_profile(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector quantization audit: the int8 code checksum and the max
    absolute reconstruction error — the accuracy/footprint tradeoff report
    for an embedding store (4 bytes → 1 byte per dim). Pure narrow map."""
    scale = quantize_scale(F.col(vec_col))
    codes = quantize_int8(F.col(vec_col), scale)
    err = F.array_max(
        F.zip_with(
            dequantize(codes, scale),
            F.col(vec_col),
            lambda d, x: F.abs(d - x.cast("double")),
        )
    )
    return emb.select(
        F.col(id_col),
        F.aggregate(codes, F.lit(0).cast("bigint"), lambda a, q: a + q).alias(
            "code_sum"
        ),
        F.round(scale, 6).alias("scale"),
        F.round(err, 6).alias("max_abs_err"),
    )


def quantized_store(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """The persisted ANN store shape: (id, scale, int8 codes) — 1 byte per
    dim instead of 4, which is the number that matters at 100 TB (the scan
    is IO-bound; a 4× smaller store is a 4× faster coarse pass)."""
    scale = quantize_scale(F.col(vec_col))
    return emb.select(
        F.col(id_col),
        scale.alias("scale"),
        quantize_int8(F.col(vec_col), scale).alias("codes"),
    )


def int8_code_norm(codes: Column) -> Column:
    """||codes|| — the corpus-side normalizer of the coarse score. A
    per-ROW quantity: consumers joining one codes row against many
    queries should compute it once in the corpus-side projection and
    hand it to :func:`int8_coarse_score`, not pay the fold per pair."""
    return F.sqrt(
        F.aggregate(codes, F.lit(0.0), lambda acc, c: acc + (c * c).cast("double"))
    )


def int8_coarse_score(
    qvec: Column, codes: Column, code_norm: Column | None = None
) -> Column:
    """The shared coarse ranking score of every two-stage retrieval path:
    dot(q, codes) / ||codes|| — cosine-proportional because both the
    per-vector quantization scale and the per-query |q| factor cancel
    within a query's candidate ranking. An unnormalized dot would let
    large-norm corpus vectors crowd out true neighbors and cap recall.
    ``code_norm`` accepts a pre-computed :func:`int8_code_norm` column —
    inline it recomputes the fold once per (query, neighbor) PAIR."""
    if code_norm is None:
        code_norm = int8_code_norm(codes)
    return (
        F.aggregate(
            F.zip_with(qvec, codes, lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        / F.nullif(code_norm, F.lit(0.0))
    )


def coarse_cut(coarse_scored: DataFrame, n: int) -> DataFrame:
    """Top-n candidates per query by coarse score: expects
    (query_id, neighbor_id, __coarse), returns (query_id, neighbor_id).
    Deterministic tiebreak on neighbor_id."""
    wc = Window.partitionBy("query_id").orderBy(
        F.col("__coarse").desc(), F.col("neighbor_id").asc()
    )
    return (
        coarse_scored.withColumn("__crank", F.row_number().over(wc))
        .filter(F.col("__crank") <= n)
        .select("query_id", "neighbor_id")
    )


def exact_rerank(scored: DataFrame, k: int) -> DataFrame:
    """Final exact stage shared by every two-stage path: expects
    (query_id, neighbor_id, cosine_sim), returns the ranked top-k output
    shape with the 4-dp rounding and tiebreaks every oracle/test pins."""
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cosine_sim"), 4).desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round("cosine_sim", 4).alias("cosine_sim"),
        )
    )


def quantized_rerank_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    rerank_factor: int = 4,
) -> DataFrame:
    """Two-stage retrieval: coarse top-(k×factor) per query against the
    QUANTIZED store (dequantized dot ≡ scale × Σ qᵢ·codeᵢ), then exact
    cosine re-rank of only those candidates against the full-precision
    vectors. The coarse pass reads 1-byte codes; full vectors are fetched
    for k×factor rows per query, not the corpus.

    The coarse pass here is exhaustive over the store — right for bounded
    query batches against a mid-size store; when the store is corpus-scale,
    use :func:`ivf_quantized_topk`, which routes this same coarse pass
    through IVF inverted lists so only ~n_probe/n_lists of the codes are
    scanned per query."""
    store = quantized_store(corpus, id_col=id_col, vec_col=vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qvec"),
    )
    # ||codes|| hoisted to once per store row (see int8_code_norm)
    coarse_scored = (
        F.broadcast(q)
        .crossJoin(
            store.select(
                F.col(id_col).alias("neighbor_id"), "codes"
            ).withColumn("__cnorm", int8_code_norm(F.col("codes")))
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            int8_coarse_score(
                F.col("__qvec"), F.col("codes"), F.col("__cnorm")
            ).alias("__coarse"),
        )
    )
    cand = coarse_cut(coarse_scored, k * rerank_factor)
    c = corpus.select(
        F.col(id_col).alias("__cid"), F.col(vec_col).cast("array<double>").alias("__cvec")
    )
    exact = (
        cand.join(c, cand.neighbor_id == F.col("__cid"))
        .join(q, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("__qvec"), F.col("__cvec")).alias("cosine_sim"),
        )
    )
    return exact_rerank(exact, k)


def ivf_quantized_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 2,
    rerank_factor: int = 4,
) -> DataFrame:
    """IVF-pruned two-stage retrieval: :func:`quantized_rerank_topk`'s
    coarse int8 pass, routed through :func:`ivf_topk`'s inverted lists
    instead of crossJoining the whole store.

    This is the corpus-scale composition the two building blocks document:
    at index-build time each corpus vector lands in the list of its nearest
    centroid (full-precision assignment) and is stored as (scale, int8
    codes) — 1 byte/dim. A query probes its ``n_probe`` nearest lists, so
    the coarse scan touches ~n_probe/n_lists of the store (and reads only
    1-byte codes); the exact full-precision re-rank then fetches just
    k×rerank_factor candidate vectors per query. With ``n_probe >= the
    number of centroids`` this degenerates to exactly
    ``quantized_rerank_topk`` (every pair coarse-scored) — the equivalence
    the unit test pins.

    `centroids` is the (cid, cvec) frame of :func:`kmeans_centroids`.
    """
    # index build: full-precision list assignment, int8 payload
    assigned = ivf_assign_auto(corpus, centroids, 1, id_col, vec_col)
    scale = quantize_scale(F.col("__vec"))
    # the per-vector scale cancels in the cosine-proportional coarse score
    # (dot(q, codes)/||codes||), so only the codes are carried into the probe
    store = assigned.select(
        F.col("__vid").alias("neighbor_id"),
        "cid",
        quantize_int8(F.col("__vec"), scale).alias("codes"),
    )
    probes = ivf_assign_auto(queries, centroids, n_probe, id_col, vec_col).select(
        F.col("__vid").alias("query_id"),
        F.col("__vec").cast("array<double>").alias("__qvec"),
        "cid",
    )
    # each corpus vector lives in exactly ONE list (n_probe=1 assignment),
    # so a (query, neighbor) pair appears at most once even when the query
    # probes several lists — no dedup stage needed
    # ||codes|| hoisted to once per store row (see int8_code_norm)
    coarse_scored = (
        probes.join(
            store.withColumn("__cnorm", int8_code_norm(F.col("codes"))),
            "cid",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            int8_coarse_score(
                F.col("__qvec"), F.col("codes"), F.col("__cnorm")
            ).alias("__coarse"),
        )
    )
    cand = coarse_cut(coarse_scored, k * rerank_factor)
    qv = probes.select("query_id", "__qvec").dropDuplicates(["query_id"])
    c = corpus.select(
        F.col(id_col).alias("__cid"), F.col(vec_col).cast("array<double>").alias("__cvec")
    )
    exact = (
        cand.join(c, cand.neighbor_id == F.col("__cid"))
        .join(qv, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("__qvec"), F.col("__cvec")).alias("cosine_sim"),
        )
    )
    return exact_rerank(exact, k)
