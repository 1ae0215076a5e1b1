"""Document deduplication operators for training-data pipelines.

Four families, all expressed as JVM-side DataFrame ops (no Python UDFs):

- exact:        md5(text) group-by — one shuffle on the digest.
- n-gram Jaccard: word-shingle explode + self-join on shingle → exact
                  pairwise overlap. Quadratic in cluster size; use on
                  blocked/candidate sets only.
- MinHash+LSH:  one md5 per distinct shingle, n "permutations" via XOR with
                fixed seeds (a bijection on the 60-bit hash space), banded
                into buckets; candidate pairs share ≥1 band. The linear-time
                scale path: shuffle volume is O(docs × bands), never O(n²).
- SimHash:      per-token hash sign-sums per bit → 16-bit signature;
                Hamming-close signatures ⇒ near-duplicates.

Hashing is md5-hex → 60-bit int (`textstats.shingle_hash`) rather than
xxhash64/murmur so signatures are reproducible on any engine (the DuckDB
oracle computes identical values).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from trialsync_etl_spark.operators.textstats import (
    shingle_hash,
    shingle_hash_xx,
    tokens,
    word_shingles,
)

#: shingle hash families: md5 = cross-engine-reproducible (oracle parity),
#: xxhash64 = JVM-native production fast path (same 59-bit space)
HASH_FNS = {"md5": shingle_hash, "xxhash64": shingle_hash_xx}

N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS

#: fixed XOR "permutation" seeds, derived from md5 so the oracle can embed
#: the same literals. FULL hash width (60-bit, same as `shingle_hash`):
#: narrower seeds would leave the hash's top bits unpermuted, making every
#: component's min gravitate to the same small-high-bits element —
#: correlated signatures and ruined Jaccard estimates. 60-bit XOR stays
#: well inside signed-64 on both engines.
MINHASH_SEEDS: list[int] = [
    int(hashlib.md5(f"minhash_seed_{j}".encode()).hexdigest()[:15], 16) for j in range(N_HASHES)
]

SIMHASH_BITS = 16


def exact_dup_groups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicate groups: digest → (n_docs, min doc id as canonical)."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_md5"))
        .groupBy("text_md5")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("canonical_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def doc_shingles(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    distinct: bool = True,
    hash_fn: str = "md5",
) -> DataFrame:
    """(doc, shingle-hash) pairs — the base relation for both Jaccard and
    MinHash. ``distinct=True`` gives set semantics for Jaccard counting;
    MinHash passes False because min() is duplicate-insensitive.

    Distinctness is PER DOC, so it never needs a corpus-wide shuffle:
    the hashes are deduplicated inside each row's array
    (``array_distinct``, a narrow projection) before the explode. The old
    shape (`explode -> .distinct()`) paid a full exchange over every
    shingle of the corpus for the same result.

    ``hash_fn``: 'md5' (default, oracle-reproducible) or 'xxhash64' (the
    production fast path — JVM-native long hashing, no hex round-trip)."""
    hasher = HASH_FNS[hash_fn]
    if distinct:
        hashes = F.array_distinct(
            F.transform(word_shingles(F.col(text_col), k), lambda s: hasher(s))
        )
        return docs.select(
            F.col(id_col).alias("doc_id"), F.explode(hashes).alias("h")
        )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(F.col(text_col), k)).alias("sh"),
    ).select("doc_id", hasher(F.col("sh")).alias("h"))


def ngram_jaccard_pairs(
    shingles: DataFrame, min_jaccard: float = 0.2
) -> DataFrame:
    """Exact pairwise Jaccard over a (doc_id, h) shingle relation.

    Self-join on shingle hash: intersection counts come from one shuffle on
    `h`; sizes from one groupBy. O(Σ cluster²) — run on candidates/blocks.
    """
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = shingles.alias("a")
    b = shingles.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter")
                * 1.0
                / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_inter")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def spread_for_cpu(df: DataFrame) -> DataFrame:
    """Repartition raw rows up to default parallelism when the source
    arrived under-partitioned (a single parquet file, 1-4 landing pages):
    per-shingle hashing costs ~10 core-ms/doc, so a narrow single-task
    scan serializes the whole signing pipeline on one core — measured 2×
    on the bench corpus, whose sf0.1 documents table is ONE file. One
    cheap shuffle of raw text unlocks full-width CPU; at cluster scale
    inputs arrive wide and this is a no-op."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def minhash_signatures_narrow(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """MinHash signatures with ZERO shuffle: each component is
    ``array_min`` over the per-doc shingle-hash array (XOR-permuted in a
    lambda), so signing is a narrow projection — the corpus never moves
    for a per-doc groupBy over exploded shingle hashes.

    Docs with no shingles are dropped via the token-count pre-filter.

    The no-shingle filter is expressed on the RAW tokens (``n_tokens >=
    k`` ⟺ at least one k-shingle), never as ``size(__hs) > 0``: Catalyst
    substitutes the ``__hs`` alias into the predicate and pushes it below
    any upstream Exchange, so the filter form would re-evaluate the
    entire per-shingle hash pipeline a second time — single-threaded, on
    the pre-shuffle side, which is exactly where an under-partitioned
    micro-batch hurts most. The token-count predicate is cheap wherever
    the optimizer moves it."""
    hasher = HASH_FNS[hash_fn]
    hashes = F.transform(word_shingles(F.col(text_col), k), lambda s: hasher(s))
    n_tokens = F.size(
        F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    )
    return (
        spread_for_cpu(docs).filter(n_tokens >= k)
        .select(F.col(id_col).alias("doc_id"), hashes.alias("__hs"))
        .select(
            "doc_id",
            *[
                F.array_min(
                    F.transform(
                        F.col("__hs"), lambda h: h.bitwiseXOR(F.lit(seed))
                    )
                ).alias(f"h{j}")
                for j, seed in enumerate(MINHASH_SEEDS)
            ],
        )
    )


def est_jaccard(a: str, b: str) -> Column:
    """Estimated Jaccard = matching-MinHash-component fraction between two
    signature relations aliased `a` and `b` — THE estimator for both the
    batch LSH path and the incremental signature store (one definition, so
    the two paths cannot drift)."""
    frac: Column = sum(
        F.when(F.col(f"{a}.h{j}") == F.col(f"{b}.h{j}"), 1).otherwise(0)
        for j in range(N_HASHES)
    ) / float(N_HASHES)
    return F.round(frac, 4)


def lsh_band_keys(sigs: DataFrame) -> DataFrame:
    """Explode signatures into (doc_id, band, band_key) — docs sharing a
    band_key are candidate duplicates.

    One pass: all band keys are built as an array in a single projection
    and exploded, instead of a UNION ALL that would re-evaluate the
    signature subtree once per band."""
    band_structs = []
    for b in range(N_BANDS):
        cols = [
            F.col(f"h{j}").cast("string")
            for j in range(b * ROWS_PER_BAND, (b + 1) * ROWS_PER_BAND)
        ]
        band_structs.append(
            F.struct(
                F.lit(b).alias("band"), F.md5(F.concat_ws("_", *cols)).alias("band_key")
            )
        )
    return sigs.select("doc_id", F.explode(F.array(*band_structs)).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


def lsh_candidate_pairs(
    bands: DataFrame,
    max_bucket: int | None = None,
    stats_sink: dict | None = None,
) -> DataFrame:
    """(doc_a, doc_b) candidate pairs from a (doc_id, band, band_key)
    relation — docs sharing a band bucket.

    ``max_bucket=None`` (the default, and the oracle-parity contract) is
    the exact banded semantics: every pair within a bucket. That output
    is intrinsically quadratic in bucket size, which is correct for the
    near-uniform buckets random text produces but is the LSH failure
    mode at 100 TB: a boilerplate-heavy corpus (millions of docs sharing
    a template) lands one bucket with B docs and B²/2 candidate pairs —
    the join never finishes, and no engine choice can help because the
    ASKED-FOR answer is quadratic.

    ``max_bucket=N`` is the scale rail for pipelines that consume pairs
    for CLUSTERING (keep-one-per-cluster dedup — `dup_clusters`): a
    bucket larger than N emits hub pairs only (every member against the
    bucket's minimum doc id) — O(B) edges that connect exactly the same
    documents into the same component, so the downstream connected-
    components result is preserved whenever the hub matches its members
    (the boilerplate case by construction). Every emitted pair still
    goes through exact signature scoring, so false bucket collisions are
    still filtered; the trade is pair-LIST completeness inside oversized
    buckets (a member failing the hub score but matching a sibling is
    missed), documented here rather than silently capped.

    ``stats_sink`` (with ``max_bucket`` set) makes the trade observable
    per run: one extra bounded agg writes ``lsh_capped_buckets`` (distinct
    oversized band buckets) and ``lsh_capped_rows`` (band-membership rows
    routed through the hub rail) into the dict — zero means the rail
    never fired and the output equals the exact semantics."""
    ba = bands.alias("ba")
    bb = bands.alias("bb")
    if max_bucket is None:
        small, hub_pairs = bands, None
    else:
        from pyspark.sql import Window

        w = Window.partitionBy("band", "band_key")
        sized = bands.withColumn("__n", F.count(F.lit(1)).over(w)).withColumn(
            "__hub", F.min("doc_id").over(w)
        )
        small = sized.filter(F.col("__n") <= max_bucket).drop("__n", "__hub")
        if stats_sink is not None:
            capped = sized.filter(F.col("__n") > max_bucket).agg(
                F.count_distinct("band", "band_key").alias("b"),
                F.count(F.lit(1)).alias("r"),
            ).first()
            stats_sink["lsh_capped_buckets"] = int(capped["b"])
            stats_sink["lsh_capped_rows"] = int(capped["r"])
        hub_pairs = (
            sized.filter(
                (F.col("__n") > max_bucket) & (F.col("doc_id") != F.col("__hub"))
            )
            .select(F.col("__hub").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        )
        ba = small.alias("ba")
        bb = small.alias("bb")
    cand = (
        ba.join(
            bb,
            (F.col("ba.band") == F.col("bb.band"))
            & (F.col("ba.band_key") == F.col("bb.band_key"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(F.col("ba.doc_id").alias("doc_a"), F.col("bb.doc_id").alias("doc_b"))
    )
    if hub_pairs is not None:
        cand = cand.unionByName(hub_pairs)
    return cand.distinct()


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_est_jaccard: float = 0.5,
    hash_fn: str = "md5",
    max_bucket: int | None = None,
    stats_sink: dict | None = None,
) -> DataFrame:
    """End-to-end MinHash/LSH near-dup detection: shingle → sign → band →
    bucket-join → estimate Jaccard as matching-component fraction.

    ``hash_fn='xxhash64'`` is the production swap (~same pair recall, all
    long arithmetic): the signatures differ from the md5 family, but the
    detected PAIR SET is what matters and is pinned equal on the fixture
    corpus by tests/test_llm_ops.py. ``max_bucket`` is the hot-bucket
    scale rail for clustering consumers — see :func:`lsh_candidate_pairs`
    for the exact trade; the default preserves exact pair semantics."""
    # narrow signing (no groupBy shuffle); the signature relation feeds
    # four plan branches (both sides of the band self-join + both re-rank
    # lookups) — without a persist each branch re-tokenizes and re-hashes
    # the whole corpus. Tracked: released at the next registry query build
    # (cache.release_persisted), not leaked across bench/driver sessions.
    from trialsync_etl_spark.cache import track_persist

    sigs = track_persist(
        minhash_signatures_narrow(docs, id_col, text_col, k, hash_fn).persist()
    )
    bands = lsh_band_keys(sigs)
    cand = lsh_candidate_pairs(bands, max_bucket=max_bucket, stats_sink=stats_sink)

    sa = sigs.alias("sa")
    sb = sigs.alias("sb")
    return (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", est_jaccard("sa", "sb").alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= min_est_jaccard)
    )


def dup_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over a (doc_a, doc_b) duplicate-pair relation →
    (doc_id, cluster_id) with cluster_id = min doc id of the component —
    the step that turns pairwise near-dup hits into keep-one-per-cluster
    decisions.

    Min-label propagation with pointer-doubling shortcutting: each round
    every node adopts the minimum of its own label, its neighbors' labels,
    and *its current label's* label (the GraphFrames-style compress step).
    Plain propagation needs rounds = component diameter — a 1000-doc
    transitive near-dup chain (exactly what banded LSH emits for serially
    mutated copies) would silently mis-cluster under any practical
    iteration cap. Shortcutting halves the remaining label distance every
    round, so convergence is O(log diameter): `max_iter=20` covers
    diameters up to ~2^20. Two shuffles per round, each materializing ~|V|
    rows; no driver-side graph state, so it holds at 100 TB corpus scale.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("nbr_min"))
        .select(
            F.col("src").alias("doc_id"),
            F.least(F.col("src"), F.col("nbr_min")).alias("label"),
        )
        .persist()
    )

    for _ in range(max_iter):
        # propagate: each node takes min(own label, neighbors' labels)
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        propagated = labels.join(
            neighbor_min, labels.doc_id == neighbor_min.src, "left"
        ).select(
            "doc_id",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
        )
        # pointer-doubling compress: adopt your label's label, halving the
        # remaining distance to the component minimum every round
        roots = propagated.select(
            F.col("doc_id").alias("r_id"), F.col("label").alias("r_label")
        )
        # localCheckpoint truncates the lineage each round — without it the
        # logical plan (and Catalyst analysis time) grows with every
        # iteration, the classic iterative-algorithm trap. At cluster scale
        # swap for checkpoint() on reliable storage.
        new_labels = (
            propagated.join(roots, propagated.label == roots.r_id, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce(F.col("r_label"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        # frees the round-0 persist; checkpointed rounds are released by
        # the ContextCleaner once the previous round's DataFrame (the only
        # reference to its checkpoint RDD) is dropped on the next line
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break

    out = labels.select("doc_id", F.col("label").alias("cluster_id"))
    edges.unpersist()
    return out


def canonical_docs(
    docs: DataFrame, clusters: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Keep-one-per-cluster: every doc not in any duplicate cluster plus
    the minimum-id representative of each cluster — the final dedup'd
    corpus a training pipeline feeds downstream (anti-join on the
    non-representative members)."""
    dupes_to_drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    return docs.join(dupes_to_drop, docs[id_col] == dupes_to_drop.doc_id, "left_anti")


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """16-bit SimHash per doc from distinct-token hash bit sign-sums.

    Tie rule pinned: bit set iff the signed sum >= 0."""
    tok = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens(F.col(text_col))).alias("tok"),
        )
        .distinct()
        .select("doc_id", shingle_hash(F.col("tok")).alias("h"))
    )
    bit_sums = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sim: Column = sum(
        F.when(F.col(f"b{b}") >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        for b in range(SIMHASH_BITS)
    )
    return bit_sums.select("doc_id", sim.cast("int").alias("simhash16"))


def chunk_texts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 10,
) -> DataFrame:
    """Split each text into consecutive ``chunk_words``-word spans:
    (id, chunk_idx, chunk). The span grid is positional (chunk i = words
    [i*k, (i+1)*k)), so chunking is a pure narrow projection — no shuffle,
    no Python.

    The split is BOUND to a column before the transform lambda slices it:
    higher-order functions evaluate interpreted and re-evaluate a
    captured expression subtree per element, so an inline ``split(text)``
    would re-tokenize the document once per chunk (the word_shingles
    lesson — see textstats.word_shingles); a bound attribute is a row
    lookup."""
    bound = docs.select(
        F.col(id_col), F.split(F.col(text_col), r"\s+").alias("__words")
    )
    words = F.col("__words")
    n_chunks = F.ceil(F.size(words) / F.lit(float(chunk_words))).cast("int")
    chunks = F.when(
        F.size(words) > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(
                F.slice(words, i * chunk_words + 1, chunk_words), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return bound.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "chunk")
    )


def chunk_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 10,
) -> DataFrame:
    """Sub-document exact dedup (the CCNet/RefinedWeb line-dedup shape at
    chunk granularity): every ``chunk_words``-word span duplicated
    anywhere in the corpus is kept only at its FIRST occurrence
    (deterministic: min (doc_id, chunk_idx)); each document is then
    reassembled from its surviving spans in order. Boilerplate repeated
    across documents disappears from every copy but the first.

    Plan shape for 100 TB: chunking is narrow; the keep-first window
    partitions by the chunk VALUE (corpus-cardinality key — one shuffle,
    never a global sort); reassembly is one groupBy on the doc key.
    Returns (id, text) for every input document — a document whose spans
    were all duplicates comes back with empty text rather than vanishing.
    """
    from pyspark.sql import Window

    chunks = chunk_texts(docs, id_col, text_col, chunk_words)
    w = Window.partitionBy("chunk").orderBy(id_col, "chunk_idx")
    kept = (
        chunks.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    reassembled = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk"))),
                lambda s: s.getField("chunk"),
            ),
        ).alias(text_col)
    )
    return (
        docs.select(id_col)
        .join(reassembled, id_col, "left")
        .select(F.col(id_col), F.coalesce(F.col(text_col), F.lit("")).alias(text_col))
    )


def positional_shingles(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    hash_fn: str = "md5",
) -> DataFrame:
    """(doc_id, pos, h): the k-word shingle hash at EVERY 0-based word
    position — the positional base relation for substring-level dedup.

    Unlike :func:`doc_shingles` this keeps duplicates and positions (a
    shingle's LOCATION is the point), and it is a pure narrow projection:
    split + posexplode + hash, no shuffle."""
    hasher = HASH_FNS[hash_fn]
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(word_shingles(F.col(text_col), k)).alias("pos", "__sh"),
    ).select("doc_id", "pos", hasher(F.col("__sh")).alias("h"))


def duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_len: int = 50,
    hash_fn: str = "md5",
) -> DataFrame:
    """Maximal duplicated word spans at ARBITRARY offsets — the
    suffix-array substring-dedup recipe of "Deduplicating Training Data
    Makes Language Models Better" (Lee et al., 2021: remove any ≥50-token
    substring that occurs verbatim more than once in the corpus),
    re-expressed as joins + windows instead of a monolithic suffix array,
    because a distributed engine should never build one global sorted
    structure when runs of matching k-grams carry the same information.

    The missing dedup-family member between :func:`chunk_dedup` and
    MinHash: chunk hashing only catches repeats ALIGNED to its span grid
    (a 200-token boilerplate block shifted by one word escapes every
    chunk), MinHash is probabilistic and document-scoped. Here every
    k-gram START position is keyed, so a verbatim block matches at any
    offset, exactly.

    Semantics: an occurrence (doc_id, pos) of a k-gram is REDUNDANT when
    the same k words occur at a lexicographically earlier (doc_id, pos)
    anywhere in the corpus (keep-first, like the whole family). Runs of
    consecutive redundant start positions merge to maximal spans; a run
    p1..p2 covers words [p1, p2+k-1], so a duplicated block of L words
    yields exactly an L-word span (its L-k+1 k-gram starts are all
    redundant). Spans shorter than ``min_len`` words are ignored.

    Plan shape for 100 TB: positional shingling is narrow; the
    first-occurrence resolution is ONE partial-aggregated groupBy on the
    k-gram hash (map-side combine absorbs hot boilerplate grams — never
    a global sort) + one hash-join back on the same key (1 matched row
    per gram occurrence, AQE-skew-splittable); run-merging is one
    shuffle on doc_id (windows + groupBy share it). Returns
    (doc_id, span_start, span_end, span_words), spans 0-based inclusive.
    """
    from pyspark.sql import Window

    if min_len < k:
        raise ValueError(
            f"min_len ({min_len}) must be >= k ({k}): spans are unions "
            "of whole k-grams, so nothing shorter can ever be emitted"
        )
    grams = positional_shingles(docs, id_col, text_col, k, hash_fn)
    # first occurrence per gram hash via groupBy-min (NOT a window over
    # h: partial aggregation combines map-side, so a boilerplate gram
    # repeated 10^6 times ships one row per map partition, not 10^6
    # rows to one reducer); only duplicated hashes (n_occ > 1) join back
    firsts = (
        grams.groupBy("h")
        .agg(
            F.min(F.struct("doc_id", "pos")).alias("__first"),
            F.count(F.lit(1)).alias("__n_occ"),
        )
        .filter(F.col("__n_occ") > 1)
    )
    redundant = (
        grams.join(firsts, "h")
        .filter(F.struct("doc_id", "pos") != F.col("__first"))
        .select("doc_id", "pos")
    )
    return merge_spans(redundant, k, min_len)


def merge_spans(redundant: DataFrame, k: int, min_len: int) -> DataFrame:
    """Gaps-and-islands merge of redundant k-gram START positions into
    maximal spans: consecutive positions share (pos - row_number) — one
    window + one groupBy on the SAME doc key, so both ride a single
    shuffle on doc_id. ``redundant`` is (doc_id, pos); returns
    (doc_id, span_start, span_end, span_words) with spans < ``min_len``
    words dropped. Shared by the one-shot and the store-backed
    substring-dedup paths."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = redundant.withColumn("__grp", F.col("pos") - F.row_number().over(w))
    return (
        runs.groupBy("doc_id", "__grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_words"),
        )
        .filter(F.col("span_words") >= min_len)
    )


def substring_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_len: int = 50,
    hash_fn: str = "md5",
) -> DataFrame:
    """Drop every :func:`duplicate_spans` span from its document and
    reassemble the remaining words in order — the enforcement half of the
    suffix-array recipe (the first occurrence of each duplicated block
    survives untouched; later copies lose exactly the duplicated words).

    Returns (id, text) for EVERY input document, like :func:`chunk_dedup`
    — a fully-duplicated document comes back empty rather than vanishing.
    The removal itself is a higher-order array filter against the doc's
    own (collected, tiny) span list: one groupBy on doc_id + one join
    back to the docs, all JVM-side — no explode of the corpus into a
    word-per-row relation."""
    spans = duplicate_spans(docs, id_col, text_col, k, min_len, hash_fn)
    return trim_spans(docs, spans, id_col, text_col)


def trim_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove every ``spans`` word range from its document and reassemble
    — the shared enforcement stage: a higher-order array filter against
    the doc's own (collected, tiny) span list, one groupBy on doc_id +
    one join back, all JVM-side. ``spans`` is the
    (doc_id, span_start, span_end, ...) relation; returns (id, text) for
    EVERY input document (a fully-covered doc comes back empty).

    Docs with NO spans — the overwhelming majority at corpus scale —
    short-circuit through the ``__spans IS NULL`` branch and keep their
    text byte-identical (CaseWhen evaluates branches lazily, so the
    untouched majority never pays the tokenize/filter/rejoin; they are
    also never whitespace-normalized — only trimmed docs are rebuilt
    single-spaced)."""
    doc_spans = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    joined = docs.join(
        doc_spans, docs[id_col] == doc_spans["doc_id"], "left"
    )
    kept = F.filter(
        tokens(docs[text_col]),
        lambda t, i: ~F.exists(
            F.col("__spans"),
            lambda s: (i >= s.span_start) & (i <= s.span_end),
        ),
    )
    return joined.select(
        docs[id_col],
        F.when(F.col("__spans").isNull(), docs[text_col])
        .otherwise(F.array_join(kept, " "))
        .alias(text_col),
    )
