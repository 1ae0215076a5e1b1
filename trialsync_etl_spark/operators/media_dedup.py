"""Perceptual image near-duplicate detection (beyond-reference op).

The public recipe: a perceptual signature (dHash — difference hash:
resample the decoded grayscale image to a (GRID_W × GRID_H) cell grid,
emit one bit per adjacent-cell comparison), then Hamming-banded
candidate generation (split the signature into ``n_bands`` contiguous
bit ranges; by pigeonhole, two signatures within Hamming distance
``n_bands − 1`` share at least one identical band), an exact
``bit_count(xor)`` verification of the candidates, and keep-first
canonical selection over the connected near-dup clusters — train-data
image dedup, the media twin of MinHash text dedup.

Spark shape: the only Python stage is the signature extraction (bytes
must cross to Arrow — the multimodal discipline); banding, the
band-bucket self-join, Hamming verification, clustering, and canonical
selection are all JVM. The band join is an equi-join on (band_idx,
band_value) — never an all-pairs comparison; ``n_bands`` trades the
guaranteed-recall radius (n_bands − 1) against band-bucket selectivity
(63/n_bands bits per band), exactly the LSH band/row trade.

Codec: :func:`image_dhash` is import-gated on PIL like the rest of
``operators/multimodal.py``; :func:`fake_image_dhash` block-averages the
RAW BYTES into the same grid — faithful for pixel-like (smooth)
payloads, which is what a decoded image is, and deterministic enough
for a DuckDB value oracle to recompute the signature bit-for-bit
(integer pixels → exact block means → comparisons).

The signature is 63 bits (the last adjacent-cell comparison is
dropped) so it packs into a non-negative BIGINT on every engine —
Hamming distance is ``bit_count(a XOR b)``, pure codegen.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trialsync_etl_spark.storage import (
    PinnedParams,
    append_batch,
    check_tag,
    read_batches,
)

#: grid: 8 rows × 9 columns = 72 cells → 8 comparisons per row; the
#: 64th bit is dropped to keep the packed signature a non-negative int64
GRID_W = 9
GRID_H = 8
N_CELLS = GRID_W * GRID_H
N_BITS = 63

SIG_SCHEMA = "media_id long, dhash long"


def gray_cells(pixels: list[int] | bytes) -> list[float]:
    """Block-average a 1-D grayscale pixel sequence into N_CELLS cells
    (floor boundaries — the resample that makes signatures stable across
    re-encodes at different sizes). Shorter-than-grid inputs are
    zero-padded."""
    px = list(pixels)
    if len(px) < N_CELLS:
        px = px + [0] * (N_CELLS - len(px))
    n = len(px)
    out = []
    for i in range(N_CELLS):
        lo, hi = i * n // N_CELLS, (i + 1) * n // N_CELLS
        out.append(sum(px[lo:hi]) / (hi - lo))
    return out


def dhash_from_pixels(pixels: list[int] | bytes) -> int:
    """The 63-bit dHash: bit k = r·8+c set iff cell[r·9+c] >
    cell[r·9+c+1] (strict — equal cells emit 0), k < 63."""
    cells = gray_cells(pixels)
    h = 0
    for r in range(GRID_H):
        for c in range(GRID_W - 1):
            k = r * (GRID_W - 1) + c
            if k >= N_BITS:
                break
            if cells[r * GRID_W + c] > cells[r * GRID_W + c + 1]:
                h |= 1 << k
    return h


def fake_image_dhash(
    media: DataFrame, id_col: str = "media_id", content_col: str = "content"
) -> DataFrame:
    """Signature extraction with the codec swapped for the deterministic
    byte-domain fake: the content bytes ARE the grayscale pixels (the
    planted oracle corpora use smooth integer payloads — what a decoded
    image looks like). One Arrow stage; everything downstream is JVM."""
    import pandas as pd

    def extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "dhash": [
                        dhash_from_pixels(bytes(b)) for b in pdf[content_col]
                    ],
                }
            )

    return media.mapInPandas(extract, schema=SIG_SCHEMA)


def image_dhash(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
    width: int = 256,
) -> DataFrame:
    """REAL-codec signature extraction: PIL decode → grayscale →
    row-major pixel sequence → the same grid/packing as the fake.
    Import-gated (PIL is not in this environment); the fake twin
    exercises identical schema, batching, and downstream plumbing."""
    try:
        from PIL import Image  # noqa: F401  # type: ignore
    except ImportError as exc:
        raise NotImplementedError(
            "PIL not installed in this environment; use fake_image_dhash "
            "(same schema/batching) or install pillow"
        ) from exc

    import io  # pragma: no cover

    import pandas as pd  # pragma: no cover

    def extract(batches):  # pragma: no cover
        from PIL import Image

        for pdf in batches:
            rows = []
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                img = Image.open(io.BytesIO(bytes(content))).convert("L")
                img = img.resize((width, max(1, width * img.height // img.width)))
                rows.append((mid, dhash_from_pixels(list(img.getdata()))))
            yield pd.DataFrame(rows, columns=["media_id", "dhash"])

    return media.mapInPandas(extract, schema=SIG_SCHEMA)  # pragma: no cover


def dhash_bands(
    sigs: DataFrame, n_bands: int = 4, n_bits: int = N_BITS,
    sig_col: str = "dhash",
) -> DataFrame:
    """(media_id, band_idx, band_val) — the signature split into
    ``n_bands`` contiguous bit ranges via shift/mask (pure codegen).
    More bands widen the guaranteed-recall radius (n_bands − 1) and
    coarsen the buckets (n_bits/n_bands bits each) — the LSH trade.
    ``n_bits``/``sig_col`` generalize the machinery to any packed
    signature (63-bit dHash, 48-bit pHash)."""
    if not (2 <= n_bands <= n_bits):
        raise ValueError(f"n_bands must be in [2, {n_bits}], got {n_bands}")
    width = -(-n_bits // n_bands)  # ceil: last band may be narrower
    bands = [
        F.struct(
            F.lit(i).alias("band_idx"),
            F.shiftright(F.col(sig_col), i * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("band_val"),
        )
        for i in range(n_bands)
    ]
    return sigs.select(
        "media_id", F.explode(F.array(*bands)).alias("__b")
    ).select("media_id", "__b.band_idx", "__b.band_val")


def resolve_bands(
    n_bands: int | None, max_distance: int, n_bits: int
) -> int:
    """Band count honoring the pigeonhole recall guarantee: two
    signatures within Hamming ``max_distance`` share a band only when
    ``n_bands >= max_distance + 1``. ``None`` (the default everywhere)
    derives exactly that; an EXPLICIT insufficient count raises rather
    than silently missing pairs at distances in (n_bands−1, distance]
    — every sig kind pins a different default distance, so a fixed
    band default cannot be correct for all of them."""
    if n_bands is None:
        return max(2, min(n_bits, max_distance + 1))
    if n_bands - 1 < max_distance:
        raise ValueError(
            f"n_bands={n_bands} guarantees recall only to hamming "
            f"{n_bands - 1} < max_distance={max_distance}; pass "
            f"n_bands >= max_distance + 1 (or leave n_bands=None to "
            "derive it)"
        )
    return n_bands


def hamming_pairs(
    sigs: DataFrame, max_distance: int = 3, n_bands: int | None = None,
    n_bits: int = N_BITS, sig_col: str = "dhash",
) -> DataFrame:
    """Verified near-dup pairs (a, b, hamming) with a < b: band-bucket
    equi-join for candidates, exact ``bit_count(a XOR b)`` to verify.
    Recall is GUARANTEED for hamming ≤ max_distance: ``n_bands``
    defaults to ``max_distance + 1`` (pigeonhole) via
    :func:`resolve_bands`, and an explicit narrower count raises."""
    n_bands = resolve_bands(n_bands, max_distance, n_bits)
    from trialsync_etl_spark.cache import track_persist

    # the signature relation feeds four branches (both band sides + both
    # verify sides); persisting it runs the Arrow extraction ONCE — at
    # corpus scale the Python stage is the whole cost of this operator
    sigs = track_persist(sigs.persist())
    bands = dhash_bands(sigs, n_bands=n_bands, n_bits=n_bits, sig_col=sig_col)
    left = bands.select(
        F.col("media_id").alias("a"), "band_idx", "band_val"
    )
    right = bands.select(
        F.col("media_id").alias("b"), "band_idx", "band_val"
    )
    cand = (
        left.join(right, ["band_idx", "band_val"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    sa = sigs.select(F.col("media_id").alias("a"), F.col(sig_col).alias("__ha"))
    sb = sigs.select(F.col("media_id").alias("b"), F.col(sig_col).alias("__hb"))
    return (
        cand.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb"))).alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= max_distance)
    )


def image_near_dups(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
    max_distance: int | None = None,
    n_bands: int | None = None,
    use_real_codec: bool = False,
    rule: str = "neighbor",
    sig_kind: str = "dhash63",
) -> DataFrame:
    """Canonical media after perceptual near-dup removal. Two keep
    rules (they differ ONLY on transitive chains — edges (1,3),(2,3)
    with no (1,2) edge):

    - ``rule="neighbor"`` (default): drop a row iff a LOWER-id row
      within ``max_distance`` exists → keeps {1,2} on the chain. This is
      the rule the ``mm_image_near_dup`` oracle replays AND the rule
      :func:`media_neardup_incremental` applies per batch — with it, the
      one-shot and ingest cadences produce IDENTICAL corpora (history
      can't carry cluster state cheaply, so the incremental path can
      only ever be neighbor-shaped; the batch path follows it).
    - ``rule="cluster"``: connected components over the near-dup edges,
      keep the lowest id per cluster → keeps {1} on the chain (the
      MinHash text-dedup idiom). More aggressive; NOT replayable by the
      incremental sibling on transitive chains.

    Returns the surviving media rows."""
    if rule not in ("neighbor", "cluster"):
        raise ValueError(f"rule must be 'neighbor' or 'cluster', got {rule!r}")
    kind = _sig_kind(sig_kind)
    if max_distance is None:
        max_distance = kind["default_distance"]
    n_bands = resolve_bands(n_bands, max_distance, kind["n_bits"])
    from trialsync_etl_spark.cache import track_persist
    from trialsync_etl_spark.operators import dedup as dedup_mod

    sig_fn = kind["real"] if use_real_codec else kind["fake"]
    sigs = track_persist(
        sig_fn(media, id_col=id_col, content_col=content_col).persist()
    )
    # collapse identical signatures BEFORE banding: byte-identical
    # re-uploads (the dominant media-dup mode at corpus scale) all share
    # every band — a million copies of one image would otherwise form a
    # quadratic band bucket. One representative (lowest id) per distinct
    # signature enters the banded join; its group members attach as
    # direct edges. Exact for BOTH rules: members share their rep's
    # signature bit-for-bit, so every member's neighbor set equals its
    # rep's, and a non-rep member always has the rep as a distance-0
    # lower-id neighbor.
    reps = sigs.groupBy("dhash").agg(F.min("media_id").alias("media_id"))
    group_edges = (
        sigs.join(
            reps.withColumnRenamed("media_id", "__rep"), "dhash"
        )
        .filter(F.col("media_id") != F.col("__rep"))
        .select(
            F.col("__rep").alias("doc_a"),
            F.col("media_id").alias("doc_b"),
        )
    )
    rep_pairs = hamming_pairs(
        reps, max_distance=max_distance, n_bands=n_bands,
        n_bits=kind["n_bits"],
    ).select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
    if rule == "neighbor":
        # doc_b is always the higher id on both edge kinds — the union
        # of b-sides IS the drop set under the lower-id-neighbor rule
        dropped = (
            rep_pairs.unionByName(group_edges)
            .select(F.col("doc_b").alias("__drop"))
            .distinct()
        )
        return media.join(
            dropped, media[id_col] == F.col("__drop"), "left_anti"
        )
    clusters = dedup_mod.dup_clusters(rep_pairs.unionByName(group_edges))
    return dedup_mod.canonical_docs(media, clusters, id_col=id_col)


def triangle_image(seed: int, n: int, master_res: int = 1024) -> bytes:
    """A deterministic smooth grayscale 'image': two mixed integer
    triangle waves sampled from a fixed master resolution — so the SAME
    seed at a different ``n`` is the same image re-encoded at another
    size (the near-dup the detector must catch), while different seeds
    are unrelated images. Pure integer arithmetic: a SQL oracle
    regenerates every pixel exactly."""
    out = bytearray()
    for i in range(n):
        x = i * master_res // n
        a1 = 3 + (seed * 7) % 5
        a2 = 11 + (seed * 13) % 9
        p1 = (seed * 97) % 512
        p2 = (seed * 31) % 512
        t1 = abs(((a1 * x + p1) % 512) - 256)
        t2 = abs(((a2 * x + p2) % 512) - 256)
        out.append(min(255, (t1 + t2) // 2))
    return bytes(out)


def curate_media(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
    min_bytes: int = 1,
    exact_dedup: bool = True,
    near_dup: bool = True,
    max_distance: int | None = None,
    n_bands: int | None = None,
    use_real_codec: bool = False,
    near_dup_rule: str = "neighbor",
    sig_kind: str = "dhash63",
    persist: bool = True,
):
    """The media-corpus curation funnel — the binary-column twin of
    ``curate.curate_corpus``: size floor → exact dedup (md5 digest over
    the raw bytes, pure JVM — keep the lowest id per digest) →
    perceptual near-dup (:func:`image_near_dups`). Returns the same
    ``CurationResult`` shape (corpus + per-stage frames + stats) so
    release tooling accounts media funnels exactly like text ones.

    Scale shape: the size floor is a narrow filter; exact dedup is one
    digest shuffle (the text funnel's shape — md5 works on binary
    directly, no Arrow stage); the perceptual stage is the banded join
    documented on :func:`image_near_dups`."""
    from trialsync_etl_spark.operators.curate import CurationResult

    def _stage(df: DataFrame) -> DataFrame:
        return df.persist() if persist else df

    stages: dict[str, DataFrame] = {}
    stats: dict = {}
    current = media

    if min_bytes > 0:
        current = _stage(
            current.filter(F.length(F.col(content_col)) >= min_bytes)
        )
        stages["size_filtered"] = current
        stats["min_bytes"] = min_bytes

    if exact_dedup:
        digests = current.select(
            F.col(id_col).alias("__mid"),
            F.md5(F.col(content_col)).alias("__digest"),
        )
        keep = digests.groupBy("__digest").agg(
            F.min("__mid").alias("__keep")
        )
        drops = (
            digests.join(keep, "__digest")
            .filter(F.col("__mid") != F.col("__keep"))
            .select("__mid")
        )
        current = _stage(
            current.join(
                drops, current[id_col] == drops["__mid"], "left_anti"
            )
        )
        stages["exact_deduped"] = current

    if near_dup:
        current = _stage(
            image_near_dups(
                current,
                id_col=id_col,
                content_col=content_col,
                max_distance=max_distance,
                n_bands=n_bands,
                use_real_codec=use_real_codec,
                rule=near_dup_rule,
                sig_kind=sig_kind,
            )
        )
        stages["near_deduped"] = current

    return CurationResult(corpus=current, stages=stages, stats=stats)


# ---------------------------------------------------------------------------
# persisted signature store — INCREMENTAL perceptual near-dup
# ---------------------------------------------------------------------------
#: store layout: ``<store>/dhash/batch_id=<id>/`` holds (media_id, dhash)
#: for EVERY media row of the batch (kept AND dropped: the drop rule
#: counts earlier DOCS, not earlier survivors — the mm_image_near_dup
#: oracle's rule), plus ``<store>__meta.json`` pinning the codec (fake
#: byte-domain vs real PIL): signatures from different codecs share no
#: space, and probing across them silently reports zero duplication.
MEDIA_SIGS_TABLE = "dhash"


_MEDIA_PARAMS = PinnedParams(
    label="media signature store",
    suffix="__meta.json",
    lock_suffix="/__lock",
    keys=("codec",),
    hint="re-append any batch to re-pin, or restore the meta from the "
    "store's source of truth",
    why="signatures of another codec or kind share no space and report "
    "silent zero duplication",
    # pre-r14 metas carry no sig_kind: they are dhash63 stores
    defaults={"sig_kind": "dhash63"},
)


def read_media_store_params(store_path: str) -> dict | None:
    """Pinned {codec}, or None when never pinned; PRESENT-but-unreadable
    meta raises the rebuild-instructing error (the store-family
    contract)."""
    return _MEDIA_PARAMS.read(store_path)


def _sig_kind(name: str) -> dict:
    if name not in SIG_KINDS:
        raise ValueError(
            f"sig_kind must be one of {sorted(SIG_KINDS)}, got {name!r}"
        )
    return SIG_KINDS[name]


def read_media_signatures(spark, store_path: str) -> DataFrame | None:
    """The store's (media_id, dhash) relation, distinct-merged on read so
    a media id landed by two batches matches once; None when no batch
    has landed yet."""
    import os

    stored = read_batches(spark, os.path.join(store_path, MEDIA_SIGS_TABLE))
    return None if stored is None else stored.select("media_id", "dhash").distinct()


def media_neardup_incremental(
    spark,
    media: DataFrame,
    store_path: str,
    batch_id: str,
    id_col: str = "media_id",
    content_col: str = "content",
    max_distance: int | None = None,
    n_bands: int | None = None,
    use_real_codec: bool = False,
    sig_kind: str = "dhash63",
) -> DataFrame:
    """The ingest-cadence sibling of :func:`image_near_dups` — the media
    member of the per-ingest-probe/store-sibling pattern (MinHash →
    dedup_store, substring → substring_store, decontam → decontam_store):
    signature the batch once, probe the PERSISTED signatures by the same
    banded join, drop every batch row with a LOWER-id neighbor within
    ``max_distance`` (stored or in-batch — id precedence, exactly the
    drop rule the mm_image_near_dup oracle replays, so id-ordered batches
    reproduce the one-shot verdicts and a REPLAYED batch converges: its
    own stored signatures are never lower-id than itself), then fold the
    batch's signatures into the store (``storage.append_batch`` — a
    replay rewrites its own partition, never corrupts history).
    Returns the surviving media rows."""
    import os

    check_tag("batch_id", batch_id)
    kind = _sig_kind(sig_kind)
    if max_distance is None:
        max_distance = kind["default_distance"]
    n_bands = resolve_bands(n_bands, max_distance, kind["n_bits"])
    codec = "real" if use_real_codec else "fake"
    _MEDIA_PARAMS.pin(store_path, codec=codec, sig_kind=sig_kind)

    from trialsync_etl_spark.cache import track_persist

    sig_fn = kind["real"] if use_real_codec else kind["fake"]
    sigs = track_persist(
        sig_fn(media, id_col=id_col, content_col=content_col).persist()
    )

    stored = read_media_signatures(spark, store_path)
    both = sigs if stored is None else sigs.unionByName(stored)
    # one banded join of the batch against history+self; the id-precedence
    # filter keeps exactly the lower-id neighbors
    batch_bands = dhash_bands(
        sigs, n_bands=n_bands, n_bits=kind["n_bits"]
    ).select(F.col("media_id").alias("b"), "band_idx", "band_val")
    other_bands = dhash_bands(
        both, n_bands=n_bands, n_bits=kind["n_bits"]
    ).select(F.col("media_id").alias("a"), "band_idx", "band_val")
    cand = (
        batch_bands.join(other_bands, ["band_idx", "band_val"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    sa = both.select(F.col("media_id").alias("a"), F.col("dhash").alias("__ha"))
    sb = sigs.select(F.col("media_id").alias("b"), F.col("dhash").alias("__hb"))
    drops = (
        cand.join(sa, "a")
        .join(sb, "b")
        .filter(
            F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb")))
            <= max_distance
        )
        .select(F.col("b").alias("__drop"))
        .distinct()
    )
    survivors = media.join(
        drops, media[id_col] == F.col("__drop"), "left_anti"
    ).localCheckpoint(eager=True)
    # fold AFTER the verdicts are materialized (the checkpoint): the
    # probe must never see its own batch through the store
    append_batch(sigs, os.path.join(store_path, MEDIA_SIGS_TABLE), batch_id)
    sigs.unpersist()
    return survivors


# ---------------------------------------------------------------------------
# crop/letterbox-tolerant signature: 1-D DCT pHash (r14)
# ---------------------------------------------------------------------------
#: pHash (the public DCT perceptual hash): resample, take the LOWEST
#: ``PHASH_N_COEFF`` DCT-II coefficients (skipping DC), emit one bit per
#: coefficient vs their median. Low-frequency signs survive small crops
#: and re-encodes BECAUSE of the fixed-extent resample — the content
#: only shifts slightly in the basis — where dHash's adjacent-cell
#: comparisons are local high-frequency features that a crop re-aligns
#: wholesale. Letterboxing is handled the published way: black-bar
#: detection + trim BEFORE hashing (:func:`trim_black_borders`).
#:
#: The cosine table is PRECOMPUTED and rounded at 6 dp so a DuckDB
#: oracle can inline the identical constants: both engines then run the
#: same IEEE multiply/accumulate sequence and the bits match exactly.
import math as _math

PHASH_N_COEFF = 32
PHASH_COS: list[list[float]] = [
    [
        round(_math.cos(_math.pi * (n + 0.5) * k / N_CELLS), 6)
        for n in range(N_CELLS)
    ]
    for k in range(1, PHASH_N_COEFF + 1)
]


def trim_black_borders(pixels: list[int] | bytes, min_run: int = 4) -> list[int]:
    """Strip leading/trailing runs of PURE-BLACK (0) pixels of length ≥
    ``min_run`` — letterbox-bar removal (bars are black; content is
    virtually never pure 0 for ≥ min_run at an edge). Integer-only, so
    a SQL oracle replays it exactly; an all-black input is returned
    unchanged (nothing left to hash)."""
    px = list(pixels)
    n = len(px)
    lead = 0
    while lead < n and px[lead] == 0:
        lead += 1
    if min_run <= lead < n:
        px = px[lead:]
    n = len(px)
    trail = 0
    while trail < n and px[n - 1 - trail] == 0:
        trail += 1
    if min_run <= trail < n:
        px = px[: n - trail]
    return px


def phash_from_pixels(pixels: list[int] | bytes) -> int:
    """The 32-bit 1-D pHash: black-border trim → block-average to
    N_CELLS → DCT-II coefficients 1..32 (6 dp cosine table) → bit k set
    iff X_{k+1} > median(X) (median = mean of the two middle order
    statistics — PHASH_N_COEFF is even)."""
    cells = gray_cells(trim_black_borders(pixels))
    X = [
        sum(cells[n] * PHASH_COS[k][n] for n in range(N_CELLS))
        for k in range(PHASH_N_COEFF)
    ]
    srt = sorted(X)
    med = (srt[PHASH_N_COEFF // 2 - 1] + srt[PHASH_N_COEFF // 2]) / 2
    h = 0
    for k in range(PHASH_N_COEFF):
        if X[k] > med:
            h |= 1 << k
    return h


def fake_image_phash(
    media: DataFrame, id_col: str = "media_id", content_col: str = "content"
) -> DataFrame:
    """pHash extraction with the byte-domain fake codec (the
    fake_image_dhash discipline: content bytes ARE the pixels). Emits
    the signature under the shared ``dhash`` column name — the packed
    signature column, whatever kind the store meta pins."""
    import pandas as pd

    def extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "dhash": [
                        phash_from_pixels(bytes(b)) for b in pdf[content_col]
                    ],
                }
            )

    return media.mapInPandas(extract, schema=SIG_SCHEMA)


def image_phash(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
    width: int = 256,
) -> DataFrame:
    """REAL-codec pHash (PIL decode → grayscale → pixel sequence → the
    same trim/DCT/median packing as the fake). Import-gated like
    :func:`image_dhash`."""
    try:
        from PIL import Image  # noqa: F401  # type: ignore
    except ImportError as exc:
        raise NotImplementedError(
            "PIL not installed in this environment; use fake_image_phash "
            "(same schema/batching) or install pillow"
        ) from exc

    import io  # pragma: no cover

    import pandas as pd  # pragma: no cover

    def extract(batches):  # pragma: no cover
        from PIL import Image

        for pdf in batches:
            rows = []
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                img = Image.open(io.BytesIO(bytes(content))).convert("L")
                img = img.resize((width, max(1, width * img.height // img.width)))
                rows.append((mid, phash_from_pixels(list(img.getdata()))))
            yield pd.DataFrame(rows, columns=["media_id", "dhash"])

    return media.mapInPandas(extract, schema=SIG_SCHEMA)  # pragma: no cover


#: registry of signature kinds: extraction twins, packed width, and the
#: distance at which two images count as near-dups. One shared band/
#: verify/cluster machinery behind all of them; the store meta pins the
#: kind so signature spaces never silently mix.
SIG_KINDS: dict[str, dict] = {
    "dhash63": {
        "fake": fake_image_dhash,
        "real": image_dhash,
        "n_bits": N_BITS,
        "default_distance": 3,
    },
    "phash32": {
        "fake": fake_image_phash,
        "real": image_phash,
        "n_bits": PHASH_N_COEFF,
        "default_distance": 10,
    },
}


def plateau_image(seed: int, n: int, master_res: int = 1024) -> bytes:
    """A deterministic 'photo-like' grayscale image for the pHash
    oracles: a dim baseline with two bright plateaus whose positions,
    widths, and brightnesses derive from an integer hash of the seed —
    the 1-D analog of a composition of light and dark regions. Pure
    integer arithmetic (a SQL oracle regenerates every pixel); sampled
    from a fixed master resolution so re-encodes at other sizes are the
    same image. Distinct seeds differ in low-frequency structure —
    exactly what pHash fingerprints — while crops only SHIFT that
    structure slightly (the dHash-defeating, pHash-surviving transform;
    :func:`triangle_image`'s high-frequency waves are the opposite
    regime, which is why the dHash oracle uses them)."""
    out = bytearray()
    s1 = _h32(seed, 1) % 600
    w1 = 200 + _h32(seed, 2) % 300
    s2 = _h32(seed, 3) % 700
    w2 = 100 + _h32(seed, 4) % 250
    v1 = 60 + _h32(seed, 5) % 100
    v2 = 40 + _h32(seed, 6) % 80
    for i in range(n):
        x = i * master_res // n
        p = 32
        if s1 <= x < s1 + w1:
            p += v1
        if s2 <= x < s2 + w2:
            p += v2
        out.append(min(255, p))
    return bytes(out)


def _h32(seed: int, j: int) -> int:
    """Knuth-style integer hash, exactly replayable in SQL BIGINTs."""
    return ((seed * 1_000_003 + j) * 2_654_435_761) % (2**32)


# ---------------------------------------------------------------------------
# audio fingerprint near-dup: envelope-difference bits (r14)
# ---------------------------------------------------------------------------
#: the audio member of the signature family — the Haitsma-Kalker (2002)
#: shape: bits from DIFFERENCES of frame energies, here the amplitude
#: ENVELOPE (mean |sample − midpoint| per resampled frame) through the
#: same adjacent-comparison packing as dHash. The envelope makes the
#: fingerprint invariant to exactly the transforms audio re-uploads
#: carry: polarity inversion (|x−128| is unchanged — raw dHash flips
#: ALL 63 bits), volume scaling (adjacent-energy ORDER survives a gain
#: change), and resampling (the fixed-frame resample, as with images).


def envelope_from_samples(samples: list[int] | bytes) -> list[int]:
    """Per-sample amplitude deviation from the unsigned-PCM midpoint."""
    return [abs(int(x) - 128) for x in samples]


def afp_from_samples(samples: list[int] | bytes) -> int:
    """The 63-bit envelope fingerprint: deviations → N_CELLS frame
    energies (block means) → one bit per adjacent-frame comparison —
    :func:`dhash_from_pixels` over the envelope."""
    return dhash_from_pixels(envelope_from_samples(samples))


def fake_audio_fingerprint(
    media: DataFrame, id_col: str = "media_id", content_col: str = "content"
) -> DataFrame:
    """Fingerprint extraction with the byte-domain fake codec: content
    bytes ARE the unsigned 8-bit PCM samples. One Arrow stage; emits
    under the shared packed-signature column name."""
    import pandas as pd

    def extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "dhash": [
                        afp_from_samples(bytes(b)) for b in pdf[content_col]
                    ],
                }
            )

    return media.mapInPandas(extract, schema=SIG_SCHEMA)


def audio_fingerprint(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """REAL-codec fingerprint (soundfile decode → mono → 8-bit-centered
    samples → the same envelope packing). Import-gated like the image
    codecs; the fake twin exercises identical schema and plumbing."""
    try:
        import soundfile  # noqa: F401  # type: ignore
    except ImportError as exc:
        raise NotImplementedError(
            "soundfile not installed in this environment; use "
            "fake_audio_fingerprint (same schema/batching) or install it"
        ) from exc

    import io  # pragma: no cover

    import pandas as pd  # pragma: no cover

    def extract(batches):  # pragma: no cover
        import soundfile as sf

        for pdf in batches:
            rows = []
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                data, _ = sf.read(io.BytesIO(bytes(content)))
                if getattr(data, "ndim", 1) > 1:
                    data = data.mean(axis=1)
                samples = [int(max(0, min(255, 128 + x * 127))) for x in data]
                rows.append((mid, afp_from_samples(samples)))
            yield pd.DataFrame(rows, columns=["media_id", "dhash"])

    return media.mapInPandas(extract, schema=SIG_SCHEMA)  # pragma: no cover


SIG_KINDS["audio_env63"] = {
    "fake": fake_audio_fingerprint,
    "real": audio_fingerprint,
    "n_bits": N_BITS,
    "default_distance": 6,
}
