"""Trainable language identification — a fastText-style char-n-gram
hashed linear classifier (beyond-reference op).

Public-knowledge shape (Joulin et al. 2016, "Bag of Tricks for Efficient
Text Classification", re-expressed Spark-first): character n-grams of
orders ``MIN_GRAM_K..GRAM_K`` (1..3 — unigrams carry the script signal
for CJK, trigrams separate Latin near-neighbors) of the lowercased text
are hashed into ``N_BUCKETS`` buckets (the hashing trick), the
per-language score is a linear model over the normalized bucket counts,
and the prediction is the argmax. The committed model covers 21
languages across 7 scripts (ar cs de el en es fi fr hi it ja ko nl pl
pt ru sv th tr uk zh — Latin, Cyrillic, Arabic, CJK, Thai, Greek,
Devanagari). Training runs ONCE
offline on a labeled fixture (MLlib multinomial logistic regression over
driver-bounded data — language-ID models train on thousands of labeled
sentences, not the corpus); inference is a PURE COLUMN EXPRESSION with
the fitted weight vectors inlined as array literals — one narrow map
over the corpus, zero exchanges, zero python stages (the plan gate pins
this), and a DuckDB oracle recomputes the exact scores from the same
constants. Past ``INLINE_MAX_CELLS`` (languages × buckets) the literal
plan is the wrong shape; :func:`langid_table_scores` scores through a
broadcast weight-TABLE join instead — bit-identical output, O(1) plan
in breadth — and ``inline="auto"`` picks per model (the committed
xxhash64 production twin, 21×4096 cells, rides the table path).

This replaces the stopword-marker heuristic (textstats.LANG_MARKERS —
five markers per language, inert on text that avoids them) wherever the
``lang`` signal is load-bearing: the curation funnel's language gate,
the dataset card's dominant-language column, and the per-source language
drift monitor.

Hashing is md5-based (the repo's cross-engine idiom — DuckDB reproduces
it bit-for-bit). A production deployment at 100 TB would re-train with
``xxhash64`` buckets for cheaper hashing; the recipe is hash-agnostic
because training and scoring share the bucket function.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from trialsync_etl_spark.storage import atomic_write_json

#: highest char-n-gram order; inference mixes orders MIN_GRAM_K..GRAM_K
#: (the fastText recipe — unigrams carry the script signal for CJK,
#: trigrams separate Latin-script near-neighbors)
GRAM_K = 3
MIN_GRAM_K = 1
#: hashed feature dimensionality; collisions are part of the recipe
#: (256 collided CJK into Latin once the language set spanned 4 scripts)
N_BUCKETS = 1024
#: prediction for documents too short to carry a single trigram
UNDETERMINED = "und"

#: weights are exported at 4 dp, so ``w * WEIGHT_SCALE`` is an exact
#: integer — the per-document weight sum is an INTEGER sum (bit-stable
#: under any summation order, the Kneser-Ney lesson) and both engines
#: divide back down identically: (sum / 10000.0) / n
WEIGHT_SCALE = 10_000


def scaled_weights(model: "LangIdModel", lang: str) -> list[int]:
    """The language's weight vector as exact scaled integers — the ONE
    derivation both the Spark fold and the SQL oracle must share."""
    return [int(round(w * WEIGHT_SCALE)) for w in model.weights[lang]]

_DATA_DIR = os.path.join(os.path.dirname(os.path.dirname(__file__)), "data")
FIXTURE_PATH = os.path.join(_DATA_DIR, "langid_fixture.json")
MODEL_PATH = os.path.join(_DATA_DIR, "langid_model.json")
FAST_MODEL_PATH = os.path.join(_DATA_DIR, "langid_model_xxhash.json")


def char_ngrams(text: Column, k: int = GRAM_K) -> Column:
    """All overlapping char k-grams of ``lower(text)`` as an array —
    ``transform`` over a position sequence with ``substr`` (the lambda
    only touches the cheap column reference, never a computed subtree:
    the word_shingles HOF-capture hazard does not apply). Shorter-than-k
    docs yield an empty array.

    Two Unicode full-casing rows are PRE-FOLDED before ``lower`` because
    the engines disagree on them (r15, found by the Turkish fixture):
    Java lowers dotted-capital İ (U+0130) to ``i`` + combining dot —
    TWO codepoints, shifting every downstream gram — where DuckDB's
    utf8proc folds it to one ``i``; and Java applies the contextual
    final-sigma rule (Σ→ς at word end) where utf8proc always yields σ.
    ``translate(text, 'İΣ', 'iσ')`` on this side and nested
    ``replace()`` in the oracle make both engines see the same
    codepoints; every other case mapping the fixture's 7 scripts
    exercise folds identically."""
    low = F.lower(F.translate(text, "İΣ", "iσ"))
    n = F.length(low)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1), lambda i: low.substr(i, F.lit(k))
        ),
    ).otherwise(F.array().cast("array<string>"))


def gram_buckets(
    text: Column,
    n_buckets: int = N_BUCKETS,
    k: int = GRAM_K,
    hash_fn: str = "md5",
    min_k: int | None = None,
) -> Column:
    """Each gram's hashed bucket (0..n_buckets-1), over every order in
    ``min_k..k`` (default: just ``k``). Multi-order grams are the
    fastText recipe for script breadth: a CJK page shares almost no
    TRIgrams with 16 training sentences (the character inventory is
    huge), but its UNIgrams are each a strong signal — mixing orders
    1..3 took the round-14 12-language holdout from 0.90 to 0.94.
    ``md5`` is the cross-engine idiom (first 15 hex chars → BIGINT →
    modulo — a DuckDB oracle reproduces it bit-for-bit); ``xxhash64`` is
    the PRODUCTION hash (pure codegen, no hex round-trip — DuckDB can't
    replay it, so the fast twin is pinned against the md5 model's
    PREDICTIONS instead, the dedup_minhash_lsh_fast discipline). A model
    scores only with the hash it was trained under — the bucket space is
    the feature space."""
    return F.transform(
        gram_array(text, k, min_k),
        lambda g: bucket_of(g, n_buckets, hash_fn),
    )


def gram_array(text: Column, k: int = GRAM_K, min_k: int | None = None) -> Column:
    """Every gram of orders ``min_k..k`` as one concatenated array —
    the shared extraction behind both the inline fold
    (:func:`gram_buckets`) and the table path's explode."""
    lo = k if min_k is None else min_k
    if not (1 <= lo <= k):
        raise ValueError(f"need 1 <= min_k <= k, got min_k={lo}, k={k}")
    if lo == k:
        return char_ngrams(text, k)
    return F.concat(*[char_ngrams(text, kk) for kk in range(lo, k + 1)])


def bucket_of(g: Column, n_buckets: int, hash_fn: str) -> Column:
    """One gram's hashed bucket as a plain column expression — inside a
    ``transform`` lambda it runs interpreted (the HOF price); applied
    AFTER an explode it rides whole-stage codegen, which is why the
    table path hashes post-explode."""
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64(g), n_buckets).cast("int")
    if hash_fn != "md5":
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    return (
        F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")
        % n_buckets
    ).cast("int")


@dataclass(frozen=True)
class LangIdModel:
    """Fitted per-language weight vectors (length ``n_buckets``) and
    intercepts, exported from MLlib into plain floats — JSON-serializable
    and literal-inlineable. ``langs`` (sorted) is the class order and the
    argmax tie-break order; ``hash_fn`` pins the bucket space the model
    was trained in (scoring with another hash is silently wrong — the
    model carries its own)."""

    weights: dict[str, list[float]]
    intercepts: dict[str, float]
    n_buckets: int = N_BUCKETS
    k: int = GRAM_K
    hash_fn: str = "md5"
    #: lowest gram order; min_k == k means single-order (the r13 shape),
    #: min_k < k mixes orders min_k..k (the script-breadth shape)
    min_k: int = GRAM_K

    @property
    def langs(self) -> tuple[str, ...]:
        return tuple(sorted(self.weights))

    def save(self, path: str) -> None:
        atomic_write_json(
            path,
            {
                "weights": self.weights,
                "intercepts": self.intercepts,
                "n_buckets": self.n_buckets,
                "k": self.k,
                "hash_fn": self.hash_fn,
                "min_k": self.min_k,
            },
        )

    @classmethod
    def load(cls, path: str) -> "LangIdModel":
        with open(path) as f:
            d = json.load(f)
        return cls(
            weights={l: [float(w) for w in ws] for l, ws in d["weights"].items()},
            intercepts={l: float(b) for l, b in d["intercepts"].items()},
            n_buckets=int(d["n_buckets"]),
            k=int(d["k"]),
            hash_fn=d.get("hash_fn", "md5"),
            min_k=int(d.get("min_k", d["k"])),
        )


_default_model: LangIdModel | None = None
_fast_model: LangIdModel | None = None


def default_langid_model() -> LangIdModel:
    """The committed fitted model (trained by
    scripts/train_langid_model.py on the labeled fixture at
    ``data/langid_fixture.json`` — seeded, LBFGS, reproducible). Loaded
    lazily so importing the module never costs file IO on paths that
    pass an explicit model. md5 buckets — the oracle-checkable parity
    path."""
    global _default_model
    if _default_model is None:
        _default_model = LangIdModel.load(MODEL_PATH)
    return _default_model


def fast_langid_model() -> LangIdModel:
    """The committed xxhash64 twin — the PRODUCTION hash (pure codegen,
    no md5 hex round-trip per trigram). Same fixture, same trainer, its
    own bucket space; pinned to agree with the md5 model's predictions
    on the held-out fixture (the fast-twin discipline)."""
    global _fast_model
    if _fast_model is None:
        _fast_model = LangIdModel.load(FAST_MODEL_PATH)
    return _fast_model


def load_fixture(spark, split: str | None = None) -> DataFrame:
    """The committed labeled fixture as (lang, split, text)."""
    with open(FIXTURE_PATH) as f:
        rows = json.load(f)["rows"]
    if split is not None:
        rows = [r for r in rows if r["split"] == split]
    return spark.createDataFrame(
        [(r["lang"], r["split"], r["text"]) for r in rows],
        "lang string, split string, text string",
    )


def train_langid_model(
    labeled: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    n_buckets: int = N_BUCKETS,
    k: int = GRAM_K,
    max_iter: int = 500,
    reg_param: float = 0.00001,
    hash_fn: str = "md5",
    min_k: int | None = MIN_GRAM_K,
) -> LangIdModel:
    """Fit the classifier on labeled sentences and export plain-float
    coefficients. The feature vector is the L1-normalized hashed
    gram-count histogram (counts / n_grams — exactly what inference
    recomputes). Bucketing runs in SPARK (one narrow job — the hash
    semantics, md5-conv or xxhash64, must be the engine's own); the
    histogram assembly then happens driver-side as SparseVectors (the
    labeled set is fixture-sized by design, and the old in-engine dense
    fold was O(n_buckets × grams) per sentence — 4× the training wall
    time the moment the bucket space grew to 1024). MLlib multinomial
    LBFGS over a single coalesced partition is deterministic for a
    fixed input; the 100 TB corpus only ever sees the literal
    expression from :func:`langid_scores`."""
    from collections import Counter

    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.linalg import Vectors

    langs = tuple(
        sorted(
            r[0]
            for r in labeled.select(label_col).distinct().collect()
        )
    )
    lang_index = {l: i for i, l in enumerate(langs)}
    buckets = gram_buckets(F.col(text_col), n_buckets, k, hash_fn, min_k)
    rows = labeled.select(
        F.col(label_col).alias("lang"), buckets.alias("bs")
    ).collect()
    data = []
    for r in rows:
        if not r.bs:
            continue
        counts = Counter(r.bs)
        n = float(len(r.bs))
        vec = Vectors.sparse(
            n_buckets,
            sorted(counts), [counts[b] / n for b in sorted(counts)],
        )
        data.append((float(lang_index[r.lang]), vec))
    spark = labeled.sparkSession
    assembled = spark.createDataFrame(data, ["label", "features"]).coalesce(1)
    model = LogisticRegression(
        maxIter=max_iter,
        regParam=reg_param,
        family="multinomial",
        standardization=False,
    ).fit(assembled)
    coef = model.coefficientMatrix.toArray()
    inter = model.interceptVector.toArray()
    return LangIdModel(
        weights={
            l: [round(float(w), 4) for w in coef[i]]
            for i, l in enumerate(langs)
        },
        intercepts={l: round(float(inter[i]), 4) for i, l in enumerate(langs)},
        n_buckets=n_buckets,
        k=k,
        hash_fn=hash_fn,
        min_k=k if min_k is None else min_k,
    )


def _let(value: Column, body) -> Column:
    """Let-binding for column expressions: evaluate ``value`` ONCE, bind
    it to a lambda variable, and build ``body`` over that variable.
    Higher-order functions are interpreted (CodegenFallback) — no
    common-subexpression elimination applies to them, so an expression
    tree that references an expensive subtree (here: the weight fold)
    several times re-evaluates it per reference per row (the
    word_shingles lesson). ``transform`` over a one-element array is the
    standard rewrite: the array element is computed once, the lambda's
    references to its variable are free."""
    return F.element_at(F.transform(F.array(value), body), 1)


def _fold_struct(text: Column, model: LangIdModel) -> Column:
    """struct(n, s): the gram count and the ARRAY of every language's
    raw weight sum (``langs`` order). The bucket array is LET-BOUND so
    the hash pass runs once; each language's sum is then ONE scalar fold
    over the bound buckets against that language's FLAT weight literal
    — one ``element_at`` + one add per (gram, language), no per-gram
    array allocation. (The r13 shape — a struct accumulator rebuilt per
    gram — allocated an L-field struct per gram and embedded per-field
    weight lookups; at L=12 × mixed gram orders that construction
    dominated the runtime. A nested W[lang][bucket] literal is worse
    still: interpreted HOFs re-evaluate the CreateArray-of-CreateArrays
    per reference.)"""
    langs = model.langs
    buckets = gram_buckets(
        text, model.n_buckets, model.k, model.hash_fn, model.min_k
    )
    # one parsed SQL literal per language: F.lit(list) issues one py4j
    # call PER ELEMENT (12 × 1024 elements cost ~10 s of query BUILD
    # time); parsing "array(…)" is one call and milliseconds
    ws = {
        l: F.expr(
            "array("
            + ",".join(f"{w}L" for w in scaled_weights(model, l))
            + ")"
        )
        for l in langs
    }

    def _sum_for(lang: str):
        # bind the language OUTSIDE the lambda: default-arg binding
        # would change the lambda's arity and break PySpark's
        # higher-order-function argument inspection
        def merge(acc, b):
            return acc + F.element_at(ws[lang], b + 1)

        return merge

    return _let(
        buckets,
        lambda bs: F.struct(
            F.size(bs).alias("n"),
            F.array(
                *[
                    F.aggregate(bs, F.lit(0).cast("long"), _sum_for(l))
                    for l in langs
                ]
            ).alias("s"),
        ),
    )


def _half_away_div(a: Column, d: Column) -> Column:
    """Exact integer division of longs rounded half-away-from-zero
    (``d > 0``): ``sign(a) * ((2|a| + d) div 2d)``. The div itself is
    the pmod identity ``(x - x % den) / den`` — the true quotient is an
    integer and the numerator stays below 2^53, so the double division
    is exact. This is what keeps every score an EXACT decimal on both
    engines: float ``round()`` differs between Spark (BigDecimal
    HALF_UP on the shortest repr) and DuckDB (binary) exactly at ties,
    which r14 hit on the 13-language model.

    The < 2^53 premise is GUARDED, not assumed: ``a = s·10^4`` grows
    with gram count × scaled weights, and a document of tens of
    millions of grams would push ``2|a| + d`` past exact-double range —
    silent drift in a bit-identity contract. Such rows raise instead
    (the langid score of a ~100 MB single document is not a meaningful
    quantity; chunk upstream)."""
    den = d * 2
    mag = F.abs(a) * 2 + d
    q = ((mag - F.pmod(mag, den)) / den).cast("long")
    exact = F.when(a < 0, -q).otherwise(q)
    # condition spelled as ">= raises" so NULL operands (n=0 docs give
    # d NULL via nullif) fall through to the exact branch's NULL, never
    # into raise_error — CaseWhen takes otherwise on a NULL condition
    return F.when(
        mag >= F.lit(1 << 53),
        F.raise_error(
            F.concat(
                F.lit(
                    "_half_away_div: |2a + d| >= 2^53 — double division "
                    "would lose exactness (a="
                ),
                a.cast("string"),
                F.lit(", d="),
                d.cast("string"),
                F.lit("); chunk oversized documents upstream"),
            )
        ),
    ).otherwise(exact)


def _score_of(v: Column, lang: str, model: LangIdModel) -> Column:
    """The 6 dp score ``intercept + sum/(WEIGHT_SCALE·n)`` computed in
    EXACT integer arithmetic (8 dp intermediate, half-away rounding at
    each decimal step) and divided down by 1e6 only at the end — both
    engines produce the bit-identical double. NULL for gram-less docs."""
    i = model.langs.index(lang)
    n = F.nullif(v["n"].cast("long"), F.lit(0))
    s = F.element_at(v["s"], i + 1)
    b8 = F.lit(int(round(model.intercepts[lang] * 10**8)))
    r8 = _half_away_div(s * F.lit(10**4), n)
    s6 = _half_away_div(b8 + r8, F.lit(100))
    return s6.cast("double") / F.lit(1_000_000.0)


def _pred_of(v: Column, model: LangIdModel) -> Column:
    """Argmax over the bound fold value:
    ``langs[array_position(scores, array_max(scores))]`` — O(L), ties to
    the earlier (sorted) language because array_position returns the
    FIRST match (the O(L²) when-chain this replaces had the same
    tie-break); 'und' when no trigram exists."""
    langs = model.langs
    scores = F.array(*[_score_of(v, l, model) for l in langs])
    idx = F.array_position(scores, F.array_max(scores))
    pred = F.element_at(
        F.lit(list(langs)), idx.cast("int")
    )
    return F.when(v["n"] == 0, UNDETERMINED).otherwise(pred)


def langid_struct(
    text: Column, model: LangIdModel | None = None
) -> Column:
    """EVERYTHING in one evaluation: struct(n_grams, s_<lang>…,
    lang_pred) with the hash pass and the weight fold computed exactly
    once per row (let-bound). Callers that need several outputs select
    THIS once and unpack the fields in a second projection —
    CollapseProject keeps a multiply-referenced non-cheap alias
    un-inlined, so the fold still runs once per row."""
    model = model or default_langid_model()
    langs = model.langs
    return _let(
        _fold_struct(text, model),
        lambda v: F.struct(
            v["n"].cast("long").alias("n_grams"),
            *[_score_of(v, l, model).alias(f"s_{l}") for l in langs],
            _pred_of(v, model).alias("lang_pred"),
        ),
    )


def langid_scores(
    text: Column, model: LangIdModel | None = None
) -> dict[str, Column]:
    """Per-language linear scores as pure column expressions. NOTE: each
    returned column carries its own fold — selecting several of them
    re-hashes per column. Multi-output consumers should select
    :func:`langid_struct` once and unpack instead (the parity query
    does)."""
    model = model or default_langid_model()
    return {
        l: _let(
            _fold_struct(text, model), lambda v, _l=l: _score_of(v, _l, model)
        )
        for l in model.langs
    }


def detect_language_model(
    text: Column, model: LangIdModel | None = None
) -> Column:
    """The predicted language: argmax with ties broken by sorted
    language order, ``'und'`` for docs without a single trigram. Pure
    JVM expressions, zero exchanges, zero python stages (plan-gated);
    the hash pass + fold run ONCE per row (let-bound)."""
    model = model or default_langid_model()
    return _let(
        _fold_struct(text, model), lambda v: _pred_of(v, model)
    )


def annotate_language(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "lang_pred",
    model: LangIdModel | None = None,
    inline: bool | str = "auto",
    id_col: str = "doc_id",
) -> DataFrame:
    """``df`` plus the model's predicted-language column — the
    annotation step the funnel, dataset card, and drift monitor share.
    ``inline="auto"`` (default) picks the literal-inlined zero-exchange
    expression while the model fits ``INLINE_MAX_CELLS``, else the
    broadcast weight-table join (:func:`langid_table_scores`) whose
    plan is O(1) in breadth; the table path re-attaches predictions by
    ``id_col``. Predictions are bit-identical either way (parity is
    test-pinned)."""
    model = model or default_langid_model()
    use_inline = inline if isinstance(inline, bool) else should_inline(model)
    if use_inline:
        return df.withColumn(
            out_col, detect_language_model(F.col(text_col), model)
        )
    preds = langid_table_scores(df, id_col, text_col, model).select(
        F.col(id_col), F.col("lang_pred").alias(out_col)
    )
    return df.join(preds, id_col)


def language_mask(
    text: Column,
    allowed: tuple[str, ...],
    model: LangIdModel | None = None,
) -> Column:
    """The funnel-stage predicate: keep docs whose predicted language is
    in ``allowed`` (``'und'`` is kept only if listed). Always the
    literal-inlined expression — DataFrame-holding callers should use
    :func:`language_gate`, which routes by model size."""
    return detect_language_model(text, model).isin(*allowed)


def language_gate(
    df: DataFrame,
    allowed: tuple[str, ...],
    model: LangIdModel | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Keep rows whose predicted language is in ``allowed`` — the
    funnel-stage gate BOTH cadences share (batch ``curate_corpus`` and
    ``CurateStreamSink``), routed by model size like every other
    inference surface: below ``INLINE_MAX_CELLS`` the literal-inlined
    :func:`language_mask` predicate (zero exchanges), above it a
    left-semi join against the broadcast weight-table scores (the
    committed 21-language breadth — the inline plan there pays L
    interpreted gram-folds per row and OOM'd default-heap sessions).
    Predictions are bit-identical either way (parity test-pinned), so
    the kept set cannot differ between routes."""
    model = model or default_langid_model()
    if should_inline(model):
        return df.filter(language_mask(F.col(text_col), allowed, model))
    keep = (
        langid_table_scores(df, id_col, text_col, model)
        .filter(F.col("lang_pred").isin(*allowed))
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


#: above this many weight cells (languages × buckets) ``inline="auto"``
#: switches from literal-inlined vectors to the broadcast weight-table
#: join: the inlined plan is O(L × n_buckets) literals — zero exchanges,
#: but plan build, serialization, and per-task evaluation all pay it per
#: query. Measured at the 21-language breadth (21·1024 = 21.5K cells):
#: ~19 s of query BUILD alone, and executor tasks of a default-heap
#: (1 g) session OOM'd mid-suite under the interpreted 21-fold plan —
#: while the broadcast-table twin plans in milliseconds and carries a
#: ~200 KB relation. The ceiling therefore sits BELOW that breadth: the
#: 13-language r14 model (13.3K cells) stays inline, anything wider
#: rides the table join (bit-identical output, parity test-pinned).
INLINE_MAX_CELLS = 16 * 1024


def weights_table(spark, model: LangIdModel | None = None) -> DataFrame:
    """The model's scaled-integer weights as a (bucket, w_<lang>…)
    relation — n_buckets rows × L+1 columns, built driver-side from the
    same :func:`scaled_weights` integers the inline fold and the SQL
    oracle share. KB-scale at any realistic breadth (170 languages ×
    1024 buckets × 8 bytes ≈ 1.4 MB) — always broadcastable."""
    model = model or default_langid_model()
    cols = {l: scaled_weights(model, l) for l in model.langs}
    rows = [
        (b, *[cols[l][b] for l in model.langs])
        for b in range(model.n_buckets)
    ]
    schema = "bucket int, " + ", ".join(
        f"w_{l} long" for l in model.langs
    )
    return spark.createDataFrame(rows, schema)


def langid_table_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    model: LangIdModel | None = None,
) -> DataFrame:
    """Table-mode inference — the breadth-scale twin of
    :func:`langid_struct`: explode each document's hashed gram buckets,
    broadcast-join the weight TABLE (:func:`weights_table`), integer-sum
    per (doc, language), then the SAME exact-integer score and argmax
    expressions as the inline path. Returns (id_col, n_grams, s_<lang>…,
    lang_pred) — bit-identical to the inline path's output (the sums are
    order-independent BIGINTs; parity is test-pinned).

    Plan shape: scan → narrow explode → ONE BroadcastHashJoin → partial
    aggregate → one exchange on ``id_col`` → final aggregate → project.
    Zero python stages. Costs one shuffle the inline path avoids, but
    the plan is O(1) in breadth — the fastText-170 shape; the DuckDB
    oracle has joined a weights table since r14, so both engines now
    share it. ``explode_outer`` keeps gram-less docs as a NULL-bucket
    row → n_grams 0 → 'und', matching the inline path."""
    model = model or default_langid_model()
    langs = model.langs
    spark = df.sparkSession
    wt = weights_table(spark, model)
    # explode RAW grams, then hash as a plain column: inside the
    # transform lambda the hash runs interpreted per gram (the HOF
    # price); after the explode it rides whole-stage codegen
    ex = df.select(
        F.col(id_col),
        F.explode_outer(
            gram_array(F.col(text_col), model.k, model.min_k)
        ).alias("__g"),
    ).select(
        id_col,
        # NULL-guarded: xxhash64(NULL) returns the SEED, not NULL — an
        # explode_outer row for a gram-less doc must stay NULL so
        # count(__b) reads 0 and the doc lands on 'und'
        F.when(
            F.col("__g").isNotNull(),
            bucket_of(F.col("__g"), model.n_buckets, model.hash_fn),
        ).alias("__b"),
    )
    joined = ex.join(
        F.broadcast(wt), ex["__b"] == wt["bucket"], "left"
    )
    agg = joined.groupBy(id_col).agg(
        F.count("__b").alias("__n"),
        *[F.sum(f"w_{l}").alias(f"__sum_{l}") for l in langs],
    )
    packed = agg.select(
        F.col(id_col),
        _let(
            F.struct(
                F.col("__n").alias("n"),
                F.array(
                    *[
                        F.coalesce(F.col(f"__sum_{l}"), F.lit(0)).cast(
                            "long"
                        )
                        for l in langs
                    ]
                ).alias("s"),
            ),
            lambda v: F.struct(
                v["n"].cast("long").alias("n_grams"),
                *[_score_of(v, l, model).alias(f"s_{l}") for l in langs],
                _pred_of(v, model).alias("lang_pred"),
            ),
        ).alias("__ls"),
    )
    return packed.select(
        id_col,
        "__ls.n_grams",
        *[f"__ls.s_{l}" for l in langs],
        "__ls.lang_pred",
    )


def should_inline(model: LangIdModel | None = None) -> bool:
    """The ``inline="auto"`` decision: literal-inlined vectors while the
    plan stays small (``INLINE_MAX_CELLS``), the broadcast weight-table
    join beyond."""
    model = model or default_langid_model()
    return len(model.langs) * model.n_buckets <= INLINE_MAX_CELLS


def weights_sql(model: LangIdModel, lang: str) -> str:
    """The language's SCALED-INTEGER weight vector as a DuckDB BIGINT[]
    literal — the same exact integers the Spark fold sums
    (:func:`scaled_weights`), so a SQL oracle recomputes scores
    bit-for-bit under any summation order."""
    return (
        "[" + ", ".join(str(w) for w in scaled_weights(model, lang))
        + "]::BIGINT[]"
    )
