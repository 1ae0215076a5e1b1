"""Language-model perplexity — the CCNet-style statistical quality
signal (beyond-reference op), at three strengths:

- :func:`unigram_model` / :func:`doc_perplexity`: add-k unigram.
- :func:`bigram_model` / :func:`doc_perplexity_bigram`: interpolated
  add-k bigram — the first model that sees WORD ORDER.
- :func:`kn_tables` / :func:`doc_perplexity_kn_n`: interpolated
  Kneser-Ney of any order 2..5 (order 5 is the published CCNet KenLM
  configuration; order 3 is the driver's trigram member).

Every model reduces to pure relational algebra — which is exactly what
makes it a first-class engine operator instead of a UDF:

- TRAIN: one explode + groupBys over the reference corpus → log-prob
  tables (the tables ARE the model).
- SCORE: one explode + token-key joins + per-doc aggregate. At 100 TB
  the vocabulary of natural text is millions of rows — plain shuffle
  joins AQE can broadcast when a table is small and shuffle when it
  isn't; the corpus is scanned once, never collected.

Perplexity reads: LOW = the doc is made of tokens the reference corpus
uses constantly (boilerplate/repetition), HIGH = tokens the reference
rarely or never saw (gibberish, wrong language). Curation keeps a BAND.

Determinism across engines (the DuckDB oracle recomputes everything):
token counts are integers (exact); per-token log-probs are rounded to
8 dp IN THE MODEL so both engines aggregate identical values; the
per-doc mean is rounded to 6 dp (float sum-order noise is ~1e-15,
five orders below the rounding step); perplexity is derived FROM the
rounded mean, so the 4 dp result is bit-stable on both engines.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trialsync_etl_spark.operators.textstats import tokens


def unigram_model(
    docs: DataFrame, text_col: str = "text", add_k: float = 1.0
) -> tuple[DataFrame, float]:
    """Fit the unigram LM on a reference corpus: returns the (token,
    logp) vocabulary table and the unseen-token log-prob (add-``k``
    smoothing over N tokens and V+1 types — the +1 is the single UNK
    bucket every out-of-vocabulary token shares).

    The only driver-side transfer is the (N, V) scalar pair; the
    vocabulary table stays distributed (persist or write it like any
    other model artifact — it is a pure function of the corpus)."""
    toks = docs.select(F.explode(tokens(F.col(text_col))).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n_tokens, vocab = counts.agg(
        F.sum("c"), F.count(F.lit(1))
    ).first()
    if not n_tokens:
        raise ValueError("unigram_model: reference corpus has no tokens")
    denom = float(n_tokens) + add_k * (float(vocab) + 1.0)
    lm = counts.select(
        "tok",
        F.round(
            F.log((F.col("c") + F.lit(float(add_k))) / F.lit(denom)), 8
        ).alias("logp"),
    )
    return lm, round(math.log(add_k / denom), 8)


def doc_perplexity(
    docs: DataFrame,
    lm: DataFrame,
    unseen_logp: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc perplexity under the unigram LM: (doc_id, n_tokens,
    avg_logp, perplexity). Docs with no tokens are absent (no tokens, no
    distribution). One explode + one token join + one per-doc aggregate;
    unseen tokens take the model's smoothed UNK mass, never null."""
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    )
    scored = tok.join(lm, "tok", "left").select(
        "doc_id",
        F.coalesce(F.col("logp"), F.lit(float(unseen_logp))).alias("__lp"),
    )
    avg6 = F.round(F.avg("__lp"), 6)
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            avg6.alias("avg_logp"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "avg_logp",
            F.round(F.exp(-F.col("avg_logp")), 4).alias("perplexity"),
        )
    )


def perplexity_band_mask(
    docs: DataFrame,
    lm: DataFrame,
    unseen_logp: float,
    min_ppl: float,
    max_ppl: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Keep docs whose perplexity lies in [min_ppl, max_ppl] — the
    curation band (drop boilerplate below, gibberish above). Docs with
    no tokens score no perplexity and are dropped."""
    keep = (
        doc_perplexity(docs, lm, unseen_logp, id_col, text_col)
        .filter(
            (F.col("perplexity") >= F.lit(float(min_ppl)))
            & (F.col("perplexity") <= F.lit(float(max_ppl)))
        )
        .select(F.col("doc_id").alias("__keep_id"))
    )
    return docs.join(keep, docs[id_col] == keep.__keep_id, "semi")


def bigram_model(
    docs: DataFrame,
    text_col: str = "text",
    add_k: float = 1.0,
    persist: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame, dict]:
    """Fit an interpolated bigram LM on a reference corpus — the step
    from the unigram toward the real CCNet/KenLM recipe, and the signal
    a unigram structurally cannot see: WORD ORDER (a doc whose words are
    shuffled keeps its exact unigram perplexity; its bigram perplexity
    climbs because the transitions are unattested).

    Returns (uni, bi, ctx, scalars):

    - ``uni`` (tok, logp): the add-k unigram table, identical to
      :func:`unigram_model`'s (8 dp — the shared determinism contract).
    - ``bi`` (w1, w2, logp): log p(w2|w1) = ln((c(w1,w2)+k)/(c(w1)+
      k(V+1))) for every SEEN bigram, 8 dp.
    - ``ctx`` (w1, logp): the unseen-continuation mass of each seen
      context, ln(k/(c(w1)+k(V+1))) — what any unattested w2 costs
      after w1 (the bigram row that would exist for it), 8 dp.
    - ``scalars``: {add_k, unseen_logp} with unseen_logp the global
      unigram UNK mass (the full-backoff floor when w1 itself is
      out-of-vocabulary).

    All three tables stay distributed (bigram vocabularies are tens of
    millions of rows at scale); the only driver transfer is the (N, V)
    pair. Training is two groupBys over one positional explode.

    A caller that triggers SEVERAL actions over the returned tables
    (e.g. lm_store.build_lm_model's three writes) must pass
    ``persist=True``: the shared explode/counts lineage is then cached
    (pairs spill-to-disk, counts in memory) so the reference corpus is
    exploded once instead of once per action — the "scanned once" claim
    at the 100 TB shape. With it, ``scalars['unpersist']`` is a callable
    releasing both caches; invoke it after the last action."""
    from trialsync_etl_spark.operators.textstats import tokens

    pairs = docs.select(
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
        tokens(F.col(text_col)).alias("__toks"),
    ).select(
        "tok",
        F.when(
            F.col("pos") > 0, F.element_at(F.col("__toks"), F.col("pos"))
        ).alias("prev"),
    )
    if persist:
        from pyspark import StorageLevel

        pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    counts = pairs.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    if persist:
        counts = counts.persist()
    n_tokens, vocab = counts.agg(F.sum("c"), F.count(F.lit(1))).first()
    if not n_tokens:
        raise ValueError("bigram_model: reference corpus has no tokens")
    k = float(add_k)
    uni_denom = float(n_tokens) + k * (float(vocab) + 1.0)
    uni = counts.select(
        "tok",
        F.round(F.log((F.col("c") + F.lit(k)) / F.lit(uni_denom)), 8).alias(
            "logp"
        ),
    )
    # per-context denominator c(w1) + k(V+1): join bigram counts to the
    # unigram counts of their context — one shuffle on the token key
    ctx_denom = F.col("c") + F.lit(k * (float(vocab) + 1.0))
    ctx = counts.select(
        F.col("tok").alias("w1"),
        F.round(F.log(F.lit(k) / ctx_denom), 8).alias("logp"),
    )
    bi_counts = (
        pairs.filter(F.col("prev").isNotNull())
        .groupBy(F.col("prev").alias("w1"), F.col("tok").alias("w2"))
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    bi = (
        bi_counts.join(counts.withColumnRenamed("tok", "w1"), "w1")
        .select(
            "w1",
            "w2",
            F.round(
                F.log((F.col("c12") + F.lit(k)) / ctx_denom), 8
            ).alias("logp"),
        )
    )
    scalars = {
        "add_k": k,
        "unseen_logp": round(math.log(k / uni_denom), 8),
    }
    if persist:
        def _unpersist(_pairs=pairs, _counts=counts) -> None:
            _pairs.unpersist()
            _counts.unpersist()

        scalars["unpersist"] = _unpersist
    return uni, bi, ctx, scalars


def doc_perplexity_bigram(
    docs: DataFrame,
    uni: DataFrame,
    bi: DataFrame,
    ctx: DataFrame,
    unseen_logp: float,
    lam: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc perplexity under the interpolated bigram LM: per token,
    p = λ·p_bi(tok|prev) + (1−λ)·p_uni(tok), with the standard backoff
    ladder for the bigram term — the seen-bigram row, else the context's
    unseen-continuation mass, else (prev itself out-of-vocabulary) the
    token's unigram prob (full backoff, so λ degrades gracefully instead
    of punishing unseen contexts twice). A doc's FIRST token has no
    context and scores pure unigram. Same output contract as
    :func:`doc_perplexity`: (doc_id, n_tokens, avg_logp, perplexity).

    Determinism: every stored log-prob is 8 dp; the interpolation mixes
    exp() of identical rounded doubles, and the per-token result is
    re-rounded at 8 dp — a 1-ulp libm difference between engines is
    ~1e-15 absolute on logs of magnitude ≤ ~30, seven orders below the
    rounding step. The per-doc mean (6 dp) and perplexity (4 dp) follow
    the unigram cascade. Plan shape: one positional explode + three hash
    joins on token keys (AQE broadcasts small models, shuffles big ones)
    + one per-doc aggregate — the corpus is scanned once."""
    from trialsync_etl_spark.operators.textstats import tokens

    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
        tokens(F.col(text_col)).alias("__toks"),
    ).select(
        "doc_id",
        "tok",
        F.when(
            F.col("pos") > 0, F.element_at(F.col("__toks"), F.col("pos"))
        ).alias("prev"),
    )
    lp_uni = F.coalesce(F.col("__u"), F.lit(float(unseen_logp)))
    scored = (
        tok.join(uni.select(F.col("tok"), F.col("logp").alias("__u")), "tok", "left")
        .join(
            bi.select(
                F.col("w1").alias("prev"),
                F.col("w2").alias("tok"),
                F.col("logp").alias("__b"),
            ),
            ["prev", "tok"],
            "left",
        )
        .join(
            ctx.select(F.col("w1").alias("prev"), F.col("logp").alias("__c")),
            "prev",
            "left",
        )
    )
    lp_bi = F.coalesce(F.col("__b"), F.col("__c"), lp_uni)
    mixed = F.round(
        F.log(
            F.lit(float(lam)) * F.exp(lp_bi)
            + F.lit(1.0 - float(lam)) * F.exp(lp_uni)
        ),
        8,
    )
    per_tok = scored.select(
        "doc_id",
        F.when(F.col("prev").isNull(), lp_uni).otherwise(mixed).alias("__lp"),
    )
    return (
        per_tok.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("__lp"), 6).alias("avg_logp"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "avg_logp",
            F.round(F.exp(-F.col("avg_logp")), 4).alias("perplexity"),
        )
    )


def kn_tables(
    docs: DataFrame,
    order: int = 3,
    text_col: str = "text",
    discount: float = 0.75,
    persist: bool = False,
) -> tuple[list, dict]:
    """Fit an interpolated Kneser-Ney LM of any ``order`` in 2..5 (Chen
    & Goodman 1999, the public recipe behind the CCNet KenLM signal;
    order 5 is the published KenLM configuration) — absolute
    discounting with CONTINUATION counts at the lower orders: a word's
    unigram weight is how many distinct contexts it completes, not how
    often it occurs, which is what stops "Francisco" (frequent, but only
    ever after "San") from inflating every context. The recursion:

    - level ``order``: RAW n-gram counts discounted against the raw
      context total.
    - levels ``2..order-1``: CONTINUATION counts — each level's count
      table is the TYPE count of the level above (how many distinct
      left-extensions the gram has), its context total the sum of those
      types.
    - level 1: distinct-left-neighbor weights over adjacent pairs, the
      γ·V/B/(V+1) UNK floor.

    Returns ``(tables, scalars)`` where ``tables[0]`` is the unigram
    (tok, logp) and ``tables[n-1]`` for n ≥ 2 is ``(gram_n, ctx_n)``:
    gram_n = (w1..wn, logp) with p_n = max(cnt−D,0)/total +
    γ_n·p_{n−1}(w2..wn); ctx_n = (w1..w_{n−1}, logg) with
    ln γ_n = ln(D·n_follow/total). All logs 8 dp. ``scalars`` holds
    {discount, unk_logp, order} — unk_logp the unigram UNK mass
    ln(D·V/B/(V+1)), the full-backoff floor.

    Plan shape: ONE positional explode; per level one groupBy + (from
    level 2 up) two hash joins; only scalars reach the driver.
    ``persist=True`` caches the shared explode + top-level counts for
    multi-action callers (the store's 2·order−1 writes) —
    ``scalars['unpersist']`` releases them."""
    from trialsync_etl_spark.operators.textstats import tokens as _tokens

    d = float(discount)
    if not (0.0 < d < 1.0):
        raise ValueError(f"discount must be in (0, 1), got {discount}")
    if not (2 <= order <= 5):
        raise ValueError(f"order must be in 2..5, got {order}")

    toks = _tokens(F.col(text_col))
    # w{order} = the token; w{order-j} = j tokens back (present iff the
    # position allows) — one projection, shared by every level
    grams = docs.select(
        F.posexplode(toks).alias("pos", "tok"), toks.alias("__toks")
    ).select(
        F.col("tok").alias(f"w{order}"),
        *[
            F.when(
                F.col("pos") > j - 1,
                F.element_at(F.col("__toks"), F.col("pos") - (j - 1)),
            ).alias(f"w{order - j}")
            for j in range(1, order)
        ],
    )
    to_release = []
    if persist:
        from pyspark import StorageLevel

        grams = grams.persist(StorageLevel.MEMORY_AND_DISK)
        to_release.append(grams)

    # ---- level 1: continuation unigram over adjacent pairs ----
    bi_types = (
        grams.filter(F.col(f"w{order - 1}").isNotNull())
        .select(F.col(f"w{order - 1}").alias("a"), F.col(f"w{order}").alias("b"))
        .distinct()
    )
    if persist:
        bi_types = bi_types.persist()
        to_release.append(bi_types)
    uni_cont = bi_types.groupBy("b").agg(F.count(F.lit(1)).alias("n1p"))
    b_types, v_types = uni_cont.agg(F.sum("n1p"), F.count(F.lit(1))).first()
    if not b_types:
        raise ValueError(
            "kn_tables: reference corpus has no bigrams (need docs with "
            ">= 2 tokens)"
        )
    b_f, v_f = float(b_types), float(v_types)
    gamma_uni = d * v_f / b_f
    unk_logp = round(math.log(gamma_uni / (v_f + 1.0)), 8)
    uni = uni_cont.select(
        F.col("b").alias("tok"),
        F.round(
            F.log(
                F.greatest(F.col("n1p") - F.lit(d), F.lit(0.0)) / F.lit(b_f)
                + F.lit(gamma_uni / (v_f + 1.0))
            ),
            8,
        ).alias("logp"),
    )

    # ---- count ladder, top-down: raw at the top, types below ----
    top_cols = [f"w{i}" for i in range(1, order + 1)]
    counts_by_n: dict[int, DataFrame] = {}
    counts_by_n[order] = (
        grams.filter(F.col("w1").isNotNull())
        .groupBy(*top_cols)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if persist:
        counts_by_n[order] = counts_by_n[order].persist()
        to_release.append(counts_by_n[order])
    for n in range(order - 1, 1, -1):
        parent = counts_by_n[n + 1]  # columns w1..w{n+1}, cnt
        # the last n words of the (n+1)-gram, renamed w1..wn: one TYPE
        # row per distinct left-extension
        keep = [F.col(f"w{i}").alias(f"w{i - 1}") for i in range(2, n + 2)]
        counts_by_n[n] = (
            parent.select(*keep)
            .groupBy(*[f"w{i}" for i in range(1, n + 1)])
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    # ---- probability ladder, bottom-up ----
    tables: list = [uni]
    lower = uni.select(F.col("tok").alias("w1"), F.col("logp").alias("__pl"))
    lower_keys = ["w1"]
    for n in range(2, order + 1):
        cn = counts_by_n[n]
        ctx_keys = [f"w{i}" for i in range(1, n)]
        ctx_stats = cn.groupBy(*ctx_keys).agg(
            F.sum("cnt").alias("total"),
            F.count(F.lit(1)).alias("n_follow"),
        )
        ctx_n = ctx_stats.select(
            *ctx_keys,
            F.round(
                F.log(F.lit(d) * F.col("n_follow") / F.col("total")), 8
            ).alias("logg"),
        )
        # p_{n-1} keyed on the gram's LAST n-1 words
        low = lower.select(
            *[
                F.col(k).alias(f"w{i + 2}")
                for i, k in enumerate(lower_keys)
            ],
            F.col("__pl"),
        )
        gram_n = (
            cn.join(ctx_stats, ctx_keys)
            .join(low, [f"w{i}" for i in range(2, n + 1)])
            .select(
                *[f"w{i}" for i in range(1, n + 1)],
                F.round(
                    F.log(
                        F.greatest(F.col("cnt") - F.lit(d), F.lit(0.0))
                        / F.col("total")
                        + (F.lit(d) * F.col("n_follow") / F.col("total"))
                        * F.exp(F.col("__pl")),
                    ),
                    8,
                ).alias("logp"),
            )
        )
        tables.append((gram_n, ctx_n))
        lower = gram_n.select(
            *[f"w{i}" for i in range(1, n + 1)],
            F.col("logp").alias("__pl"),
        )
        lower_keys = [f"w{i}" for i in range(1, n + 1)]

    scalars = {"discount": d, "unk_logp": unk_logp, "order": int(order)}
    if persist:
        def _unpersist(_dfs=tuple(to_release)) -> None:
            for df in _dfs:
                df.unpersist()

        scalars["unpersist"] = _unpersist
    return tables, scalars


def doc_perplexity_kn_n(
    docs: DataFrame,
    tables: list,
    unk_logp: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc perplexity under a :func:`kn_tables` model of any order:
    the token at position p scores with order min(p+1, N), each level
    resolving the standard ladder (stored row → stored γ × lower →
    lower). Same output contract as the other scorers ((doc_id,
    n_tokens, avg_logp, perplexity)); rounding cascade: 8 dp stored and
    per-token logs, EXACT integer-sum 6 dp mean, 4 dp perplexity FROM
    the rounded mean.

    Plan: one positional explode + 2·order−1 token-key hash joins + one
    per-doc aggregate."""
    from trialsync_etl_spark.operators.textstats import tokens as _tokens

    order = len(tables[-1][0].columns) - 1 if len(tables) > 1 else 1
    toks = _tokens(F.col(text_col))
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(toks).alias("pos", "tok"),
        toks.alias("__toks"),
    ).select(
        "doc_id",
        "tok",
        *[
            F.when(
                F.col("pos") > j - 1,
                F.element_at(F.col("__toks"), F.col("pos") - (j - 1)),
            ).alias(f"prev{j}")
            for j in range(1, order)
        ],
    )
    scored = tok.join(
        tables[0].select(F.col("tok"), F.col("logp").alias("__p_1")),
        "tok",
        "left",
    )
    for n in range(2, order + 1):
        gram_n, ctx_n = tables[n - 1]
        # gram key: w1..wn ↔ (prev{n-1}..prev1, tok)
        gsel = gram_n.select(
            *[
                F.col(f"w{i}").alias(f"prev{n - i}")
                for i in range(1, n)
            ],
            F.col(f"w{n}").alias("tok"),
            F.col("logp").alias(f"__p_{n}"),
        )
        csel = ctx_n.select(
            *[
                F.col(f"w{i}").alias(f"prev{n - i}")
                for i in range(1, n)
            ],
            F.col("logg").alias(f"__g_{n}"),
        )
        keys = [f"prev{j}" for j in range(n - 1, 0, -1)] + ["tok"]
        scored = scored.join(gsel, keys, "left").join(
            csel, keys[:-1], "left"
        )

    p = F.exp(F.coalesce(F.col("__p_1"), F.lit(float(unk_logp))))
    best = p
    for n in range(2, order + 1):
        best = (
            F.when(F.col(f"__p_{n}").isNotNull(), F.exp(F.col(f"__p_{n}")))
            .when(F.col(f"__g_{n}").isNotNull(), F.exp(F.col(f"__g_{n}")) * best)
            .otherwise(best)
        )
        # freeze the level-n probability under an alias-free let: each
        # level references the previous one twice, so rebind via a
        # select to keep the expression tree linear, not exponential
        scored = scored.withColumn(f"__q_{n}", best)
        best = F.col(f"__q_{n}")
    # position selects the order: pos p (prev{p} missing) caps at p+1
    pick = F.col(f"__q_{order}") if order >= 2 else p
    for n in range(order - 1, 0, -1):
        level_p = F.col(f"__q_{n}") if n >= 2 else p
        pick = F.when(F.col(f"prev{n}").isNull(), level_p).otherwise(pick)
    lp = F.round(F.log(pick), 8)
    # integer-sum mean: each 8 dp log becomes an exact BIGINT (×1e8), so
    # the per-doc sum is EXACT in both engines regardless of aggregation
    # order — the unigram/bigram scorers' round(avg, 6) leaves a ~1e-16
    # sum-order residue that can flip a .5e-6 boundary (one sf0.01 doc
    # did); dividing the exact integer sum makes the 6 dp mean
    # bit-stable by construction
    lp_int = F.round(lp * F.lit(1e8), 0).cast("long")
    per_tok = scored.select("doc_id", lp_int.alias("__lpi"))
    return (
        per_tok.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("__lpi").alias("__s"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.col("__s") / F.lit(1e8) / F.col("n_tokens"), 6
            ).alias("avg_logp"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "avg_logp",
            F.round(F.exp(-F.col("avg_logp")), 4).alias("perplexity"),
        )
    )
