"""Persisted unigram/bigram/Kneser-Ney LM store — train once, score every batch.

`operators/lm.py` is the one-shot shape: `curate_corpus(perplexity_ref=)`
re-trains the unigram model on every funnel run. At 100 TB the reference
corpus (the "train on Wikipedia, score the crawl" recipe — CCNet) is
re-scored by EVERY corpus ingest, so the fitted model belongs in a
persisted store, the same discipline every other per-ingest probe got
(signature store, ANN store, CM store, decontam store, substring store):

- ``<store>/vocab/model_id=<id>/`` — the (tok, logp) vocabulary table of
  one fitted model, written ONCE per reference-corpus version. The table
  IS the model (log-probs pre-rounded to 8 dp at train time, stored
  verbatim), so a store-backed score derives bit-identical perplexities
  to the one-shot path. Natural-text vocabularies are millions of rows
  at scale — the table keeps its distributed layout (never coalesced to
  one file, never collected); the score join lets AQE broadcast small
  vocabularies and shuffle big ones.
- order-2 models add ``<store>/bigrams/model_id=<id>/`` ((w1, w2, logp)
  — tens of millions of rows at scale, same distributed-layout rule)
  and ``<store>/contexts/model_id=<id>/`` ((w1, logp): each seen
  context's unseen-continuation mass — the interpolation's backoff rung).
- order-3..5 (interpolated Kneser-Ney, :func:`lm.kn_tables`) models
  store the continuation unigram in ``vocab`` and, per level n ≥ 2, a
  gram table ((w1..wn, logp)) plus a context table ((w1..w(n-1), logg)
  backoff weights). Order-3 models name their levels
  ``bigrams``/``contexts`` and ``trigrams``/``contexts3``; order-4/5
  models name every level ``grams<n>``/``contexts<n>``
  (:func:`_kn_level_tables` is the one mapping). The meta records
  ``discount`` instead of ``add_k``.
- ``<store>__meta.json`` — per-model scalars ({order, add_k, vocab,
  unseen_logp}), written under the store's ``__lock`` flock with
  tmp+rename. The unseen-token log-prob is part of the model: scoring
  with the wrong UNK mass silently shifts every out-of-vocabulary doc's
  perplexity — the meta is the pin that keeps that loud, and a
  present-but-corrupt meta raises a rebuild error instead of a bare
  JSONDecodeError (the decontam-store contract). The ``order`` pin
  routes every scoring call to the right model shape automatically — a
  banding funnel configured with a model id never needs to know whether
  that id is unigram or bigram.

Model updates ship under a NEW model_id (``wiki-2026-08`` next to
``wiki-2026-01``) so past banding decisions stay attributable to the
model they ran against; re-building the SAME id overwrites its partition
and meta entry (replay-convergent). No compaction is ever needed: models
are static artifacts, not growing logs.

Parity contract: :func:`score_perplexity_store` over a stored model
equals the one-shot :func:`~trialsync_etl_spark.operators.lm
.doc_perplexity` / :func:`~trialsync_etl_spark.operators.lm
.doc_perplexity_bigram` / :func:`~trialsync_etl_spark.operators.lm
.doc_perplexity_kn_n` with the tables the matching fit call returned at
build time — pinned by the ``text_perplexity_store`` registry query
against the same DuckDB oracle as the one-shot ``text_perplexity``, and
by the store-vs-one-shot bigram and Kneser-Ney tests.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trialsync_etl_spark.storage import (
    atomic_write_json,
    check_tag,
    file_lock,
    read_json_sidecar,
)

VOCAB_TABLE = "vocab"
BIGRAMS_TABLE = "bigrams"
CONTEXTS_TABLE = "contexts"
TRIGRAMS_TABLE = "trigrams"
CONTEXTS3_TABLE = "contexts3"


def _kn_level_tables(order: int, n: int) -> tuple[str, str]:
    """The (gram table, context table) names of level ``n`` of an
    order-``order`` Kneser-Ney model: order-3 models keep their original
    bigrams/contexts + trigrams/contexts3 names, order ≥ 4 models use
    grams<n>/contexts<n> at every level."""
    if order == 3:
        return {2: (BIGRAMS_TABLE, CONTEXTS_TABLE),
                3: (TRIGRAMS_TABLE, CONTEXTS3_TABLE)}[n]
    return f"grams{n}", f"contexts{n}"


def _meta_path(store_path: str) -> str:
    return store_path + "__meta.json"


def read_lm_meta(store_path: str) -> dict | None:
    """The store's model registry ({model_id: {order, add_k, vocab,
    unseen_logp}}), or None when no model was ever built. A PRESENT-but-
    unreadable meta raises a loud rebuild error: the unseen-token mass
    lives here, and scoring without it is silently wrong."""
    return read_json_sidecar(
        _meta_path(store_path),
        "lm store meta",
        "the per-model scalars (add_k, unseen_logp) are part of the model; "
        "rebuild by re-running build_lm_model for the affected model_id (or "
        "restore the meta from the store's source of truth)",
        keys=("models",),
    )


def list_lm_models(store_path: str) -> list[str]:
    meta = read_lm_meta(store_path)
    return sorted(meta["models"]) if meta else []


def read_lm_params(store_path: str, model_id: str) -> dict:
    """One model's pinned scalars; loud when the store or id is absent."""
    meta = read_lm_meta(store_path)
    if meta is None:
        raise FileNotFoundError(
            f"lm store {store_path} has no models — build one first "
            "(build_lm_model)"
        )
    if model_id not in meta["models"]:
        raise ValueError(
            f"lm store {store_path} has no model {model_id!r}; built: "
            f"{sorted(meta['models'])}"
        )
    return meta["models"][model_id]


def _record_model(store_path: str, model_id: str, params: dict) -> None:
    """Register one model's scalars under the store flock (read-modify-
    write + tmp+rename: concurrent builds of different ids serialize and
    both land; a crash mid-write never leaves a torn meta)."""
    with file_lock(os.path.join(store_path, "__lock")):
        meta = read_lm_meta(store_path) or {"models": {}}
        meta["models"][model_id] = params
        atomic_write_json(_meta_path(store_path), meta)


def _model_partition(store_path: str, table: str, model_id: str) -> str:
    return os.path.join(store_path, table, f"model_id={model_id}")


def build_lm_model(
    reference: DataFrame,
    store_path: str,
    model_id: str,
    add_k: float = 1.0,
    text_col: str = "text",
    order: int = 1,
    discount: float = 0.75,
) -> dict:
    """Fit the LM on ``reference`` and persist it under ``model_id`` —
    paid once per reference-corpus version, never per scored batch.
    ``order=1`` is the unigram; ``order=2`` the interpolated bigram
    (vocab + bigrams + contexts partitions); ``order=3..5`` the
    interpolated Kneser-Ney model of :func:`lm.kn_tables` (vocab + one
    gram and one context partition per level, named by
    :func:`_kn_level_tables` — ``discount`` applies, ``add_k`` is
    ignored). Returns the recorded scalars ({order, add_k|discount,
    vocab, unseen_logp}). Re-building the same id overwrites its
    partitions and meta entry; the partitions land BEFORE the meta
    entry, so a crash between the two leaves unregistered partitions
    the re-run overwrites — never a registered model with missing data.
    n_tokens is NOT stored: scoring needs only the tables +
    unseen_logp, and re-deriving N would cost a second reference-corpus
    pass."""
    check_tag("model_id", model_id)
    if order not in (1, 2, 3, 4, 5):
        raise ValueError(
            f"order must be 1 (unigram), 2 (bigram), or 3..5 (Kneser-Ney "
            f"— order 5 is the CCNet KenLM shape), got {order}"
        )
    from pyspark.sql import Observation

    # the vocab size rides the write as an Observation (root-level — the
    # mid-plan CollectMetrics hazard is documented in COVERAGE.md); the
    # meta then records exactly what was written
    obs = Observation()
    if order == 1:
        from trialsync_etl_spark.operators.lm import unigram_model

        lm, unseen_logp = unigram_model(
            reference, text_col=text_col, add_k=add_k
        )
        lm.observe(obs, F.count(F.lit(1)).alias("v")).write.mode(
            "overwrite"
        ).parquet(_model_partition(store_path, VOCAB_TABLE, model_id))
    elif order >= 3:
        from trialsync_etl_spark.operators.lm import kn_tables

        # persist=True caches the shared explode + top-count lineage for
        # the 2·order−1 write actions below (the order-2 discipline)
        tables, scalars = kn_tables(
            reference, order=order, text_col=text_col, discount=discount,
            persist=True,
        )
        unseen_logp = scalars["unk_logp"]
        try:
            tables[0].observe(
                obs, F.count(F.lit(1)).alias("v")
            ).write.mode("overwrite").parquet(
                _model_partition(store_path, VOCAB_TABLE, model_id)
            )
            for n in range(2, order + 1):
                gram_n, ctx_n = tables[n - 1]
                gram_table, ctx_table = _kn_level_tables(order, n)
                gram_n.write.mode("overwrite").parquet(
                    _model_partition(store_path, gram_table, model_id)
                )
                ctx_n.write.mode("overwrite").parquet(
                    _model_partition(store_path, ctx_table, model_id)
                )
        finally:
            scalars["unpersist"]()
        params = {
            "order": int(order),
            "discount": float(discount),
            "vocab": int(obs.get["v"]),
            "unseen_logp": float(unseen_logp),
        }
        _record_model(store_path, model_id, params)
        return params
    else:
        from trialsync_etl_spark.operators.lm import bigram_model

        # persist=True caches the shared explode/counts lineage for the
        # THREE write actions below — without it each write re-explodes
        # and re-aggregates the whole reference corpus (the 100 TB cost)
        uni, bi, ctx, scalars = bigram_model(
            reference, text_col=text_col, add_k=add_k, persist=True
        )
        unseen_logp = scalars["unseen_logp"]
        try:
            uni.observe(obs, F.count(F.lit(1)).alias("v")).write.mode(
                "overwrite"
            ).parquet(_model_partition(store_path, VOCAB_TABLE, model_id))
            bi.write.mode("overwrite").parquet(
                _model_partition(store_path, BIGRAMS_TABLE, model_id)
            )
            ctx.write.mode("overwrite").parquet(
                _model_partition(store_path, CONTEXTS_TABLE, model_id)
            )
        finally:
            scalars["unpersist"]()
    params = {
        "order": int(order),
        "add_k": float(add_k),
        "vocab": int(obs.get["v"]),
        "unseen_logp": float(unseen_logp),
    }
    _record_model(store_path, model_id, params)
    return params


def read_lm_model(
    spark: SparkSession, store_path: str, model_id: str
) -> tuple[DataFrame, float]:
    """The stored (tok, logp) table and unseen-token log-prob of an
    ORDER-1 model — the pair unigram scoring needs. Schema-pinned read
    (no mergeSchema job: the layout is fixed at build time). An order-2
    id is refused loudly (its vocab alone is not the model)."""
    params = read_lm_params(store_path, model_id)
    if params.get("order", 1) != 1:
        raise ValueError(
            f"lm store model {model_id!r} is order "
            f"{params.get('order')} — read it with read_bigram_lm_model "
            "(its unigram table alone is not the model)"
        )
    vocab = spark.read.schema("tok string, logp double").parquet(
        _model_partition(store_path, VOCAB_TABLE, model_id)
    )
    return vocab, params["unseen_logp"]


def read_bigram_lm_model(
    spark: SparkSession, store_path: str, model_id: str
) -> tuple[DataFrame, DataFrame, DataFrame, float]:
    """The stored (uni, bi, ctx, unseen_logp) of an ORDER-2 model —
    exactly what :func:`lm.doc_perplexity_bigram` consumes."""
    params = read_lm_params(store_path, model_id)
    if params.get("order", 1) != 2:
        raise ValueError(
            f"lm store model {model_id!r} is order "
            f"{params.get('order', 1)} — read it with read_lm_model"
        )
    uni = spark.read.schema("tok string, logp double").parquet(
        _model_partition(store_path, VOCAB_TABLE, model_id)
    )
    bi = spark.read.schema("w1 string, w2 string, logp double").parquet(
        _model_partition(store_path, BIGRAMS_TABLE, model_id)
    )
    ctx = spark.read.schema("w1 string, logp double").parquet(
        _model_partition(store_path, CONTEXTS_TABLE, model_id)
    )
    return uni, bi, ctx, params["unseen_logp"]


def read_kn_lm_model_n(
    spark: SparkSession, store_path: str, model_id: str
) -> tuple[list, float]:
    """The stored Kneser-Ney tables of an order ≥ 3 model in
    :func:`lm.kn_tables` shape — ``(tables, unk_logp)`` with
    ``tables[0]`` the unigram and ``tables[n-1] = (gram_n, ctx_n)`` —
    exactly what :func:`lm.doc_perplexity_kn_n` consumes."""
    params = read_lm_params(store_path, model_id)
    order = params.get("order", 1)
    if order < 3:
        raise ValueError(
            f"lm store model {model_id!r} is order {order} — read it "
            "with read_lm_model/read_bigram_lm_model"
        )
    uni = spark.read.schema("tok string, logp double").parquet(
        _model_partition(store_path, VOCAB_TABLE, model_id)
    )
    tables: list = [uni]
    for n in range(2, order + 1):
        gcols = ", ".join(f"w{i} string" for i in range(1, n + 1))
        ccols = ", ".join(f"w{i} string" for i in range(1, n))
        gram_table, ctx_table = _kn_level_tables(order, n)
        gram_n = spark.read.schema(f"{gcols}, logp double").parquet(
            _model_partition(store_path, gram_table, model_id)
        )
        ctx_n = spark.read.schema(f"{ccols}, logg double").parquet(
            _model_partition(store_path, ctx_table, model_id)
        )
        tables.append((gram_n, ctx_n))
    return tables, params["unseen_logp"]


def score_perplexity_store(
    spark: SparkSession,
    docs: DataFrame,
    store_path: str,
    model_id: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.5,
) -> DataFrame:
    """Per-doc perplexity of ONE corpus batch under a STORED model —
    same output contract as the one-shot scorers ((doc_id, n_tokens,
    avg_logp, perplexity)), with the model read from the store instead
    of re-trained and the stored ``order`` pin routing to the right
    scorer (``lam`` applies to order-2 models only). Pure function of
    (batch, store): a replayed batch derives identical scores."""
    params = read_lm_params(store_path, model_id)
    if params.get("order", 1) >= 3:
        from trialsync_etl_spark.operators.lm import doc_perplexity_kn_n

        tables, unk_logp = read_kn_lm_model_n(spark, store_path, model_id)
        return doc_perplexity_kn_n(
            docs, tables, unk_logp, id_col=id_col, text_col=text_col
        )
    if params.get("order", 1) == 2:
        from trialsync_etl_spark.operators.lm import doc_perplexity_bigram

        uni, bi, ctx, unseen_logp = read_bigram_lm_model(
            spark, store_path, model_id
        )
        return doc_perplexity_bigram(
            docs, uni, bi, ctx, unseen_logp, lam=lam,
            id_col=id_col, text_col=text_col,
        )
    from trialsync_etl_spark.operators.lm import doc_perplexity

    lm, unseen_logp = read_lm_model(spark, store_path, model_id)
    return doc_perplexity(
        docs, lm, unseen_logp, id_col=id_col, text_col=text_col
    )


def perplexity_band_store(
    spark: SparkSession,
    docs: DataFrame,
    store_path: str,
    model_id: str,
    min_ppl: float,
    max_ppl: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.5,
) -> DataFrame:
    """Keep a batch's docs whose stored-model perplexity lies in
    [min_ppl, max_ppl] — the per-ingest banding call (the curation
    funnel's perplexity stage at ingest cadence). Dispatches on the
    stored order like :func:`score_perplexity_store`, so a bigram-backed
    band needs no special wiring anywhere upstream."""
    keep = (
        score_perplexity_store(
            spark, docs, store_path, model_id,
            id_col=id_col, text_col=text_col, lam=lam,
        )
        .filter(
            (F.col("perplexity") >= F.lit(float(min_ppl)))
            & (F.col("perplexity") <= F.lit(float(max_ppl)))
        )
        .select(F.col("doc_id").alias("__keep_id"))
    )
    return docs.join(keep, docs[id_col] == keep.__keep_id, "semi")
