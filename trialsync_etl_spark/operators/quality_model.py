"""Trainable quality filter — a fastText-style linear classifier over the
engine's existing per-doc signals (beyond-reference op).

Public-knowledge shape (the CCNet / fastText quality-classifier recipe,
re-expressed Spark-first): logistic regression over cheap per-document
features, trained once on a labeled fixture, applied as a PURE COLUMN
EXPRESSION at inference — the score is ``sigmoid(w·x + b)`` with the
weights inlined as literals, so the scoring plan is whole-stage-codegen
JVM arithmetic with ZERO python stages (the plan gate pins this). MLlib
is used only at TRAINING time (deterministic LBFGS on a driver-bounded
labeled set); the fitted coefficients are exported to a plain dict, so
inference never ships a model object, never calls ``.transform``, and a
DuckDB oracle can recompute the exact score from the same constants.

Features are the already-oracled textstats signals (token count,
distinct-token ratio, top-token fraction, duplicate-bigram fraction,
average token length) — every one reproducible in SQL, which is what
makes the score oracle-checkable end-to-end.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from trialsync_etl_spark.operators import textstats
from trialsync_etl_spark.storage import atomic_write_json

#: feature order is part of the model contract (weights key by name, so
#: the order only matters for the training assembler's determinism)
FEATURES = (
    "log_tokens",
    "distinct_ratio",
    "top_token_frac",
    "dup_bigram_frac",
    "avg_token_len",
)


def doc_features(text: Column) -> dict[str, Column]:
    """The per-doc feature columns, NULL-coalesced to 0.0 (an empty doc
    has no ratios; the model sees zeros, matching the SQL oracle's
    ``coalesce``)."""
    raw = {
        "log_tokens": F.log1p(textstats.token_count(text)),
        "distinct_ratio": textstats.distinct_token_ratio(text),
        "top_token_frac": textstats.top_token_fraction(text),
        "dup_bigram_frac": textstats.dup_shingle_fraction(text, 2),
        "avg_token_len": textstats.avg_token_len(text),
    }
    return {
        name: F.coalesce(col.cast("double"), F.lit(0.0))
        for name, col in raw.items()
    }


@dataclass(frozen=True)
class QualityModel:
    """Fitted weights, exported from MLlib into plain floats — the whole
    model is this dict, JSON-serializable and literal-inlineable."""

    weights: dict[str, float]
    intercept: float

    def save(self, path: str) -> None:
        atomic_write_json(
            path, {"weights": self.weights, "intercept": self.intercept}
        )

    @classmethod
    def load(cls, path: str) -> "QualityModel":
        with open(path) as f:
            d = json.load(f)
        return cls(weights=dict(d["weights"]), intercept=float(d["intercept"]))


#: a fitted default model, committed as constants (trained by
#: scripts/train_quality_model.py on the deterministic good-vs-degraded
#: fixture it builds from the sf0.001 documents table — seeded, LBFGS,
#: reproducible; see tests/test_quality_model.py which re-derives the
#: ranking properties). Positive class = KEEP: high distinct ratio and
#: length help, repetition hurts. Having the constants in code (like the
#: seeded LSH hyperplanes) is what lets the registry query's DuckDB
#: oracle recompute scores bit-for-bit.
DEFAULT_QUALITY_MODEL = QualityModel(
    weights={
        "log_tokens": 1.383,
        "distinct_ratio": 0.6541,
        "top_token_frac": -6.4743,
        "dup_bigram_frac": -3.357,
        "avg_token_len": -0.0493,
    },
    intercept=-1.8996,
)


def train_quality_model(
    labeled: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    max_iter: int = 100,
    reg_param: float = 0.01,
) -> QualityModel:
    """Fit the classifier on a labeled fixture (label 1 = keep) and
    export plain-float coefficients. LBFGS on a fixed feature order is
    deterministic for a fixed input — two fits of the same frame return
    identical weights (pinned in tests). The labeled set is
    fixture-sized by design (quality classifiers train on ~100K docs,
    not the corpus); inference over the 100 TB corpus is the literal
    expression from :func:`quality_model_score`."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    feats = doc_features(F.col(text_col))
    assembled = VectorAssembler(
        inputCols=list(FEATURES), outputCol="features"
    ).transform(
        labeled.select(
            F.col(label_col).cast("double").alias("label"),
            *[feats[n].alias(n) for n in FEATURES],
        )
    )
    model = LogisticRegression(
        maxIter=max_iter, regParam=reg_param, standardization=True
    ).fit(assembled)
    coef = model.coefficients.toArray()
    return QualityModel(
        weights={n: round(float(w), 4) for n, w in zip(FEATURES, coef)},
        intercept=round(float(model.intercept), 4),
    )


def quality_model_score(
    text: Column, model: QualityModel | None = None
) -> Column:
    """P(keep) as a pure column expression: ``sigmoid(w·x + b)`` with the
    fitted weights inlined as literals — whole-stage codegen, no python
    stage, no MLlib at inference (the plan gate pins this)."""
    model = model or DEFAULT_QUALITY_MODEL
    feats = doc_features(text)
    z = F.lit(float(model.intercept))
    for name in FEATURES:
        z = z + F.lit(float(model.weights[name])) * feats[name]
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def quality_model_mask(
    text: Column, min_score: float, model: QualityModel | None = None
) -> Column:
    """The funnel-stage predicate: keep docs scoring at least
    ``min_score``."""
    return quality_model_score(text, model) >= F.lit(float(min_score))
