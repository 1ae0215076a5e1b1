"""URL/domain-level curation (beyond-reference op).

Every published web-scale pipeline (C4, RefinedWeb, Gopher) filters at
the URL level BEFORE touching text: a domain blocklist, per-domain
document caps (no single site may dominate the corpus), and a domain mix
in the dataset report. This module supplies those stages Spark-first:

- :func:`url_host` / :func:`registrable_domain` — pure ``regexp_extract``
  column expressions (no UDF, no public-suffix library: a small committed
  multi-part-suffix list covers the common two-label TLDs), so a DuckDB
  oracle replicates the extraction byte-for-byte.
- :func:`blocklist_mask` — keep-predicate against a blocklist of
  registrable domains (docs without a URL pass: no evidence, no drop —
  the repo's idiom).
- :func:`cap_per_domain` — keep the ``cap`` lowest-id docs per domain via
  the two-stage salted top-N (stage 1 ranks within (domain, salt16) so a
  hot domain's sort splits 16 ways; stage 2 ranks the ≤16·cap survivors)
  — exact, deterministic, and the shape that survives a wikipedia.org at
  100 TB where a single-window rank would sort one giant partition.
- :func:`cap_per_domain_incremental` — the ingest-cadence sibling: a
  persisted per-batch (domain, n_kept) count table keyed by ``batch_id``
  partition (the media-signature-store discipline); each batch keeps
  rows while ``prior_count + rank_in_batch <= cap`` where the prior
  aggregates every OTHER batch's partition — so a re-delivered
  micro-batch (foreachBatch redelivers batch ids after failure) never
  sees its own keeps as history: the replay keeps exactly the original
  rows and REWRITES its partition instead of double-folding. Id-ordered
  batches reproduce the one-shot result exactly.
- :func:`domain_mix` — docs/share per registrable domain, the datacard's
  domain-level complement.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trialsync_etl_spark.storage import append_batch, check_tag, read_batches

#: multi-part public suffixes where the registrable domain is THREE
#: labels (site.co.uk), not two — the common set; a production deployment
#: swaps in the full public-suffix list, the expression shape is the same
MULTI_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "net.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp",
    "com.br", "com.cn", "com.mx", "com.sg", "com.tr", "com.ar",
    "co.nz", "co.in", "co.za", "co.kr",
)

#: committed default blocklist — placeholder domains a deployment extends
#: (`release --url-blocklist FILE` merges a file of one-domain-per-line)
DEFAULT_BLOCKLIST = (
    "example-spam.com", "link-farm.net", "clickbait-mill.org",
)

_HOST_RE = r"^(?:[a-zA-Z][a-zA-Z0-9+.\-]*://)?(?:[^/@?#]*@)?([^/:?#]+)"


def url_host(url: Column) -> Column:
    """The lowercased host of a URL (scheme and userinfo stripped, port/
    path/query ignored) — '' when the value has no host shape."""
    return F.lower(F.regexp_extract(url, _HOST_RE, 1))


def registrable_domain(url: Column) -> Column:
    """The registrable domain (eTLD+1): the last TWO labels of the host,
    or three when the host ends in a committed multi-part suffix
    (site.co.uk). Dotless hosts (localhost, bare IPv4 is out of scope)
    return themselves; NULL/empty URLs return NULL."""
    host = url_host(url)
    multi = "|".join(s.replace(".", r"\.") for s in MULTI_SUFFIXES)
    three = F.regexp_extract(host, rf"([^.]+\.(?:{multi}))$", 1)
    two = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    dom = (
        F.when(three != "", three)
        .when(two != "", two)
        .otherwise(host)
    )
    return F.when(url.isNull() | (host == ""), F.lit(None).cast("string")).otherwise(dom)


def blocklist_mask(url: Column, blocklist: tuple[str, ...]) -> Column:
    """Keep-predicate: the doc's registrable domain is NOT blocklisted.
    Docs without a URL (NULL or hostless) pass — no evidence, no drop.
    The blocklist is literal-inlined (KB-scale — eval-suite discipline:
    a list too large to inline belongs in a store)."""
    dom = registrable_domain(url)
    if not blocklist:
        return F.lit(True)
    return dom.isNull() | ~dom.isin(*[b.lower() for b in blocklist])


def cap_per_domain(
    docs: DataFrame,
    cap: int,
    url_col: str = "url",
    id_col: str = "doc_id",
    n_salts: int = 16,
) -> DataFrame:
    """Keep the ``cap`` LOWEST-id docs per registrable domain —
    deterministic (replaying the corpus keeps the same docs). Docs
    without a URL are never capped (no domain, no cap key).

    Two-stage salted top-N: stage 1 ranks within (domain, id%n_salts) and
    keeps ``cap`` per cell — the global cap smallest ids are all among
    those cells' survivors — so the hot-domain sort splits ``n_salts``
    ways; stage 2 ranks the ≤ n_salts·cap survivors per domain. At
    100 TB stage 2's windows are candidate-sized, never corpus-sized."""
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    dom = registrable_domain(F.col(url_col))
    with_dom = docs.withColumn("__dom", dom)
    capless = with_dom.filter(F.col("__dom").isNull()).drop("__dom")
    capped = with_dom.filter(F.col("__dom").isNotNull())
    salt = (F.col(id_col).cast("long") % n_salts).cast("int")
    w1 = Window.partitionBy("__dom", salt).orderBy(F.col(id_col).asc())
    stage1 = (
        capped.withColumn("__r", F.row_number().over(w1))
        .filter(F.col("__r") <= cap)
        .drop("__r")
    )
    w2 = Window.partitionBy("__dom").orderBy(F.col(id_col).asc())
    stage2 = (
        stage1.withColumn("__r", F.row_number().over(w2))
        .filter(F.col("__r") <= cap)
        .drop("__r", "__dom")
    )
    return stage2.unionByName(capless)


DOMAIN_COUNTS_TABLE = "domain_counts"


def read_domain_counts(
    spark: SparkSession, store_path: str, exclude: str | None = None
) -> DataFrame:
    """The store's aggregated (__dom, n_kept) relation across all batch
    partitions but ``exclude`` — what the NEXT batch sees as prior
    history (empty before the first batch lands)."""
    counts = read_batches(
        spark, os.path.join(store_path, DOMAIN_COUNTS_TABLE), exclude
    )
    if counts is None:
        return spark.createDataFrame([], "__dom string, n_kept long")
    return counts.groupBy("__dom").agg(F.sum("n_kept").alias("n_kept"))


def cap_per_domain_incremental(
    spark: SparkSession,
    batch: DataFrame,
    store_path: str,
    cap: int,
    batch_id: str,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ingest-cadence domain cap: a persisted count table under
    ``store_path``, keyed by ``batch_id`` partition —
    ``domain_counts/batch_id=<tag>/`` holds THIS batch's kept counts,
    written by ``storage.append_batch``. The batch keeps rows while
    ``prior_count + rank_in_batch <= cap`` (rank by id within the batch —
    deterministic), where the prior aggregates every partition EXCEPT the
    batch's own — so a re-delivered foreachBatch micro-batch never probes
    its own keeps as history (which would drop every previously-kept row)
    and never double-folds its counts: the replay keeps the original rows
    and rewrites its own partition. Id-ordered batches reproduce
    :func:`cap_per_domain` exactly — the replay-convergence contract the
    one-shot oracle pins."""
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    check_tag("batch_id", batch_id)
    dom = registrable_domain(F.col(url_col))
    with_dom = batch.withColumn("__dom", dom)
    capless = with_dom.filter(F.col("__dom").isNull()).drop("__dom")
    capped = with_dom.filter(F.col("__dom").isNotNull())
    prior = read_domain_counts(spark, store_path, exclude=batch_id)
    w = Window.partitionBy("__dom").orderBy(F.col(id_col).asc())
    ranked = capped.withColumn("__r", F.row_number().over(w)).join(
        F.broadcast(prior), "__dom", "left"
    )
    kept = ranked.filter(
        F.coalesce(F.col("n_kept"), F.lit(0)) + F.col("__r") <= cap
    ).drop("__r", "n_kept")
    # materialize the verdicts BEFORE the fold (the store-sibling
    # discipline: the probe must never see its own batch through the
    # store), then publish this batch's counts as its own partition
    new_counts = kept.groupBy("__dom").agg(
        F.count(F.lit(1)).alias("n_kept")
    )
    final = kept.drop("__dom").localCheckpoint(eager=True)
    append_batch(
        new_counts, os.path.join(store_path, DOMAIN_COUNTS_TABLE), batch_id
    )
    return final.unionByName(capless)


def domain_mix(
    docs: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """(domain, n_docs, share) per registrable domain, share over the
    docs THAT HAVE a domain (urlless docs are reported as the NULL row's
    count but excluded from the share denominator) — the datacard's
    domain-mix table. One groupBy; share via a broadcast scalar join."""
    dom = registrable_domain(F.col(url_col))
    counts = docs.select(dom.alias("domain")).groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    total = counts.filter(F.col("domain").isNotNull()).agg(
        F.sum("n_docs").alias("__t")
    )
    return counts.crossJoin(F.broadcast(total)).select(
        "domain",
        "n_docs",
        F.when(
            F.col("domain").isNotNull(),
            F.round(F.col("n_docs") / F.col("__t"), 6),
        ).alias("share"),
    )


def load_blocklist_file(path: str) -> tuple[str, ...]:
    """One domain per line; '#' comments and blanks ignored."""
    out = []
    with open(path) as f:
        for line in f:
            line = line.strip().lower()
            if line and not line.startswith("#"):
                out.append(line)
    return tuple(out)
