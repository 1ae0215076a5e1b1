"""URL/domain curation (operators/urlcurate.py): host/registrable-domain
extraction hand-checked, blocklist semantics, the two-stage salted
per-domain cap against a straight-line reference, the funnel stages,
and the domain-mix report."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from trialsync_etl_spark.operators import urlcurate


def test_host_and_registrable_domain_hand_checked(spark):
    cases = [
        (1, "https://www.example.com/a/b?q=1", "www.example.com", "example.com"),
        (2, "http://user:pw@blog.site.co.uk:8080/x", "blog.site.co.uk", "site.co.uk"),
        (3, "ftp://files.example.org", "files.example.org", "example.org"),
        (4, "example.net/path", "example.net", "example.net"),
        (5, "https://localhost/x", "localhost", "localhost"),
        (6, "HTTPS://WWW.UPPER.COM/Y", "www.upper.com", "upper.com"),
        (7, "https://a.b.c.d.com.au/z", "a.b.c.d.com.au", "d.com.au"),
        (8, None, "", None),
        (9, "", "", None),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u, _, _ in cases], "id long, url string"
    )
    rows = {
        r.id: (r.h, r.d)
        for r in df.select(
            "id",
            F.coalesce(urlcurate.url_host(F.col("url")), F.lit("")).alias("h"),
            urlcurate.registrable_domain(F.col("url")).alias("d"),
        ).collect()
    }
    for i, _, host, dom in cases:
        assert rows[i] == (host, dom), (i, rows[i], (host, dom))


def test_blocklist_mask_semantics(spark):
    df = spark.createDataFrame(
        [
            (1, "https://www.example.com/x"),     # blocked (registrable)
            (2, "https://sub.deep.example.com"),  # blocked via eTLD+1
            (3, "https://fine.org/y"),            # passes
            (4, None),                            # urlless: passes
        ],
        "id long, url string",
    )
    kept = sorted(
        r.id
        for r in df.filter(
            urlcurate.blocklist_mask(F.col("url"), ("Example.com",))
        ).collect()
    )
    assert kept == [3, 4]
    # empty blocklist keeps everything
    assert df.filter(
        urlcurate.blocklist_mask(F.col("url"), ())
    ).count() == 4


def _ref_cap(rows, cap):
    """Straight-line keep-lowest-cap-ids per domain; urlless all kept."""
    by_dom: dict[str, list[int]] = {}
    kept = set()
    for i, dom in sorted(rows):
        if dom is None:
            kept.add(i)
            continue
        lst = by_dom.setdefault(dom, [])
        if len(lst) < cap:
            lst.append(i)
            kept.add(i)
    return kept


def test_cap_per_domain_matches_reference_and_is_salt_invariant(spark):
    """The two-stage salted top-N equals the obvious single-window
    semantics (keep the cap lowest ids per domain) for every salt
    width — the salting is a scale rewrite, never a semantics change;
    urlless docs are never capped."""
    rows = [
        (i, None if i % 13 == 0 else f"https://www.d{i % 5}.com/p/{i}")
        for i in range(97)
    ]
    doms = [
        (i, None if u is None else f"d{i % 5}.com") for i, u in rows
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    want = _ref_cap(doms, 3)
    for n_salts in (1, 4, 16):
        got = {
            r.doc_id
            for r in urlcurate.cap_per_domain(
                df, 3, n_salts=n_salts
            ).collect()
        }
        assert got == want, n_salts
    with pytest.raises(ValueError, match="cap"):
        urlcurate.cap_per_domain(df, 0)


def test_domain_mix_shares(spark):
    df = spark.createDataFrame(
        [
            (1, "https://a.com/1"), (2, "https://a.com/2"),
            (3, "https://b.org/1"), (4, None),
        ],
        "doc_id long, url string",
    )
    mix = {r.domain: (r.n_docs, r.share)
           for r in urlcurate.domain_mix(df).collect()}
    assert mix["a.com"] == (2, round(2 / 3, 6))
    assert mix["b.org"] == (1, round(1 / 3, 6))
    assert mix[None][0] == 1 and mix[None][1] is None


def test_url_stages_in_both_funnels(spark):
    """curate_corpus drops the blocklisted doc and caps the domain — the
    URL stages run FIRST in the funnel; a corpus without a url column is
    loud."""
    from trialsync_etl_spark.operators.curate import curate_corpus

    good = "a perfectly ordinary document with enough distinct words here"
    docs = spark.createDataFrame(
        [
            (1, good + " one", "https://ok.com/1"),
            (2, good + " two", "https://ok.com/2"),
            (3, good + " three", "https://ok.com/3"),   # over cap 2
            (4, good + " four", "https://spam.net/1"),  # blocklisted
            (5, good + " five", None),                  # urlless: passes
        ],
        "doc_id long, text string, url string",
    )
    res = curate_corpus(
        docs, url_blocklist=("spam.net",), max_per_domain=2,
        near_dup=False, persist=False,
        min_tokens=3, max_top_token_frac=1.0, min_distinct_ratio=0.0,
    )
    assert sorted(
        r.doc_id for r in res.stages["url_filtered"].collect()
    ) == [1, 2, 3, 5]
    assert sorted(
        r.doc_id for r in res.stages["domain_capped"].collect()
    ) == [1, 2, 5]
    assert res.stats["max_per_domain"] == 2

    with pytest.raises(ValueError, match="url"):
        curate_corpus(
            docs.drop("url"), url_blocklist=("spam.net",),
            near_dup=False, persist=False,
        )
