"""HTML → main-text extraction (operators/htmlextract.py): hand-checked
extraction semantics (chrome pruning, block classification, entity
unescape, inline anchors), the funnel stage, the no-block page drop,
and the pure-column plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from trialsync_etl_spark.operators import htmlextract as H


def _page(main: str, extra: str = "") -> str:
    return (
        "<html><head><title>T</title><style>.a{color:red}</style>"
        '<script>var x = "<p>not a block</p>";</script></head><body>'
        "<header><h1>Site</h1></header>"
        '<nav><a href="/">Home</a> <a href="/a">About</a></nav>'
        f'<div id="c"><p>{main}</p>{extra}</div>'
        '<div class="rel"><a href="/1">related one</a> '
        '<a href="/2">related two</a> <a href="/3">related three</a></div>'
        "<div>Tags: news</div>"
        "<aside>Subscribe to our newsletter today</aside>"
        "<footer>&copy; 2024 Corp</footer></body></html>"
    )


PROSE = (
    "A perfectly ordinary paragraph with plenty of prose characters "
    "to clear the length floor."
)


def test_extraction_hand_checked(spark):
    """Chrome (head/script/style/nav/header/aside/footer) pruned; the
    link farm dropped by link density; the short tag block dropped by
    the length floor; the prose paragraph survives with its inline
    anchor's TEXT retained and entities unescaped."""
    pages = [
        # 1: plain prose
        (1, _page(PROSE)),
        # 2: prose + inline anchor + entities
        (2, _page(
            "Facts &amp; figures &lt;here&gt;: " + PROSE
            + ' see <a href="/m">more details</a>.'
        )),
        # 3: two paragraphs → blank-line joined
        (3, _page(PROSE, extra=f"<p>Second {PROSE}</p>")),
        # 4: nothing but chrome → empty extraction
        (4, _page("x")),
    ]
    df = spark.createDataFrame(pages, "doc_id long, html string")
    rep = {
        r.doc_id: r
        for r in H.html_extract_report(df).collect()
    }
    assert rep[1].text == PROSE
    assert rep[2].text == (
        "Facts & figures <here>: " + PROSE + " see more details ."
    )
    assert rep[3].text == PROSE + "\n\n" + "Second " + PROSE
    assert rep[3].n_kept == 2
    assert rep[4].text == "" and rep[4].n_kept == 0
    # every page has the same candidate blocks: main(s) + farm + tags
    assert rep[1].n_blocks == 3 and rep[3].n_blocks == 4

    # double-escaped entity decodes ONE level (&amp;lt; → &lt;)
    one = spark.createDataFrame(
        [(1, f"<p>{PROSE} literally &amp;lt; stays</p>")],
        "doc_id long, html string",
    )
    out = one.select(H.extract_main_text(F.col("html")).alias("t")).first()
    assert out.t.endswith("literally &lt; stays")


def test_knobs_and_density_edge(spark):
    """min_block_chars and max_link_density are real knobs; a block at
    exactly the density threshold is kept (<=)."""
    # 20 anchor chars of 100 total = 0.2
    body = '<p>' + 'a' * 79 + ' <a href="/x">' + 'b' * 20 + '</a></p>'
    df = spark.createDataFrame(
        [(1, f"<html><body>{body}</body></html>")],
        "doc_id long, html string",
    )
    at = df.select(
        H.extract_main_text(F.col("html"), max_link_density=0.2).alias("t")
    ).first()
    below = df.select(
        H.extract_main_text(F.col("html"), max_link_density=0.19).alias("t")
    ).first()
    assert at.t != "" and below.t == ""
    floor = df.select(
        H.extract_main_text(F.col("html"), min_block_chars=101).alias("t")
    ).first()
    assert floor.t == ""


def test_funnel_stage_both_cadences(spark):
    """curate_corpus extracts the main text and drops the no-prose page;
    a corpus without an html column is loud."""
    from trialsync_etl_spark.operators.curate import curate_corpus

    docs = spark.createDataFrame(
        [
            (1, _page(PROSE + " one")),
            (2, _page(PROSE + " two")),
            (3, _page("x")),  # no prose-like block → drops
        ],
        "doc_id long, html string",
    )
    res = curate_corpus(
        docs, html_extract=True, near_dup=False, persist=False,
        min_tokens=3, max_top_token_frac=1.0, min_distinct_ratio=0.0,
    )
    assert sorted(
        r.doc_id for r in res.stages["html_extracted"].collect()
    ) == [1, 2]

    with pytest.raises(ValueError, match="html"):
        curate_corpus(
            docs.withColumnRenamed("html", "page"), html_extract=True,
            near_dup=False, persist=False,
        )


def test_plan_is_pure_column_expression(spark):
    """The registry query: zero exchanges, zero python stages — the
    extraction is a narrow per-document map (the 100 TB shape)."""
    from tests.conftest import SF_DIR
    from trialsync_etl_spark.plans import registry
    from trialsync_etl_spark.plans.explain import plan_text, summarize

    registry.load_all()
    plan = plan_text(registry.QUERIES["text_html_extract"](spark, SF_DIR))
    s = summarize(plan)
    assert s["exchanges"] == 0, plan
    assert s["python_stages"] == 0, plan
    assert s["scans"] == 1


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_word = st.text(
    alphabet=st.characters(
        whitelist_categories=("Ll", "Lu", "Nd"), max_codepoint=0x2FF
    ),
    min_size=1,
    max_size=10,
)
_body = st.lists(_word, min_size=8, max_size=40).map(" ".join)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(bodies=st.lists(_body, min_size=1, max_size=5))
def test_property_extraction_recovers_planted_prose(spark, bodies):
    """For ANY markup-free prose body above the length floor, wrapping
    it in the chrome template and extracting returns exactly the
    whitespace-normalized body — content is never lost to the pruning
    regexes, whatever the words are (accented Latin included)."""
    import re as _re

    pages = [
        (
            i,
            "<html><head><script>var x=1;</script></head><body>"
            "<nav><a href='/'>Home</a> <a href='/b'>B</a></nav>"
            f"<p>{b}</p>"
            "<footer>c 2024</footer></body></html>",
        )
        for i, b in enumerate(bodies)
    ]
    df = spark.createDataFrame(pages, "doc_id long, html string")
    got = {
        r.doc_id: r.text
        for r in df.select(
            "doc_id", H.extract_main_text(F.col("html")).alias("text")
        ).collect()
    }
    for i, b in enumerate(bodies):
        want = _re.sub(r"\s+", " ", b).strip()
        if len(want) >= H.MIN_BLOCK_CHARS:
            assert got[i] == want, (i, b)
        else:
            assert got[i] == ""
