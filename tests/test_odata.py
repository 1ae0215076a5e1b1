"""OData source: pagination, pushdown serialization, governors, retries,
rate limiting, parse modes, fan-out (SURVEY.md §2.1 S1–S8, §2.3 J7)."""

from __future__ import annotations

import json
from urllib.parse import parse_qs, urlparse

import pytest

from trialsync_etl_spark.sources.odata import (
    API_MAX_PAGE_SIZE,
    ODataParams,
    ODataSource,
    ODataSourceError,
    PaginationLimitExceeded,
    RateLimiter,
    ResponseParseError,
    fanout_fetch,
)


def make_transport(records, envelope="value", ignore_skip=False, fail_first=0, retry_after=None):
    """Fake OData server honoring $top/$skip, with fault injection."""
    state = {"calls": 0}

    def transport(url):
        state["calls"] += 1
        if state["calls"] <= fail_first:
            headers = {"Retry-After": str(retry_after)} if retry_after else {}
            return 503, headers, "busy"
        q = parse_qs(urlparse(url).query)
        top = int(q.get("$top", [API_MAX_PAGE_SIZE])[0])
        skip = 0 if ignore_skip else int(q.get("$skip", [0])[0])
        page = records[skip : skip + top]
        if envelope is None:
            return 200, {}, json.dumps(page)
        return 200, {}, json.dumps({envelope: page})

    transport.state = state
    return transport


RECORDS = [{"id": i, "name": f"rec{i}"} for i in range(250)]


def test_pagination_and_termination():
    src = ODataSource(make_transport(RECORDS), page_size=100)
    pages = list(src.pages("/Patients"))
    assert [len(p.items) for p in pages] == [100, 100, 50]  # short page stops
    assert [p.skip for p in pages] == [0, 100, 200]
    assert src.requests_made == 3  # no extra empty-page probe after short page


def test_exact_multiple_needs_empty_probe():
    src = ODataSource(make_transport(RECORDS[:200]), page_size=100)
    pages = list(src.pages("/Patients"))
    assert [len(p.items) for p in pages] == [100, 100]
    assert src.requests_made == 3  # full+full+empty


def test_params_pushdown_serialization():
    p = ODataParams(filter="modifiedDate gt 2024-01-01T00:00:00.000Z", orderby="id", count=True)
    q = p.to_query()
    assert q["$filter"].startswith("modifiedDate gt")
    assert q["$orderby"] == "id" and q["$count"] == "true"


def test_page_size_governor():
    assert ODataSource(make_transport(RECORDS), page_size=99999).page_size == API_MAX_PAGE_SIZE
    assert ODataSource(make_transport(RECORDS), page_size=0).page_size == 1


def test_skip_ignored_detection():
    # a full page repeated: ending here would drop the other 150 records
    src = ODataSource(make_transport(RECORDS, ignore_skip=True), page_size=100)
    with pytest.raises(ODataSourceError, match=r"ignored \$skip"):
        list(src.pages("/Patients"))
    assert src.requests_made == 2
    # ignoring $top as well: the first, oversized page held every record,
    # so the repeat ends the scan quietly
    t = make_transport(RECORDS, ignore_skip=True)
    src = ODataSource(lambda url: t(url.replace("%24top", "x")), page_size=100)
    assert [len(p.items) for p in src.pages("/Patients")] == [250]
    assert src.requests_made == 2


def test_bounded_scan_reads_past_server_page_cap():
    # the server serves at most 50 rows where 100 were asked: a short page
    # ends an open scan, but a $top-bounded scan reads on until its total
    # is met
    t = make_transport(RECORDS)
    src = ODataSource(lambda url: t(url.replace("%24top=100", "%24top=50")), page_size=100)
    assert [len(p.items) for p in src.pages("/Patients")] == [50]
    assert [len(p.items) for p in src.pages("/Patients", ODataParams(top=120))] == [50, 70]


def test_max_pages_rail():
    src = ODataSource(make_transport(RECORDS), page_size=10, max_pages=3)
    with pytest.raises(PaginationLimitExceeded):
        list(src.pages("/Patients"))


def test_max_records_rail():
    src = ODataSource(make_transport(RECORDS), page_size=100, max_records=150)
    with pytest.raises(PaginationLimitExceeded):
        list(src.pages("/Patients"))


def test_retry_backoff_and_retry_after():
    sleeps = []
    t = make_transport(RECORDS[:10], fail_first=2, retry_after=7)
    src = ODataSource(t, page_size=100, sleep=sleeps.append)
    pages = list(src.pages("/Patients"))
    assert len(pages[0].items) == 10
    assert sleeps == [7.0, 7.0]  # honored Retry-After, not exponential


def test_retries_exhausted():
    t = make_transport(RECORDS[:10], fail_first=99)
    src = ODataSource(t, retries=2, sleep=lambda s: None)
    with pytest.raises(Exception, match="request failed"):
        list(src.pages("/Patients"))


def test_parse_modes():
    strict = ODataSource(make_transport([], envelope="nope"), strict=True)
    with pytest.raises(ResponseParseError):
        list(strict.pages("/X"))
    lenient = ODataSource(make_transport([], envelope="nope"), strict=False)
    assert list(lenient.pages("/X")) == []
    bare = ODataSource(make_transport(RECORDS[:5], envelope=None), page_size=100)
    assert len(list(bare.pages("/X"))[0].items) == 5


def test_rate_limiter_token_bucket():
    clock = {"t": 0.0}
    sleeps = []

    def fake_sleep(s):
        sleeps.append(s)
        clock["t"] += s

    rl = RateLimiter(rps=2.0, clock=lambda: clock["t"])
    for _ in range(4):
        rl.acquire(fake_sleep)
    # capacity 2 burst, then 2 waits of ~0.5s each
    assert len(sleeps) == 2 and all(abs(s - 0.5) < 1e-6 for s in sleeps)


def test_checkpoint_resume_skips_prefix():
    t = make_transport(RECORDS, envelope="value")
    src = ODataSource(t, page_size=100)
    pages = list(src.pages("/Patients", start_skip=200, start_page_index=2))
    assert [p.skip for p in pages] == [200]
    assert len(pages[0].items) == 50


def test_fanout_fetch_partial_failures(spark):
    def fetch_one(key):  # nested → cloudpickle serializes by value
        if key % 7 == 3:
            raise ValueError(f"boom {key}")
        return [json.dumps({"id": int(key) * 10, "parent": int(key)})]

    parents = spark.createDataFrame([(i,) for i in range(10)], "study_id long")
    out = fanout_fetch(spark, parents, fetch_one, key_col="study_id").collect()
    ok = [r for r in out if r._error is None]
    failed = [r for r in out if r._error is not None]
    assert len(ok) == 9 and len(failed) == 1  # I4: partial failure tolerated
    assert failed[0]["_parentId"] == 3
    assert json.loads(ok[0].data)["parent"] == ok[0]["_parentId"]


# -- the pager contract of pages(), the one front end's scan ------------------
def _via_pages(transport, pagesize):
    src = ODataSource(transport, page_size=pagesize)
    return [item for page in src.pages("/Patients") for item in page.items]


FRONT_ENDS = pytest.mark.parametrize("fetch", [_via_pages], ids=["pages"])

LANDS_EVERY_ROW = {
    "value": dict(envelope="value"),
    "items": dict(envelope="items"),
    "bare-list": dict(envelope=None),
    # "0" as a string: the header is sent, and the retry does not wait
    "503-retry-after": dict(fail_first=1, retry_after="0"),
}


@FRONT_ENDS
@pytest.mark.parametrize("feed", LANDS_EVERY_ROW.values(), ids=LANDS_EVERY_ROW.keys())
def test_pager_contract_lands_every_row(fetch, feed):
    got = fetch(make_transport(RECORDS, **feed), 100)
    assert [r["id"] for r in got] == list(range(250))


@FRONT_ENDS
def test_pager_contract_unparseable_body_raises(fetch):
    with pytest.raises(ResponseParseError):
        fetch(make_transport(RECORDS, envelope="nope"), 100)


@FRONT_ENDS
def test_pager_contract_skip_ignored_raises(fetch):
    feed = make_transport(RECORDS, ignore_skip=True)
    with pytest.raises(ODataSourceError, match=r"ignored \$skip"):
        fetch(feed, 100)


@FRONT_ENDS
def test_pager_contract_caps_page_size(fetch):
    feed, tops = make_transport(RECORDS), []

    def spy(url):
        tops.append(int(parse_qs(urlparse(url).query)["$top"][0]))
        return feed(url)

    assert len(fetch(spy, 5000)) == 250
    assert max(tops) == API_MAX_PAGE_SIZE
