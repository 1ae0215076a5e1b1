"""Paginated OData REST source (SURVEY.md §2.1 S1–S8), Spark-first.

The reference's ClinicalConductorClient (ref: src/api/client.py:28-734)
re-expressed as the one OData pager: ``ODataSource`` is the only code that
builds an OData URL, sends a request, parses a response and decides when a
scan ends. Its one front end is the driver-side ``JobExecutor`` (the
reference's shape): the slow, rate-limited HTTP stays on the driver under
one token bucket, every flushed page is checkpointed, and Bronze holds the
raw JSON.

Behavioral parity:
- S2 predicate/limit pushdown: ``ODataParams`` serializes $filter/$top/
  $skip/$orderby/$count onto the request.
- S3 page-size governor: $top capped to the API max (1000), floor 1.
- S4 termination heuristics: an empty page ends a scan, a short page ends
  an open scan (no $top total). A repeated page means the endpoint ignores
  $skip and raises, unless the page before it held more rows than asked:
  then the endpoint ignores $top too, has served everything, and the scan
  ends.
- S5 pagination rails: max_pages / max_records → PaginationLimitExceeded.
- S6 token-bucket rate limiter.
- S7 retry with exponential backoff honoring Retry-After.
- S8 parser: value/items/bare-list extraction, strict/lenient modes.

Transport is injectable (``transport(url) -> (status, headers, body)``) so
tests run hermetically; a real deployment passes an HTTP callable. For
per-parent fan-out at scale, `fanout_fetch` distributes parameter bindings
across executors with mapInPandas (J7's Spark-native shape).
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field, replace
from urllib.parse import urlencode

from pyspark.sql import DataFrame, SparkSession

API_MAX_PAGE_SIZE = 1000
DEFAULT_MAX_PAGES = 10000

Transport = Callable[[str], tuple[int, dict, str]]


class ODataSourceError(IOError):
    pass


class PaginationLimitExceeded(ODataSourceError):
    pass


class ResponseParseError(ODataSourceError):
    pass


@dataclass
class ODataParams:
    """S2: query options serialized onto the request
    (ref: src/api/client.py:28-52)."""

    filter: str | None = None
    top: int | None = None
    skip: int | None = None
    orderby: str | None = None
    count: bool = False
    extra: dict = field(default_factory=dict)

    def to_query(self) -> dict:
        q: dict = {}
        if self.filter:
            q["$filter"] = self.filter
        if self.top is not None:
            q["$top"] = self.top
        if self.skip is not None:
            q["$skip"] = self.skip
        if self.orderby:
            q["$orderby"] = self.orderby
        if self.count:
            q["$count"] = "true"
        q.update(self.extra)
        return q


@dataclass
class Page:
    """S1: one fetched page (ref: src/api/client.py:498-734)."""

    items: list[dict]
    page_index: int
    skip: int


class RateLimiter:
    """S6: token-bucket throttle (ref: src/api/client.py:131-161)."""

    def __init__(self, rps: float, clock: Callable[[], float] = time.monotonic) -> None:
        self.rps = rps
        self.capacity = max(1.0, rps)
        self.tokens = self.capacity
        self.clock = clock
        self.last = clock()
        self.waited = 0.0

    def acquire(self, sleep: Callable[[float], None] = time.sleep) -> None:
        now = self.clock()
        self.tokens = min(self.capacity, self.tokens + (now - self.last) * self.rps)
        self.last = now
        if self.tokens < 1.0:
            wait = (1.0 - self.tokens) / self.rps
            self.waited += wait
            sleep(wait)
            self.tokens = 1.0
            self.last = self.clock()
        self.tokens -= 1.0


class ODataSource:
    def __init__(
        self,
        transport: Transport,
        base_url: str = "",
        page_size: int = API_MAX_PAGE_SIZE,
        max_pages: int = DEFAULT_MAX_PAGES,
        max_records: int | None = None,
        rate_limit_rps: float | None = None,
        retries: int = 3,
        backoff_base: float = 1.0,
        backoff_max: float = 60.0,
        strict: bool = True,
        sleep: Callable[[float], None] = time.sleep,
    ) -> None:
        # S3: page-size governor — cap to API max, floor 1
        self.page_size = max(1, min(page_size, API_MAX_PAGE_SIZE))
        self.transport = transport
        self.base_url = base_url
        self.max_pages = max_pages
        self.max_records = max_records
        self.limiter = RateLimiter(rate_limit_rps) if rate_limit_rps else None
        self.retries = retries
        self.backoff_base = backoff_base
        self.backoff_max = backoff_max
        self.strict = strict
        self.sleep = sleep
        self.requests_made = 0

    # -- S7: retry with exponential backoff, honoring Retry-After ----------
    def _request(self, url: str) -> str:
        attempt = 0
        while True:
            if self.limiter:
                self.limiter.acquire(self.sleep)
            self.requests_made += 1
            try:
                status, headers, body = self.transport(url)
            except (OSError, TimeoutError) as exc:
                status, headers, body = -1, {}, str(exc)
            if status == 200:
                return body
            retryable = status in (-1, 429, 500, 502, 503, 504)
            attempt += 1
            if not retryable or attempt > self.retries:
                raise ODataSourceError(f"request failed (status={status}): {url}")
            backoff = min(self.backoff_max, self.backoff_base * (2 ** (attempt - 1)))
            retry_after = headers.get("Retry-After")
            try:
                # RFC 7231 also allows an HTTP-date here — fall back to the
                # computed backoff rather than crashing the retry loop
                wait = float(retry_after) if retry_after else backoff
            except (TypeError, ValueError):
                wait = backoff
            self.sleep(wait)

    # -- S8: response parsing/validation ------------------------------------
    def _parse(self, body: str) -> list[dict]:
        """The records of one response body."""
        try:
            doc = json.loads(body)
        except json.JSONDecodeError as exc:
            if self.strict:
                raise ResponseParseError(f"invalid JSON: {exc}") from exc
            return []
        if isinstance(doc, list):
            items = doc
        elif isinstance(doc, dict):
            items = doc.get("value", doc.get("items"))
            if items is None:
                if self.strict:
                    raise ResponseParseError("no value/items key in response object")
                return []
        else:
            if self.strict:
                raise ResponseParseError(f"unexpected payload type {type(doc)}")
            return []
        if self.strict:
            bad = [i for i in items if not isinstance(i, dict)]
            if bad:
                raise ResponseParseError(f"{len(bad)} non-object items")
            return items
        return [i for i in items if isinstance(i, dict)]

    # -- S1/S4/S5: page iterator with termination + rails --------------------
    def pages(
        self,
        resource: str,
        params: ODataParams | None = None,
        start_skip: int = 0,
        start_page_index: int = 0,
    ) -> Iterator[Page]:
        """Yield pages until a termination heuristic fires. ``start_skip`` /
        ``start_page_index`` enable checkpoint resume (I2)."""
        params = params or ODataParams()
        skip = start_skip
        page_index = start_page_index
        total = 0
        # S2: a caller-requested $top is a TOTAL record cap, honored across
        # pages (each request still asks for at most page_size)
        remaining = params.top
        prev_page_sig: list | None = None
        prev_overfull = False

        while remaining is None or remaining > 0:
            if page_index - start_page_index >= self.max_pages:
                raise PaginationLimitExceeded(f"max_pages={self.max_pages} exceeded")
            ask = self.page_size if remaining is None else min(self.page_size, remaining)
            query = replace(params, top=ask, skip=skip).to_query()
            items = self._parse(self._request(f"{self.base_url}{resource}?{urlencode(query)}"))

            if not items:  # S4: empty page → done
                return
            # S4: API-ignoring-$skip detection — compare the leading items
            # themselves, not a hardcoded 'id' key (records keyed 'Id'/'ID'
            # would otherwise all hash to None and truncate after one page)
            page_sig = [json.dumps(i, sort_keys=True) for i in items[:3]]
            if skip > start_skip and page_sig == prev_page_sig:
                if prev_overfull:
                    # the endpoint ignores $top as well: its one oversized
                    # page already held everything
                    return
                # ending here would report a partial scan as complete
                raise ODataSourceError(
                    "odata endpoint ignored $skip (page repeated at "
                    f"skip={skip}); serial pagination cannot make progress"
                )
            prev_page_sig = page_sig
            prev_overfull = len(items) > ask

            if self.max_records is not None and total + len(items) > self.max_records:
                raise PaginationLimitExceeded(f"max_records={self.max_records} exceeded")

            short = len(items) < ask
            if remaining is not None:
                items = items[:remaining]
                remaining -= len(items)
            yield Page(items=items, page_index=page_index, skip=skip)
            total += len(items)
            # S4: a short page ends an open scan. A scan with a $top total
            # reads on until the total is met or a page comes back empty, so
            # a server that caps its pages below page_size cannot cut it short
            if short and remaining is None:
                return
            skip += len(items)
            page_index += 1


def fanout_fetch(
    spark: SparkSession,
    parent_keys: DataFrame,
    fetch_one: Callable[[object], list[str]],
    key_col: str,
    parent_col: str = "_parentId",
) -> DataFrame:
    """J7: parameterized fan-out — one fetch per parent key, executed on
    executors via mapInPandas so 40 parameterized jobs don't serialize
    through the driver (ref: src/etl/executor.py:404-463,567-657).

    ``fetch_one(key) -> list[json-str]`` must be picklable and rate-limit
    itself per-executor (e.g. a module-level limiter); per-key failures are
    collected, not fatal (I4 semantics): failed keys yield a row with
    data=NULL and the error in `_error`.
    """
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out_keys, out_data, out_err = [], [], []
            for key in pdf[key_col]:
                try:
                    for s in fetch_one(key):
                        out_keys.append(key)
                        out_data.append(s)
                        out_err.append(None)
                except Exception as exc:  # noqa: BLE001 — I4: partial failure
                    out_keys.append(key)
                    out_data.append(None)
                    out_err.append(str(exc))
            yield pd.DataFrame({parent_col: out_keys, "data": out_data, "_error": out_err})

    return parent_keys.select(key_col).distinct().mapInPandas(
        run, schema=f"{parent_col} long, data string, _error string"
    )
