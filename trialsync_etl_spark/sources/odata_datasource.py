"""OData as a first-class PySpark Python DataSource (Spark 4 API): planner
+ pushdown + row shaping over ``ODataSource``.

`sources/odata.py::ODataSource` is the one OData pager (URL, request with
retry, parse, scan end); this module adds only what Spark needs on top of
it, behind `spark.read.format("odata")`:

- **partition-parallel scan**: the driver-side ``ODataSource.probe``
  (`$count`) splits the `$skip` range into N disjoint partitions, each
  paged by ``ODataSource.pages`` ON AN EXECUTOR — the reference serializes
  every page through one process; here a 1000-executor cluster pulls 1000
  ranges concurrently (rate limits permitting). Each partition is held to
  the pager's S5 rail of ``DEFAULT_MAX_PAGES`` (10000) pages, so with the
  default `pagesize` (1000) and `numpartitions` (4) a scan reads at most
  about 40M rows (10M on the serial fallback) and beyond that raises
  ``PaginationLimitExceeded``; raise `numpartitions` for larger feeds,
- **filter pushdown** (`pushFilters`): comparison predicates on declared
  filterable fields become the `$filter` query string (the reference's S2,
  now driven by Catalyst instead of hand-built),
- **typed rows**: a DDL schema option projects JSON fields to columns at
  the source (column pruning at the protocol level).

Transports: `url` (real HTTP via urllib) or `fixture` (an in-module OData
server over a JSON file — hermetic tests, picklable to executors).
"""

from __future__ import annotations

import json
import sys
from collections.abc import Iterator, Sequence
from dataclasses import dataclass
from urllib.parse import parse_qs, urlparse

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType

from trialsync_etl_spark.sources.odata import (
    API_MAX_PAGE_SIZE,
    ODataParams,
    ODataSource,
    ODataSourceError,
)

DEFAULT_NUM_PARTITIONS = 4

_OP = {
    EqualTo: "eq",
    GreaterThan: "gt",
    GreaterThanOrEqual: "ge",
    LessThan: "lt",
    LessThanOrEqual: "le",
}


def _odata_literal(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


# ---------------------------------------------------------------------------
# fixture endpoint: a tiny OData server over a JSON file (picklable)
# ---------------------------------------------------------------------------
def _matches(item: dict, clause: str) -> bool:
    """Evaluate one `field op literal` OData clause against a JSON item."""
    field, op, lit = clause.split(" ", 2)
    have = item.get(field)
    if lit.startswith("'"):
        want: object = lit[1:-1].replace("''", "'")
    elif lit in ("true", "false"):
        want = lit == "true"
    else:
        want = float(lit) if "." in lit else int(lit)
    if have is None:
        return False
    try:
        return {
            "eq": have == want,
            "gt": have > want,
            "ge": have >= want,
            "lt": have < want,
            "le": have <= want,
        }[op]
    except TypeError:
        return False


def fixture_transport(path: str, honor_count: bool = True):
    """OData endpoint over a JSON-array file: supports $filter (field op
    literal joined by ' and '), $skip, $top, $count. ``honor_count=False``
    models real endpoints that silently ignore ``$count=true`` (S4's
    pagination-termination heuristics exist because of them)."""

    def transport(url: str) -> tuple[int, dict, str]:
        with open(path) as f:
            records = json.load(f)
        q = {k: v[0] for k, v in parse_qs(urlparse(url).query).items()}
        flt = q.get("$filter")
        if flt:
            for clause in flt.split(" and "):
                records = [r for r in records if _matches(r, clause)]
        total = len(records)
        skip = int(q.get("$skip", "0"))
        top = int(q.get("$top", str(API_MAX_PAGE_SIZE)))
        body: dict = {"value": records[skip : skip + top]}
        if honor_count and q.get("$count") == "true":
            body["@odata.count"] = total
        return 200, {}, json.dumps(body)

    return transport


def http_transport(timeout_s: float = 30.0):
    def transport(url: str) -> tuple[int, dict, str]:  # pragma: no cover — needs network
        import urllib.request

        try:
            with urllib.request.urlopen(url, timeout=timeout_s) as resp:
                return resp.status, dict(resp.headers), resp.read().decode()
        except urllib.error.HTTPError as e:
            return e.code, dict(e.headers), e.read().decode()

    return transport


def _make_transport(options: dict):
    if options.get("fixture"):
        return fixture_transport(
            options["fixture"],
            honor_count=options.get("nocount", "").lower() != "true",
        )
    if options.get("url"):
        return http_transport()  # pragma: no cover — needs network
    raise ValueError("odata source needs a 'fixture' or 'url' option")


#: partition-end sentinel: an unbounded range, paged serially until an empty
#: page (used when the endpoint doesn't honor $count=true, so the total is
#: unknowable)
SERIAL = sys.maxsize


@dataclass
class SkipRange(InputPartition):
    start: int
    end: int  # exclusive; SERIAL ⇒ unbounded serial pagination


class ODataReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict) -> None:
        self.schema = schema
        self.options = dict(options)
        self.page_size = int(options.get("pagesize", API_MAX_PAGE_SIZE))
        self.num_partitions = int(options.get("numpartitions", DEFAULT_NUM_PARTITIONS))
        self.filterable = {
            f.strip() for f in options.get("filterable", "").split(",") if f.strip()
        }
        self.pushed: list[str] = []

    # -- S2 via Catalyst: comparison filters → $filter ----------------------
    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            op = _OP.get(type(f))
            attr = getattr(f, "attribute", ())
            if op is not None and len(attr) == 1 and attr[0] in self.filterable:
                self.pushed.append(f"{attr[0]} {op} {_odata_literal(f.value)}")
            else:
                yield f  # unsupported → Spark re-applies it

    def _filter_string(self) -> str | None:
        return " and ".join(self.pushed) if self.pushed else None

    def _source(self) -> ODataSource:
        return ODataSource(
            _make_transport(self.options),
            base_url=self.options.get("url", ""),
            page_size=self.page_size,
        )

    # -- partition planning: $count probe → disjoint $skip ranges -----------
    def partitions(self) -> Sequence[InputPartition]:
        source = self._source()
        resource, flt = self.options.get("resource", ""), self._filter_string()
        total, first = source.probe(resource, flt)
        if total is None:
            # endpoint ignored $count=true: a parallel range plan is
            # impossible, but the data may exist — fall back to one
            # serial-pagination partition (end=SERIAL sentinel) instead of
            # silently returning an empty scan
            return [SkipRange(0, SERIAL)]
        if total <= 0:
            return [SkipRange(0, 0)]
        n = max(1, min(self.num_partitions, (total + self.page_size - 1) // self.page_size))
        step = (total + n - 1) // n
        plan = [SkipRange(s, min(s + step, total)) for s in range(0, total, step)]
        if len(plan) > 1:
            # an endpoint that ignores $skip serves the first rows at every
            # range start: each partition would land copies of them
            _, items = source._get(resource, ODataParams(filter=flt, top=1, skip=plan[1].start))
            if items[:1] == [first]:
                raise ODataSourceError(
                    f"odata endpoint ignored $skip (row at skip={plan[1].start} "
                    "repeats skip=0); a parallel range scan would duplicate rows"
                )
        return plan

    # -- executor-side range scan -------------------------------------------
    def read(self, partition: SkipRange) -> Iterator[tuple]:
        fields = [f.name for f in self.schema.fields]
        raw_mode = fields == ["data"]
        # a bounded scan, the SERIAL range too: it reads until the range is
        # full or a page is empty, so a server that serves fewer rows than
        # asked cannot cut the partition short
        for page in self._source().pages(
            self.options.get("resource", ""),
            ODataParams(filter=self._filter_string(), top=partition.end - partition.start),
            start_skip=partition.start,
        ):
            for item in page.items:
                if raw_mode:
                    yield (json.dumps(item, sort_keys=True),)
                else:
                    yield tuple(item.get(f) for f in fields)


class ODataDataSource(DataSource):
    """Register with ``spark.dataSource.register(ODataDataSource)`` then
    ``spark.read.format("odata").schema(...).option(...).load()``."""

    @classmethod
    def name(cls) -> str:
        return "odata"

    def schema(self) -> str:
        # Bronze envelope by default; pass .schema(...) for typed rows
        return "data string"

    def reader(self, schema: StructType) -> ODataReader:
        return ODataReader(schema, self.options)
