"""Seeded input generator for the benchmark.

Everything the program reads is made here from ``--seed``: the warehouse
source tables (the TPC-H-like star plus ``events``, ``documents`` and
``embeddings``), the OData fixture feeds served by an in-process
transport, the change batches of the incremental workload and the
landing files of the curation gates. The same seed gives byte-identical
inputs; the program only ever sees the generated files and feeds.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta
from urllib.parse import parse_qs, urlparse

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("blue", "hot", "large", "new", "old", "red", "small")
P_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "en", "en", "es", "fr", "zh")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

#: OData root feeds of the nightly landing (job names of data/etl_jobs.json)
#: and their record counts: 5000 records; at page size 1000 Patients spans
#: three pages and Elements two.
FEEDS = {"Sites": 250, "Studies": 500, "Patients": 2500, "Staff": 600, "Elements": 1150}

EMBED_DIM = 64
EVENTS_START = datetime(2024, 1, 1)
EVENTS_DAYS = 30
ORDERS_START = datetime(1995, 1, 1)
ORDERS_DAYS = 2404  # through 2001-08-01


def _ts(base: datetime, micros: np.ndarray) -> pa.Array:
    epoch = np.datetime64(base, "us")
    return pa.array(epoch + micros.astype("timedelta64[us]"))


def _write(table: pa.Table, root: str, name: str, part: int = 0) -> None:
    """One parquet directory per table (``<name>.parquet/part-<n>``), so an
    incremental slice is one more part file in the same directory."""
    d = os.path.join(root, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    pq.write_table(table, os.path.join(d, f"part-{part:05d}.parquet"))


class Inputs:
    """Generator bound to one seed. Row counts follow the repository's
    test data at scale factor ``sf`` (at 0.1: 15k customers, 150k orders,
    600k lineitems, 100k events of 1500 users, 5000 documents, 2000
    embeddings; never fewer than 500 documents and embeddings), and so do
    the value distributions: 30 days of events over five types, documents
    of 10-100 words from a 31-word vocabulary, unit 64-d embeddings."""

    def __init__(self, seed: int, sf: float) -> None:
        self.rng = np.random.default_rng(seed)
        self.n_customer = round(150_000 * sf)
        self.n_supplier = round(10_000 * sf)
        self.n_part = round(200_000 * sf)
        self.n_orders = round(1_500_000 * sf)
        self.n_lineitem = round(6_000_000 * sf)
        self.n_events = round(1_000_000 * sf)
        self.n_users = round(15_000 * sf)
        self.n_docs = max(500, round(50_000 * sf))
        self.n_vecs = max(500, round(20_000 * sf))
        self.next_event_id = self.n_events
        self.next_order_key = self.n_orders
        self.events_end_us = 0
        self.orders_end_day = 0

    # -- warehouse source tables -------------------------------------------
    def write_tables(self, root: str) -> dict[str, int]:
        r = self.rng
        rows = {}

        def put(name, cols):
            t = pa.table(cols)
            _write(t, root, name)
            rows[name] = t.num_rows

        put("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                       "r_name": list(REGIONS)})
        put("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                       "n_name": [f"NATION_{i}" for i in range(25)],
                       "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
        nc = self.n_customer
        put("customer", {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(r.integers(0, 25, nc, dtype=np.int32)),
            "c_acctbal": np.round(r.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": r.choice(SEGMENTS, nc).tolist(),
        })
        ns = self.n_supplier
        put("supplier", {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(r.integers(0, 25, ns, dtype=np.int32)),
            "s_acctbal": np.round(r.uniform(-999.99, 9999.99, ns), 2),
        })
        npt = self.n_part
        keys = np.arange(npt, dtype=np.int64)
        put("part", {
            "p_partkey": keys,
            "p_name": [f"{a} {b}" for a, b in zip(r.choice(P_ADJ, npt), r.choice(P_NOUN, npt))],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, npt)],
            "p_type": r.choice(P_TYPES, npt).tolist(),
            "p_size": pa.array(r.integers(1, 51, npt, dtype=np.int32)),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
        })
        no = self.n_orders
        days = r.integers(0, ORDERS_DAYS + 1, no)
        self.orders_end_day = ORDERS_DAYS
        put("orders", {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": r.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": r.choice(("F", "O", "P"), no).tolist(),
            "o_totalprice": np.round(r.uniform(1000.0, 500000.0, no), 2),
            "o_orderdate": _ts(ORDERS_START, days * 86_400_000_000),
            "o_orderpriority": r.choice(PRIORITIES, no).tolist(),
        })
        nl = self.n_lineitem
        qty = r.integers(1, 51, nl).astype(np.float64)
        put("lineitem", {
            "l_orderkey": r.integers(0, no, nl).astype(np.int64),
            "l_partkey": r.integers(0, npt, nl).astype(np.int64),
            "l_suppkey": r.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": pa.array(r.integers(1, 8, nl, dtype=np.int32)),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, nl), 2),
            "l_discount": np.round(r.integers(0, 11, nl) / 100.0, 2),
            "l_tax": np.round(r.integers(0, 9, nl) / 100.0, 2),
            "l_returnflag": r.choice(("A", "N", "R"), nl).tolist(),
            "l_linestatus": r.choice(("F", "O"), nl).tolist(),
            "l_shipdate": _ts(ORDERS_START, r.integers(1, ORDERS_DAYS + 95, nl) * 86_400_000_000),
        })
        span_us = EVENTS_DAYS * 86_400_000_000
        put("events", self._events(0, self.n_events, 0, span_us))
        self.events_end_us = span_us
        put("documents", self._documents(0, self.n_docs))
        put("embeddings", self._embeddings(0, self.n_vecs))
        return rows

    def _events(self, first_id: int, n: int, lo_us: int, hi_us: int) -> dict:
        r = self.rng
        us = np.sort(r.integers(lo_us, hi_us, n))
        return {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": _ts(EVENTS_START, us),
            "user_id": r.integers(0, self.n_users, n).astype(np.int64),
            "event_type": r.choice(EVENT_TYPES, n).tolist(),
            "value": np.round(r.uniform(0.01, 500.0, n), 2),
            "props": [json.dumps({"k": int(k)}) for k in r.integers(0, 100, n)],
        }

    def _documents(self, first_id: int, n: int) -> dict:
        r = self.rng
        texts = [" ".join(r.choice(WORDS, int(k))) for k in r.integers(10, 101, n)]
        return {
            "doc_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "text": texts,
            "lang": r.choice(LANGS, n).tolist(),
            "source": [f"src{k}" for k in r.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }

    def _embeddings(self, first_id: int, n: int) -> dict:
        r = self.rng
        v = r.normal(0.0, 1.0, (n, EMBED_DIM)).astype(np.float32)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        return {
            "vec_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(r.integers(0, 10, n, dtype=np.int32)),
        }

    # -- incremental change batches ---------------------------------------
    def append_change_batch(self, root: str, part: int, frac: float = 0.01) -> dict[str, int]:
        """Append one ts-ordered slice of ``events`` and ``orders`` newer than
        everything already in ``root`` as part file ``part``."""
        r = self.rng
        n_ev = max(1, int(self.n_events * frac))
        step = 6 * 3_600_000_000  # each slice covers the next six hours
        ev = self._events(self.next_event_id, n_ev, self.events_end_us, self.events_end_us + step)
        self.next_event_id += n_ev
        self.events_end_us += step
        _write(pa.table(ev), root, "events", part)

        n_or = max(1, int(self.n_orders * frac))
        self.orders_end_day += 10
        days = np.sort(r.integers(self.orders_end_day - 9, self.orders_end_day + 1, n_or))
        _write(pa.table({
            "o_orderkey": np.arange(self.next_order_key, self.next_order_key + n_or, dtype=np.int64),
            "o_custkey": r.integers(0, self.n_customer, n_or).astype(np.int64),
            "o_orderstatus": r.choice(("F", "O", "P"), n_or).tolist(),
            "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_or), 2),
            "o_orderdate": _ts(ORDERS_START, days * 86_400_000_000),
            "o_orderpriority": r.choice(PRIORITIES, n_or).tolist(),
        }), root, "orders", part)
        self.next_order_key += n_or
        return {"events": n_ev, "orders": n_or}

    # -- curation landing files -------------------------------------------
    def land_documents(self, landing: str, name: str, first_id: int, n: int,
                       n_copies: int, mtime: int, redeliver: bool) -> int | None:
        """Write ``n`` documents as one JSON-lines file; the last
        ``n_copies`` repeat the text of earlier rows of the same file under
        fresh ids, so the near-dup gate has a known floor of drops. With
        ``redeliver`` the row before the copies is an exact second delivery
        of an earlier row (same id, same text), which fails the quality
        gate's ``unique(doc_id)``; returns that id."""
        d = self._documents(first_id, n)
        texts, ids = d["text"], d["doc_id"].tolist()
        originals = n - n_copies - (1 if redeliver else 0)
        for i in range(n - n_copies, n):
            texts[i] = texts[int(self.rng.integers(0, originals))]
        again = None
        if redeliver:
            j = int(self.rng.integers(0, originals))
            again = ids[originals] = ids[j]
            texts[originals] = texts[j]
        rows = [{"doc_id": i, "text": t} for i, t in zip(ids, texts)]
        _land(landing, name, rows, mtime)
        return again

    def land_embeddings(self, landing: str, name: str, first_id: int, n: int,
                        n_copies: int, mtime: int) -> None:
        e = self._embeddings(first_id, n)
        vecs = [v.tolist() for v in e["embedding"].to_numpy(zero_copy_only=False)]
        for i in range(n - n_copies, n):
            vecs[i] = vecs[int(self.rng.integers(0, n - n_copies))]
        rows = [{"vec_id": int(i), "embedding": v} for i, v in zip(e["vec_id"], vecs)]
        _land(landing, name, rows, mtime)

    # -- OData fixture feeds ----------------------------------------------
    def feed(self, job: str, n: int, modified: str) -> list[dict]:
        r = self.rng
        return [
            {"id": i, "name": f"{job[:-1]} {i}", "status": str(r.choice(("active", "closed", "screening"))),
             "siteId": int(r.integers(0, 100)), "modifiedDate": modified}
            for i in range(n)
        ]

    def touch(self, records: list[dict], frac: float, modified: str) -> int:
        """Make ``frac`` of ``records`` newer than the current watermark."""
        k = max(1, int(len(records) * frac))
        for i in self.rng.choice(len(records), k, replace=False):
            records[int(i)] = {**records[int(i)], "status": "updated", "modifiedDate": modified}
        return k


def _land(landing: str, name: str, rows: list[dict], mtime: int) -> None:
    os.makedirs(landing, exist_ok=True)
    path = os.path.join(landing, name)
    with open(path, "w") as f:
        for row in rows:
            f.write(json.dumps(row) + "\n")
    # distinct mtimes pin the file source's batch order
    os.utime(path, (mtime, mtime))


class FeedServer:
    """In-process OData endpoint over the generated feeds: honours
    ``$top``, ``$skip`` and the ``modifiedDate gt`` watermark ``$filter``
    and counts requests and JSON bytes served."""

    def __init__(self) -> None:
        self.feeds: dict[str, list[dict]] = {}
        self.requests = 0
        self.bytes = 0

    def __call__(self, url: str) -> tuple[int, dict, str]:
        u = urlparse(url)
        q = parse_qs(u.query)
        rows = self.feeds[u.path]
        flt = q.get("$filter", [None])[0]
        if flt:
            ts = flt.split(" gt ", 1)[1].strip("'")
            rows = [x for x in rows if x["modifiedDate"] > ts]
        skip = int(q.get("$skip", ["0"])[0])
        top = int(q.get("$top", ["1000"])[0])
        body = json.dumps({"value": rows[skip: skip + top]})
        self.requests += 1
        self.bytes += len(body)
        return 200, {}, body


def stamp(day: int, hour: int = 0) -> str:
    """Watermark-comparable timestamp string ``day`` days and ``hour``
    hours after 2024-01-01."""
    return (datetime(2024, 1, 1) + timedelta(days=day, hours=hour)).strftime("%Y-%m-%d %H:%M:%S")
