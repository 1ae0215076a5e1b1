"""WARC web-archive source (ISO 28500 — the Common Crawl container).

The step BEFORE the funnel's HTML stage zero: every published web
pipeline (C4, RefinedWeb, CCNet) starts from WARC files. This module
reads them Spark-first:

- :func:`read_warc`: ``spark.read.format("binaryFile")`` over a
  path/glob → ONE Arrow stage (``mapInPandas``) parsing records per
  file → (warc_file, record_idx, doc_id, warc_type, url, http_status,
  content_type, html). Parallelism = files (the Common Crawl layout:
  many ~1 GB segments — at 100 TB the scan partitions by file and the
  parse never leaves the executor); nothing driver-side but the path
  listing.
- :func:`parse_warc_members`: the record parser — version line,
  named headers, Content-Length-delimited block, the two-CRLF record
  separator; ``response`` records additionally strip the embedded HTTP
  status line + headers to expose the payload. Per-record gzip members
  (the ``.warc.gz`` convention) and plain concatenated records both
  parse; a truncated trailing record is dropped with a count, never an
  exception (crawl files end mid-record routinely).
- :func:`write_warc_bytes`: a spec-conformant writer — the committed
  test fixture is BUILT by it, so the parser is pinned against an
  independent serialization of the same records, not against itself.

``doc_id`` is an order-preserving composite: the high 42 bits are
``xxhash64(warc_file)``, the low 21 bits are ``record_idx`` — so ids
are deterministic across re-reads, unique per record (up to a 2^-42
per-file-pair hash collision at crawl scale), non-negative, and
MONOTONE in record position within a file: the funnel's
keep-lowest-id dedup keeps the EARLIEST record of a file, reproducibly.
Files beyond 2^21 (~2M) records fail loudly rather than aliasing ids.

Memory shape: ``binaryFile`` materializes each container's full
COMPRESSED bytes as one row (its hard ceiling: files > 2 GB are not
readable). Everything downstream streams: gzip members decompress one
at a time, records parse one at a time, and the Arrow stage yields
bounded row chunks (``rows_per_chunk``) instead of accumulating a
file's records — peak executor memory per task is the compressed
container + ONE decompressed member + one chunk, not the whole
decompressed crawl file plus its Arrow copy. For containers past the
2 GB cap — or to remove the compressed-container spike entirely —
:func:`read_warc_stream` scans through the ``warc`` Python DataSource
(``sources/warc_datasource.py``): each task OPENS its file and streams
fixed-size blocks through the same member decoder, so per-task memory
is one block + one member whatever the container size, with identical
rows and doc ids (test-pinned parity, including a planted >2 GB
fixture in the slow suite).

The parsed (doc_id, url, html) lands directly in
``curate_corpus(html_extract=True, ...)`` — crawl container → boilerplate
removal → the whole curation funnel, end-to-end.
"""

from __future__ import annotations

import gzip
import io
import os
import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_CRLF = b"\r\n"

OUT_SCHEMA = (
    "warc_file string, record_idx int, doc_id long, warc_type string, "
    "url string, http_status int, content_type string, html string, "
    "n_truncated int"
)


def _iter_gzip_members(data: bytes) -> Iterator[bytes]:
    """Decompress concatenated per-record gzip members (the .warc.gz
    layout) ONE AT A TIME — a generator, so only a single decompressed
    member is ever held (a crawl container decompresses to several
    times its on-disk size; accumulating every member would spike
    executor memory). Plain input yields itself whole."""
    if not data.startswith(b"\x1f\x8b"):
        yield data
        return
    pos = 0
    while pos < len(data):
        d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
        try:
            member = d.decompress(data[pos:])
        except zlib.error:
            break  # truncated trailing member
        yield member
        rest = d.unused_data
        if not rest:
            break
        pos = len(data) - len(rest)


def _iter_gzip_members_stream(fobj, block_bytes: int = 4 << 20) -> Iterator[bytes]:
    """:func:`_iter_gzip_members` over a FILE OBJECT read in
    ``block_bytes`` chunks — the container's compressed bytes are never
    all in memory, so file size is unbounded (the ``binaryFile`` route
    holds the whole compressed container per task and hard-stops at
    2 GB). Peak memory per task is one block + one decompressed member.
    Truncation/garble parity with the bytes path: a mid-stream
    ``zlib.error`` ends the file without yielding the broken member; a
    clean-EOF partial member IS yielded (the record parser then counts
    its torn tail). A plain (non-gzip) container has no member
    boundaries to stream by — it falls back to one whole-file member,
    exactly the bytes path's shape."""
    pending = fobj.read(max(2, block_bytes))  # the magic sniff needs 2 bytes
    if not pending.startswith(b"\x1f\x8b"):
        yield pending + fobj.read()
        return
    while pending:
        d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
        parts: list[bytes] = []
        while True:
            try:
                parts.append(d.decompress(pending))
            except zlib.error:
                return  # garbled member: drop it and stop (bytes-path parity)
            if d.eof:
                pending = d.unused_data
                break
            pending = fobj.read(block_bytes)
            if not pending:
                break  # clean EOF mid-member: yield the partial member
        yield b"".join(parts)
        if not pending:
            if not d.eof:
                return  # the partial-member case above — nothing follows
            pending = fobj.read(block_bytes)


def iter_warc_records(data: bytes) -> Iterator[tuple[dict | None, int]]:
    """Stream WARC records from a (possibly multi-member gzip) byte
    string: yields ``(record, truncated_so_far)`` pairs — ``record`` is
    ``{warc_type, url, http_status, content_type, payload: bytes}`` —
    then one final ``(None, truncated_total)`` (crawl files end
    mid-record routinely; a tear is data, not an exception). Generator
    shape on purpose: the Arrow stage in :func:`read_warc` drains it in
    bounded chunks instead of materializing a whole container's
    records."""
    yield from _iter_records_from_members(_iter_gzip_members(data))


def _iter_records_from_members(
    members: Iterator[bytes],
) -> Iterator[tuple[dict | None, int]]:
    """The record parser over any member iterator — shared by the bytes
    path (:func:`iter_warc_records`) and the bounded-memory file path
    (:func:`_iter_gzip_members_stream` via the ``warc`` DataSource)."""
    truncated = 0
    for member in members:
        pos = 0
        n = len(member)
        while pos < n:
            # skip inter-record blank lines
            while member.startswith(_CRLF, pos):
                pos += 2
            if pos >= n:
                break
            head_end = member.find(_CRLF + _CRLF, pos)
            if head_end < 0:
                truncated += 1
                break
            head = member[pos:head_end].decode("latin-1")
            lines = head.split("\r\n")
            if not lines[0].startswith("WARC/"):
                truncated += 1
                break
            hdrs = {}
            for line in lines[1:]:
                if ":" in line:
                    k, v = line.split(":", 1)
                    hdrs[k.strip().lower()] = v.strip()
            try:
                clen = int(hdrs.get("content-length", ""))
            except ValueError:
                truncated += 1
                break
            body_start = head_end + 4
            body_end = body_start + clen
            if body_end > n:
                truncated += 1
                break
            payload = member[body_start:body_end]
            status = None
            ctype = hdrs.get("content-type")
            if hdrs.get("warc-type") == "response" and payload.startswith(
                b"HTTP/"
            ):
                # strip the embedded HTTP response head
                http_end = payload.find(_CRLF + _CRLF)
                if http_end >= 0:
                    http_head = payload[:http_end].decode(
                        "latin-1", "replace"
                    )
                    http_lines = http_head.split("\r\n")
                    parts = http_lines[0].split()
                    if len(parts) >= 2 and parts[1].isdigit():
                        status = int(parts[1])
                    for line in http_lines[1:]:
                        if line.lower().startswith("content-type:"):
                            ctype = line.split(":", 1)[1].strip()
                    payload = payload[http_end + 4 :]
            yield (
                {
                    "warc_type": hdrs.get("warc-type", ""),
                    "url": hdrs.get("warc-target-uri"),
                    "http_status": status,
                    "content_type": ctype,
                    "payload": payload,
                },
                truncated,
            )
            pos = body_end
    yield None, truncated


def parse_warc_members(data: bytes) -> tuple[list[dict], int]:
    """Materialized view of :func:`iter_warc_records` — all records plus
    the truncated-drop count. Test/driver convenience; the Spark path
    streams the generator directly."""
    records: list[dict] = []
    truncated = 0
    for rec, truncated in iter_warc_records(data):
        if rec is not None:
            records.append(rec)
    return records, truncated


#: record_idx bits in the composite doc id — 2^21 ≈ 2M records/file
#: (a ~1 GB Common Crawl segment holds ~100K); beyond it read_warc
#: raises rather than aliasing ids.
RECORD_IDX_BITS = 21
_FILE_HASH_BITS = 42  # 42 + 21 = 63 → always a non-negative BIGINT

_COLUMNS = [
    "warc_file", "record_idx", "doc_id", "warc_type",
    "url", "http_status", "content_type", "html", "n_truncated",
]

#: per-file size above which read_warc routes through the streaming
#: DataSource instead of binaryFile (whose byte-array row hard-stops at
#: 2 GB and spikes task memory by the container size). 1.5 GiB leaves
#: headroom below the hard cap. The two routes are row-identical
#: (test-pinned) and measured at throughput parity on the bench crawl
#: shape (interleaved A/B, ±2%).
BINARYFILE_MAX_BYTES = (3 << 30) // 2


def read_warc(
    spark: SparkSession,
    path: str,
    warc_types: tuple[str, ...] = ("response",),
    rows_per_chunk: int = 1024,
) -> DataFrame:
    """The WARC corpus as (warc_file, record_idx, doc_id, warc_type,
    url, http_status, content_type, html, n_truncated): one binaryFile
    scan + one Arrow parse stage, record filtering pushed into the
    parser (request/metadata records never materialize as rows unless
    asked for). The parse STREAMS: records drain off the generator and
    yield in ``rows_per_chunk`` batches, so a container's decompressed
    records are never all in memory at once (see module docstring for
    the full memory shape). ``n_truncated`` is the running count of
    dropped truncated/garbled members BEFORE the row was parsed; a
    tail tear follows every surviving row, so file-level totals are a
    parser diagnostic (:func:`parse_warc_members`), not a row fact.

    Size-aware routing: if any local file matching ``path`` exceeds
    :data:`BINARYFILE_MAX_BYTES`, the whole read routes through the
    streaming DataSource (:func:`read_warc_stream` — identical rows and
    ids) instead of letting ``binaryFile`` hit its 2 GB byte-array cap
    mid-scan; the stat pass is one driver-side glob, paid only here."""
    import glob as _glob

    import pandas as pd

    oversized = any(
        os.path.getsize(p) > BINARYFILE_MAX_BYTES
        for p in _glob.glob(path)
        if os.path.isfile(p)
    )
    if oversized:
        return read_warc_stream(spark, path, warc_types)

    files = spark.read.format("binaryFile").load(path).select(
        F.col("path").alias("warc_file"), "content"
    )
    keep = set(warc_types)

    def parse(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        rows: list[tuple] = []
        for pdf in batches:
            for fname, content in zip(pdf["warc_file"], pdf["content"]):
                i = -1
                for rec, truncated in iter_warc_records(bytes(content)):
                    if rec is None:
                        continue
                    i += 1
                    if rec["warc_type"] not in keep:
                        continue
                    rows.append(
                        (
                            fname,
                            i,
                            None,  # doc_id assigned JVM-side below
                            rec["warc_type"],
                            rec["url"],
                            rec["http_status"],
                            rec["content_type"],
                            rec["payload"].decode("utf-8", "replace"),
                            truncated,
                        )
                    )
                    if len(rows) >= rows_per_chunk:
                        yield pd.DataFrame(rows, columns=_COLUMNS)
                        rows = []
        if rows:
            yield pd.DataFrame(rows, columns=_COLUMNS)

    parsed = files.mapInPandas(parse, schema=OUT_SCHEMA)
    return _with_doc_id(parsed)


def _with_doc_id(parsed: DataFrame) -> DataFrame:
    """Attach the order-preserving composite doc id (module docstring) —
    shared by the binaryFile route and the ``warc`` DataSource route so
    ids are identical whichever scan produced the rows."""
    rid = F.col("record_idx")
    composite = F.shiftleft(
        F.xxhash64("warc_file").bitwiseAND(F.lit((1 << _FILE_HASH_BITS) - 1)),
        RECORD_IDX_BITS,
    ) + rid
    return parsed.withColumn(
        "doc_id",
        F.when(rid < F.lit(1 << RECORD_IDX_BITS), composite).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"read_warc: record_idx >= 2^{RECORD_IDX_BITS} in "
                    ),
                    F.col("warc_file"),
                    F.lit(" — split the container upstream"),
                )
            )
        ),
    )


# ---------------------------------------------------------------------------
# bounded-memory container scan: the `warc` Python DataSource (Spark 4)
# ---------------------------------------------------------------------------
def read_warc_stream(
    spark: SparkSession,
    path: str,
    warc_types: tuple[str, ...] = ("response",),
    block_bytes: int = 4 << 20,
) -> DataFrame:
    """:func:`read_warc` without the ``binaryFile`` memory shape: each
    task OPENS its container and streams blocks through the incremental
    gzip-member decoder (:func:`_iter_gzip_members_stream`), so peak
    executor memory per task is one block + one decompressed member +
    the Arrow batch being built — independent of container size, and
    files past ``binaryFile``'s 2 GB hard cap are readable. Output rows,
    schema and doc ids are identical to :func:`read_warc` (parity is
    test-pinned); parallelism is still one task per container file.
    ``path`` may be a file or a glob, on a filesystem every executor can
    reach (the same contract as ``binaryFile``)."""
    from trialsync_etl_spark.sources.warc_datasource import WarcDataSource

    spark.dataSource.register(WarcDataSource)
    return _with_doc_id(
        spark.read.format("warc")
        .option("path", path)
        .option("warctypes", ",".join(warc_types))
        .option("blockbytes", str(block_bytes))
        .load()
    )


def write_warc_files(
    docs: DataFrame,
    out_dir: str,
    url_col: str = "url",
    html_col: str = "html",
    gzip_members: bool = True,
) -> list:
    """Distributed WARC sink — one container per input partition (the
    Common Crawl segment layout: many medium files, parallelism = file
    count on re-read). Each row becomes a ``response`` record; records
    stream to the open file handle one at a time (per-record gzip
    members append, so no partition-sized buffer exists). Returns the
    small (warc_file, n_records) manifest. ``out_dir`` must be a
    filesystem every executor can reach — the same contract as the
    ``binaryFile`` source that reads it back."""
    import os

    import pandas as pd
    from pyspark import TaskContext

    os.makedirs(out_dir, exist_ok=True)
    suffix = ".warc.gz" if gzip_members else ".warc"

    def write(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        pid = TaskContext.get().partitionId()
        name = f"part-{pid:05d}{suffix}"
        n = 0
        handle = None
        try:
            for pdf in batches:
                for url, html in zip(pdf[url_col], pdf[html_col]):
                    if handle is None:  # lazily: no empty containers
                        handle = open(os.path.join(out_dir, name), "wb")
                    handle.write(
                        write_warc_bytes(
                            [
                                {
                                    "warc_type": "response",
                                    "url": url,
                                    "payload": str(html).encode(),
                                    "http_status": 200,
                                    "content_type": (
                                        "text/html; charset=utf-8"
                                    ),
                                }
                            ],
                            gzip_members=gzip_members,
                        )
                    )
                    n += 1
        finally:
            if handle is not None:
                handle.close()
        if n:
            yield pd.DataFrame(
                [(name, n)], columns=["warc_file", "n_records"]
            )

    return (
        docs.select(url_col, html_col)
        .mapInPandas(write, "warc_file string, n_records long")
        .collect()
    )


def write_warc_bytes(
    records: list[dict], gzip_members: bool = False
) -> bytes:
    """Spec-conformant WARC serialization (the test-fixture builder):
    each record = version line + headers + CRLFCRLF + Content-Length
    bytes + CRLFCRLF; ``gzip_members=True`` wraps each record in its own
    gzip member (the .warc.gz convention). Records: {warc_type, url,
    payload: bytes, http_status?, content_type?} — response records get
    an embedded HTTP head."""
    out = io.BytesIO()
    for r in records:
        payload = r["payload"]
        if r["warc_type"] == "response":
            status = r.get("http_status", 200)
            ctype = r.get("content_type", "text/html")
            payload = (
                f"HTTP/1.1 {status} OK\r\n"
                f"Content-Type: {ctype}\r\n"
                f"Content-Length: {len(payload)}\r\n\r\n"
            ).encode("latin-1") + payload
        head = (
            "WARC/1.0\r\n"
            f"WARC-Type: {r['warc_type']}\r\n"
            + (
                f"WARC-Target-URI: {r['url']}\r\n"
                if r.get("url")
                else ""
            )
            + f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode("latin-1")
        record = head + payload + _CRLF + _CRLF
        if gzip_members:
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(record)
            out.write(buf.getvalue())
        else:
            out.write(record)
    return out.getvalue()
