"""Atomic publication: parquet tables by pointer swap, and the small
sidecar files every store keeps beside its data.

**Tables.** Publication is a **versioned directory + pointer swap**: each
publish writes a fresh ``<path>__v<token>`` directory, then atomically
repoints ``<path>`` (a symlink) at it with ``os.replace`` — a single POSIX
rename, so a reader resolving the published path always sees either the
old or the new complete version, never a missing or half-written table.
Concurrent publishes to the same path are serialized by an exclusive
``flock`` on ``<path>__lock``.

Guarantees and their limits (stated precisely, not aspirationally):

- Pointer resolution is atomic; there is no window where ``<path>``
  doesn't exist (the round-1 double-rename had one).
- **Bounded version retention** (the Delta/Iceberg answer to long-running
  readers): ``keep_versions=N`` keeps the N most recent version dirs and
  records them in ``<path>__history.json`` (written atomically, under the
  publish lock). A reader that resolved the old symlink target before a
  swap keeps scanning intact files for N-1 more publishes;
  :func:`read_version` / :func:`list_versions` give explicit time-travel
  over the retained window, :func:`diff_versions` audits what changed
  between two retained versions. The manifest records the configured
  width; publishes and maintenance rewrites default to preserving it
  (fresh tables start at the classic single-live-version layout).
- One case is not a pointer swap: ``<path>`` is a real directory, as a
  plain parquet write leaves it (:func:`write_counted` tables, which
  :func:`compact_table` and ``layout`` republish). Its first publish
  needs a rename-away/rename-in pair with a tiny no-path window; after
  it the path is a pointer, so this happens at most once per table,
  under the lock. The append-log tables below are never swap-published:
  they change one ``batch_id`` partition at a time.

Crash-safe: leftovers from a crash at any point (a ``__v*`` version
referenced by neither the pointer nor the history manifest, the
``__old`` dir of a real-directory publish, a ``__staging`` dir of the
round-1 publisher, a stray ``__ptr`` temp link or history temp file) are cleared on the next
publish, so a table can never be permanently wedged.

**Sidecars.** Store pins, locks, markers and state files (run
watermarks and checkpoints, schedules, model JSONs, folded-id lists,
index metas) go through three primitives, and only these:

- :func:`file_lock` — the exclusive ``flock`` on a store's lock file;
- :func:`atomic_write_text` / :func:`atomic_write_json` — the one
  small-file writer: a uniquely named temp file in the target dir, mode
  0644, then ``os.replace``;
- :class:`PinnedParams` — the pinned-parameters sidecar of a store: a
  loud read, a first-write-wins pin under the store lock, and the check
  of explicitly passed values against the pin.

**Append logs.** Every ingest store's tables (sketch and CM rollups,
substring firsts, near-dup bands and signatures, media signatures,
domain counts) are batch-partitioned append logs, and go through three
primitives, and only these:

- :func:`append_batch` — a locked dynamic overwrite of one
  ``batch_id=<id>`` partition; a replay rewrites its own partition;
- :func:`read_batches` — ``__base`` plus every live batch, ``batch_id``
  pinned to STRING, optionally without the caller's own batch;
- :func:`compact` — folds finished batches into ``__base`` and records
  them in the ``<table>__folded.json`` ledger that appends check.

:func:`check_tag` is the one validator of every partition tag.

The object-storage caveat, stated once: ``os.replace`` and ``flock`` are
atomic only on a POSIX filesystem. On object storage (S3/GCS) rename is
copy+delete and there is no flock, so neither the sidecar writer nor the
table pointer swap is atomic there. The portable idiom is
:func:`append_batch`'s per-batch PARTITION OVERWRITE (and the same
overwrite keyed by ``benchmark_id``/``model_id`` in the decontamination
and LM stores): a replay rewrites its own partition and readers
aggregate partitions, so a torn write is repaired by the retry, never
folded twice. A cloud deployment swaps these primitives for a
conditional PUT (S3 If-None-Match / GCS preconditions) or a real table
format's commit protocol; everything above them is already shaped for
that.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import shutil
import tempfile
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def _current_target(publish_path: str) -> str | None:
    """Absolute path of the live version dir, or None."""
    if os.path.islink(publish_path):
        return os.path.realpath(publish_path)
    return None


def _history_path(publish_path: str) -> str:
    return publish_path + "__history.json"


def _read_history_doc(publish_path: str) -> dict:
    """{"keep": int|None, "versions": [{"seq", "dir"}, ...]} — the
    retained-version manifest plus the configured retention width.
    Missing/corrupt (crash mid-replace is impossible — writes go through
    temp + os.replace — but a pre-feature table simply has no file) →
    empty. Reads the original bare-list format too (no recorded keep)."""
    try:
        with open(_history_path(publish_path)) as f:
            doc = json.load(f)
    except (OSError, ValueError):
        return {"keep": None, "versions": []}
    if isinstance(doc, list):  # pre-keep format
        return {"keep": None, "versions": doc}
    return doc


def _read_history(publish_path: str) -> list[dict]:
    return _read_history_doc(publish_path)["versions"]


def table_keep_versions(publish_path: str) -> int:
    """The retention width the table was last PUBLISHED with — what a
    maintenance rewrite must preserve (len(history) would under-read a
    window that hasn't filled up yet)."""
    doc = _read_history_doc(publish_path)
    if doc["keep"] is not None:
        return max(1, int(doc["keep"]))
    return max(1, len(doc["versions"]))


def _write_history(publish_path: str, entries: list[dict], keep: int) -> None:
    atomic_write_json(
        _history_path(publish_path), {"keep": int(keep), "versions": entries}
    )


def _clear_crash_leftovers(publish_path: str) -> None:
    """Remove artifacts a crashed publish may have stranded: version dirs
    referenced by neither the pointer nor the retention manifest, the temp
    pointer link / history temp, the __old dir of a real-directory
    publish and a round-1 __staging dir."""
    current = _current_target(publish_path)
    parent = os.path.dirname(publish_path) or "."
    base = os.path.basename(publish_path)
    history = os.path.basename(_history_path(publish_path))
    retained = {
        os.path.realpath(os.path.join(parent, e["dir"]))
        for e in _read_history(publish_path)
    }
    for name in os.listdir(parent):
        full = os.path.join(parent, name)
        # canonicalize BOTH sides: `full` may be relative (or reach the
        # version dir through a symlinked parent) while `current` is a
        # realpath — a naive != would delete the live version
        real = os.path.realpath(full)
        if name.startswith(base + "__v") and real != current and real not in retained:
            shutil.rmtree(full, ignore_errors=True)
        elif name.endswith(".tmp") and name.lstrip(".").startswith(history):
            # the history writer's temp file (the publish lock is held,
            # so no live write owns it)
            os.remove(full)
    for aside in (publish_path + "__old", publish_path + "__staging"):
        if os.path.isdir(aside) and not os.path.islink(aside):
            shutil.rmtree(aside, ignore_errors=True)
    if os.path.lexists(publish_path + "__ptr"):
        os.remove(publish_path + "__ptr")


def write_counted(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] | list[str] = (),
    dynamic: bool = False,
) -> int:
    """Overwrite ``path`` with ``df`` as parquet and return the row count
    observed DURING the write (``Observation`` riding the write action) —
    the transform-return contract without the read-back count job every
    ``spark.read.parquet(path).count()`` used to pay. At 16 transforms per
    warehouse build that second job per table was pure fixed overhead; at
    100 TB it is a full re-listing + footer scan of what was just
    written. ``dynamic=True`` replaces only the ``partition_by``
    partitions ``df`` holds (write-scoped dynamic partition overwrite, no
    session-conf leak); the count is then the rows of those partitions."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    writer = df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
        "overwrite"
    )
    if dynamic:
        writer = writer.option("partitionOverwriteMode", "dynamic")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return int(obs.get["n"])


def swap_publish(
    df: DataFrame,
    publish_path: str,
    partition_by: tuple[str, ...] | list[str] = (),
    already_locked: bool = False,
    keep_versions: int | None = None,
    return_count: bool = False,
) -> int | None:
    """Publish atomically. ``already_locked=True`` skips taking the
    exclusive flock — for callers that must hold ``<path>__lock`` across
    a read-modify-publish sequence (flock is per-open-file-description,
    so re-locking here would deadlock them). ``keep_versions`` retains
    that many version dirs (including the new one) for time-travel reads
    and long-running-reader safety; the default ``None`` PRESERVES the
    width the table was last published with (1 for a fresh table — the
    classic single-live-version layout), so one caller configuring
    retention isn't silently undone by the next caller's default.
    ``return_count=True`` observes the row count on the version write
    (zero extra jobs — cf. :func:`write_counted`) and returns it."""
    parent = os.path.dirname(publish_path) or "."
    os.makedirs(parent, exist_ok=True)
    if already_locked:
        return _publish_locked(
            df, publish_path, partition_by, keep_versions, return_count
        )
    with file_lock(publish_path + "__lock"):
        return _publish_locked(
            df, publish_path, partition_by, keep_versions, return_count
        )


def _publish_locked(
    df: DataFrame,
    publish_path: str,
    partition_by: tuple[str, ...] | list[str],
    keep_versions: int | None = None,
    return_count: bool = False,
) -> int | None:
    if keep_versions is None:
        keep_versions = table_keep_versions(publish_path)
    _clear_crash_leftovers(publish_path)
    parent = os.path.dirname(publish_path) or "."
    prev = _current_target(publish_path)
    history = _read_history(publish_path)
    if prev is not None and not any(
        os.path.realpath(os.path.join(parent, e["dir"])) == prev for e in history
    ):
        # pre-feature table: backfill the live version so retention and
        # trimming treat it like any manifest entry
        next_seq = (history[-1]["seq"] + 1) if history else 1
        history.append({"seq": next_seq, "dir": os.path.basename(prev)})

    version = publish_path + "__v" + uuid.uuid4().hex[:12]
    obs = None
    if return_count:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("n"))
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(version)
    n_written = int(obs.get["n"]) if obs is not None else None

    # stage the new pointer (relative, so the parent dir is relocatable)
    ptr = publish_path + "__ptr"
    os.symlink(os.path.basename(version), ptr)

    if os.path.isdir(publish_path) and not os.path.islink(publish_path):
        # a real directory (a plain parquet write, e.g. a write_counted
        # table): becomes a pointer on this
        # publish (non-atomic window, see module docstring); the
        # un-versioned old dir cannot be retained
        old = publish_path + "__old"
        os.rename(publish_path, old)
        os.replace(ptr, publish_path)
        shutil.rmtree(old)
        history = []
    else:
        os.replace(ptr, publish_path)  # atomic pointer swap

    history.append(
        {"seq": (history[-1]["seq"] + 1) if history else 1,
         "dir": os.path.basename(version)}
    )
    current = os.path.realpath(publish_path)
    while len(history) > max(1, keep_versions):
        dropped = history.pop(0)
        full = os.path.join(parent, dropped["dir"])
        if os.path.realpath(full) != current and os.path.isdir(full):
            shutil.rmtree(full, ignore_errors=True)
    _write_history(publish_path, history, max(1, keep_versions))
    return n_written


def list_versions(publish_path: str) -> list[dict]:
    """Retained versions, oldest first: [{"seq", "dir", "is_current"}].
    A table published before retention existed lists just its live
    version (seq 0 stand-in) so callers always see something scannable."""
    current = _current_target(publish_path)
    parent = os.path.dirname(publish_path) or "."
    out = [
        {
            "seq": e["seq"],
            "dir": e["dir"],
            "is_current": os.path.realpath(os.path.join(parent, e["dir"])) == current,
        }
        for e in _read_history(publish_path)
    ]
    if not out and current is not None:
        out = [{"seq": 0, "dir": os.path.basename(current), "is_current": True}]
    if not out and os.path.isdir(publish_path):
        # a real-directory table (never swap-published): one live version
        out = [{"seq": 0, "dir": os.path.basename(publish_path), "is_current": True}]
    return out


def read_version(spark, publish_path: str, seq: int) -> DataFrame:
    """Time-travel read of a retained version by its manifest ``seq``.
    Raises ValueError (naming the retained seqs) if that version has been
    trimmed — explicit, never a silent fallback to current."""
    for e in list_versions(publish_path):
        if e["seq"] == seq:
            return spark.read.parquet(
                os.path.join(os.path.dirname(publish_path) or ".", e["dir"])
            )
    avail = [e["seq"] for e in list_versions(publish_path)]
    raise ValueError(
        f"version {seq} of {publish_path} is not retained (available: {avail}); "
        "raise keep_versions on publish to widen the time-travel window"
    )


def table_file_stats(path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) of a parquet table directory, following
    the publish pointer and recursing through partition dirs; Spark
    bookkeeping files (_SUCCESS, .crc) are excluded."""
    n, total = 0, 0
    for root, _dirs, files in os.walk(os.path.realpath(path)):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                total += os.path.getsize(os.path.join(root, f))
    return n, total


def compact_table(
    spark,
    path: str,
    target_file_bytes: int = 128 << 20,
    partition_by: tuple[str, ...] | list[str] = (),
    keep_versions: int | None = None,
) -> dict:
    """Small-file maintenance: rewrite a parquet table into ~target-size
    files and atomically republish it (:func:`swap_publish`).

    Incremental appends and per-batch publishes accrete files far below
    the efficient scan size; at cluster scale every extra file is an open
    + footer read + scheduler task, so a 100 TB table ingested in small
    batches degrades until compacted. Sizing uses the actual on-disk
    bytes (never a row-count guess): n_files = ceil(bytes / target). For
    a partitioned table, hashing on the partition columns alone would
    funnel each partition value into ONE task (one file per value, however
    large), so rows are additionally salted across
    ceil(n_files / n_partition_values) buckets — big partitions split
    into multiple target-sized files, the directory layout is preserved.

    The file listing, the rewrite, and the republish all happen under the
    table's ``<path>__lock`` — listing before locking would let a
    concurrent append (e.g. ``append_to_ann_index`` or
    ``incremental_dup_pairs`` running against the same directory) commit
    between the listing and the swap, and the swap would silently drop
    that batch's files.

    ``keep_versions=None`` preserves the table's EXISTING retention width
    (a maintenance rewrite must not silently shrink a time-travel window
    someone configured on publish); pass an int to change it.

    Returns {"files_before", "bytes", "files_after"}.
    """
    import math

    with file_lock(path + "__lock"):
        if keep_versions is None:
            keep_versions = table_keep_versions(path)
        files_before, total_bytes = table_file_stats(path)
        n_files = max(1, math.ceil(total_bytes / max(1, target_file_bytes)))
        df = spark.read.option("mergeSchema", "true").parquet(path)
        if partition_by:
            from pyspark.sql import functions as F

            n_values = df.select(*partition_by).distinct().count()
            salt_range = max(1, math.ceil(n_files / max(1, n_values)))
            df = (
                df.withColumn("__salt", (F.rand(seed=7) * salt_range).cast("int"))
                .repartition(
                    n_files, *[F.col(c) for c in partition_by], F.col("__salt")
                )
                .drop("__salt")
            )
        else:
            df = df.repartition(n_files)
        swap_publish(
            df, path, partition_by, already_locked=True,
            keep_versions=keep_versions,
        )
        files_after, _ = table_file_stats(path)
    return {
        "files_before": files_before,
        "bytes": total_bytes,
        "files_after": files_after,
    }


def diff_versions(
    spark,
    publish_path: str,
    seq_a: int,
    seq_b: int,
    key_cols: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """Audit diff between two retained versions: rows only in A
    (``change='removed'``) and rows only in B (``change='added'``).

    With ``key_cols`` the comparison is key-based — a key present in both
    versions with different non-key values shows up as removed+added (an
    update); without keys it is whole-row set difference. Both sides are
    hash aggregates over two pruned scans — no driver-side row handling,
    so diffing two versions of a 100 TB table is two scans + one shuffle.
    """
    from pyspark.sql import functions as F

    a = read_version(spark, publish_path, seq_a)
    b = read_version(spark, publish_path, seq_b)
    if set(a.columns) != set(b.columns):
        raise ValueError(
            f"schema drift between versions {seq_a} and {seq_b}: "
            f"{sorted(set(a.columns) ^ set(b.columns))} — diff columns "
            "explicitly after aligning schemas"
        )
    cols = sorted(a.columns)
    a, b = a.select(*cols), b.select(*cols)
    removed = a.exceptAll(b).withColumn("change", F.lit("removed"))
    added = b.exceptAll(a).withColumn("change", F.lit("added"))
    out = removed.unionByName(added)
    if key_cols:
        out = out.select(*key_cols, "change").distinct()
    return out


def read_published_arrow(publish_path: str):
    """Spark-free read of a published table as a pyarrow Table — the ONE
    copy of the realpath-then-read sequence the control plane, the alert
    rules and the drift checks share. Raises on a missing table or a read
    racing a concurrent publish trim; callers choose the degradation
    (reports.read_report turns both into typed errors)."""
    import pyarrow.parquet as pq

    return pq.read_table(os.path.realpath(publish_path))


def read_published_pylist(publish_path: str) -> list[dict]:
    """:func:`read_published_arrow` as Python rows."""
    return read_published_arrow(publish_path).to_pylist()


# ---------------------------------------------------------------------------
# the batch-partitioned append log: every ingest store's tables
# ---------------------------------------------------------------------------
#: the partition :func:`compact` folds finished batches into; a reserved
#: id (:func:`check_tag` refuses the ``__`` prefix)
BASE_BATCH = "__base"


def check_tag(name: str, value: str) -> str:
    """Refuse a partition tag (``batch_id``, ``benchmark_id``,
    ``model_id``) that could escape or alias its partition: empty,
    holding ``/``, ``=`` or ``%`` (path and hive-escape characters), or
    starting with ``__`` (reserved: ``__base`` holds compacted history,
    and a caller's ``__base`` would overwrite it)."""
    if not value or value.startswith("__") or any(c in value for c in "/=%"):
        raise ValueError(
            f"{name} {value!r} must be a non-empty partition-safe tag "
            "(no '/', '=', '%' and no leading '__')"
        )
    return value


def _batch_dirs(table: str) -> dict[str, str]:
    """{batch_id: partition dir} of an append-log table ({} when it
    holds none). Spark escapes partition values as ``%XX``; the tags
    :func:`check_tag` admits hold no ``%``, so unquoting is exact."""
    from urllib.parse import unquote

    if not os.path.isdir(table):
        return {}
    return {
        unquote(name[len("batch_id="):]): os.path.join(table, name)
        for name in os.listdir(table)
        if name.startswith("batch_id=")
    }


def _read_folded(table: str) -> set[str]:
    """The ``<table>__folded.json`` ledger of ids folded into ``__base``.
    A corrupt ledger raises: read as empty it would let a folded id land
    again, and the next compaction would drop the lost ids for good."""
    folded = read_json_sidecar(
        table + "__folded.json",
        "folded-batch ledger",
        "restore it, or rewrite it as a JSON list of every batch id ever "
        f"folded into {BASE_BATCH!r} (re-appending one of those counts its "
        "rows twice)",
    )
    return set(folded or ())


def append_batch(df: DataFrame, table: str, batch_id: str) -> int:
    """Land ``df`` as the ``batch_id=<id>`` partition of ``table`` (a
    dynamic overwrite: a replay rewrites its own partition, so a crashed
    or re-delivered batch converges without compaction) and return the
    rows observed on the write. Holds ``<table>__lock`` — the table's,
    not the store's, so a caller may hold its store lock across a probe
    and this append — and refuses an id :func:`compact` folded, whose
    rows ``__base`` already counts."""
    from pyspark.sql import functions as F

    check_tag("batch_id", batch_id)
    with file_lock(table + "__lock"):
        if batch_id in _read_folded(table):
            raise ValueError(
                f"batch_id {batch_id!r} of {table} was folded into "
                f"{BASE_BATCH!r} by compaction; re-appending it would count "
                "its rows twice. Use a new batch id, or keep recurring ids "
                "out of compaction."
            )
        return write_counted(
            df.withColumn("batch_id", F.lit(batch_id)), table, ("batch_id",),
            dynamic=True,
        )


def read_batches(spark, table: str, exclude: str | None = None) -> DataFrame | None:
    """``__base`` and every live batch of ``table``, ``batch_id`` pinned
    to STRING, without batch ``exclude`` (a probe's own, on a replay);
    ``None`` when the table holds no batch yet. Partition inference would
    read ``0001`` as INT ``1`` — a different id, so a probe excluding
    ``"0001"`` would see its own batch as history — and ``2026-08-01``
    as DATE."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField, StructType

    if not _batch_dirs(table):
        return None
    df = spark.read.parquet(table)
    if dict(df.dtypes)["batch_id"] != "string":
        df = spark.read.schema(StructType([
            StructField("batch_id", StringType()) if f.name == "batch_id" else f
            for f in df.schema.fields
        ])).parquet(table)
    if exclude is not None:
        df = df.filter(F.col("batch_id") != exclude)
    return df


def compact(spark, table: str, fold, keep: tuple[str, ...] | list[str] = ()) -> dict:
    """Fold every batch of ``table`` but the ``keep`` ids (recurring ones,
    which must stay appendable) into ``__base``: ``fold(rows)`` merges the
    old base and the folded batches' rows (``batch_id`` dropped) into the
    new base — a sketch union, a min-merge, a distinct. The folded ids
    join the ``<table>__folded.json`` ledger that :func:`append_batch`
    checks. Under ``<table>__lock``, in this order: new base, ledger,
    removal of the folded partitions — a crash before the removal leaves
    partitions the ledger names, which the next compaction removes; a
    crash between the base write and the ledger leaves the folded batches
    live beside a base that holds them (an additive store counts them
    twice).
    Returns {"batches_merged", "kept_batches", "base_rows"}, ``base_rows``
    observed on the base write (a no-op counts the existing base)."""
    from pyspark.sql import functions as F

    if not _batch_dirs(table):
        return {"batches_merged": 0, "kept_batches": 0, "base_rows": 0}
    with file_lock(table + "__lock"):
        # read BEFORE any change: a corrupt ledger must stop the fold
        folded = _read_folded(table)
        dirs = _batch_dirs(table)
        for bid in folded & dirs.keys():
            shutil.rmtree(dirs.pop(bid))
        fold_ids = set(dirs) - set(keep) - {BASE_BATCH}
        kept = len(set(dirs) - fold_ids - {BASE_BATCH})
        if not fold_ids:
            base = dirs.get(BASE_BATCH)
            n = spark.read.parquet(base).count() if base else 0
            return {"batches_merged": 0, "kept_batches": kept, "base_rows": n}
        rows = read_batches(spark, table).filter(
            F.col("batch_id").isin(*fold_ids, BASE_BATCH)
        ).drop("batch_id")
        base = fold(rows).localCheckpoint(eager=True)
        n = write_counted(
            base.withColumn("batch_id", F.lit(BASE_BATCH)), table,
            ("batch_id",), dynamic=True,
        )
        atomic_write_json(table + "__folded.json", sorted(folded | fold_ids))
        for bid in fold_ids:
            shutil.rmtree(dirs[bid])
    return {"batches_merged": len(fold_ids), "kept_batches": kept, "base_rows": n}


# ---------------------------------------------------------------------------
# sidecars: the lock, the small-file writer, pinned store parameters
# ---------------------------------------------------------------------------
@contextlib.contextmanager
def file_lock(path: str):
    """Hold an exclusive ``flock`` on the lock file ``path`` (created,
    with its parent dir) for the with-block. flock belongs to the open
    file description, so another open of the same path blocks — other
    threads included — and a nested ``file_lock`` on a path this thread
    already holds deadlocks (hence ``swap_publish(already_locked=True)``).
    POSIX only; see the module docstring."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        yield


def atomic_write_text(path: str, text: str) -> None:
    """Publish a SMALL file (store meta, marker, state file, model JSON,
    merges table) whole: write a uniquely named temp file in the target
    dir — concurrent writers never share one — set mode 0644 (mkstemp
    creates 0600; monitoring and cron readers of the state files need
    read access), then ``os.replace``. A crash leaves either the old
    complete file or the new one, never a torn write. The temp name is
    hidden (``.<name>.*.tmp``) so a parquet reader of the dir skips it.
    POSIX-atomic only; see the module docstring."""
    fd, tmp = tempfile.mkstemp(
        dir=os.path.dirname(path) or ".",
        prefix="." + os.path.basename(path) + ".",
        suffix=".tmp",
    )
    try:
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            f.write(text)
        os.chmod(tmp, 0o644)
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(OSError):
            os.remove(tmp)
        raise


def atomic_write_json(path: str, obj) -> None:
    """:func:`atomic_write_text` for a JSON payload."""
    atomic_write_text(path, json.dumps(obj))


def read_json_sidecar(
    path: str, what: str, hint: str, keys: tuple[str, ...] = ()
):
    """The loud read of a JSON sidecar: ``None`` when the file is missing;
    a ``ValueError`` "<what> <path> is unreadable (…) — <hint>" when it
    is corrupt, or is not a JSON object holding ``keys`` (a JSON list when
    no keys are given). A present-but-broken sidecar never reads as
    "absent": that would let the next write silently replace the state
    it guards."""
    try:
        with open(path, encoding="utf-8") as f:
            doc = json.load(f)
        if not isinstance(doc, dict if keys else list):
            raise ValueError(f"unexpected document {doc!r}")
        missing = [k for k in keys if k not in doc]
        if missing:
            raise ValueError(f"missing keys {missing} in {doc!r}")
        return doc
    except FileNotFoundError:
        return None
    except ValueError as e:
        raise ValueError(f"{what} {path} is unreadable ({e}) — {hint}") from e


@dataclass(frozen=True)
class PinnedParams:
    """A store's pinned-parameters sidecar ``<store><suffix>``: the values
    every append and probe of the store must share (grams, shingles or
    cells under another k, hash, width, dim or codec share no space, so a
    mismatch reads as silent zero matches, not as an error). Each store
    declares its file, lock and messages here once; :meth:`read`,
    :meth:`pin` and :meth:`resolve` are the whole contract."""

    #: names the store in every message ("substring store")
    label: str
    #: the sidecar is ``store_path + suffix``
    suffix: str
    #: the store's lock file is ``store_path + lock_suffix``
    lock_suffix: str
    #: the keys a readable sidecar must hold
    keys: tuple[str, ...]
    #: how to recover an unreadable sidecar
    hint: str
    #: why a mismatched pin is refused
    why: str
    #: how to pin a store that has no sidecar yet
    first_step: str = ""
    #: the value a store that never recorded a key implies for it; when
    #: every key has one, a store without a sidecar resolves to the
    #: caller's values or these (a store older than its sidecar)
    defaults: dict = field(default_factory=dict)

    def path(self, store_path: str) -> str:
        return store_path + self.suffix

    def read(self, store_path: str) -> dict | None:
        """The pinned params, or None when never pinned; a corrupt
        sidecar raises the "unreadable" error with this store's hint."""
        return read_json_sidecar(
            self.path(store_path), f"{self.label} meta", self.hint, self.keys
        )

    def pin(self, store_path: str, **params) -> None:
        """Write ``params`` on the store's first use; on every later use
        raise if they differ from the pin. The read-check-write holds the
        store lock, so two concurrent first pins with different params
        serialize and the loser raises before writing anything. The lock
        is released on return: a caller that takes the same lock next
        would deadlock if it were held."""
        with file_lock(store_path + self.lock_suffix):
            pinned = self.read(store_path)
            if pinned is None:
                atomic_write_json(self.path(store_path), params)
                return
            for name, got in params.items():
                want = pinned.get(name, self.defaults.get(name))
                if got != want:
                    raise ValueError(
                        f"{self.label} {store_path} pins {name}={want!r}; "
                        f"got {name}={got!r} — {self.why}"
                    )

    def resolve(self, store_path: str, **passed) -> tuple:
        """The pinned values in ``keys`` order, for a reader. Explicitly
        passed values (not None) must equal the pin; a store with no
        sidecar raises FileNotFoundError unless ``defaults`` covers every
        key."""
        pinned = self.read(store_path)
        if pinned is None:
            if set(self.keys) <= set(self.defaults):
                return tuple(passed.get(k) or self.defaults[k] for k in self.keys)
            raise FileNotFoundError(
                f"{self.label} {store_path} has no pinned params — "
                f"{self.first_step}"
            )
        for name, got in passed.items():
            if got is not None and got != pinned[name]:
                raise ValueError(
                    f"{self.label} {store_path} pins {name}={pinned[name]!r}, "
                    f"got {got!r}"
                )
        return tuple(pinned[k] for k in self.keys)
