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
- One legacy migration case — ``<path>`` exists as a real directory from
  the pre-pointer layout — still needs a rename-away/rename-in pair with
  a tiny no-path window; it happens at most once per table, under the
  lock.

Crash-safe: leftovers from a crash at any point (a ``__v*`` version
referenced by neither the pointer nor the history manifest, legacy
``__old``/``__staging`` dirs, a stray ``__ptr`` temp link or history
temp file) are cleared on the next publish, so a table can never be
permanently wedged.

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

The object-storage caveat, stated once: ``os.replace`` and ``flock`` are
atomic only on a POSIX filesystem. On object storage (S3/GCS) rename is
copy+delete and there is no flock, so neither the sidecar writer nor the
table pointer swap is atomic there. The PORTABLE idioms this repo's
stores already use are (a) per-batch PARTITION OVERWRITE keyed by
batch_id/model_id — a replay rewrites its own partition and readers
aggregate partitions, so a torn write is repaired by the retry, never
folded twice — and (b) distinct-merge on read for append-style tables. A
cloud deployment swaps these primitives for a conditional PUT (S3
If-None-Match / GCS preconditions) or a real table format's commit
protocol; everything above them is already shaped for that.
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
    pointer link / history temp, and the legacy __old/__staging dirs."""
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
    for legacy in (publish_path + "__old", publish_path + "__staging"):
        if os.path.isdir(legacy) and not os.path.islink(legacy):
            shutil.rmtree(legacy, ignore_errors=True)
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
        # legacy real-directory layout: migrate once (non-atomic window,
        # see module docstring); the un-versioned old dir cannot be retained
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
        # legacy real-directory table (pre-pointer layout): one live version
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
