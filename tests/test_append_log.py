"""The batch-partitioned append log in ``storage.py`` (``append_batch``,
``read_batches``, ``compact``, ``check_tag``) and the four ingest stores
built on it: a replayed append leaves every store's rows as they were,
whatever the id looks like to partition inference, and a reserved id is
refused before it can overwrite compacted history."""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

import pyarrow.parquet as pq
import pytest

from trialsync_etl_spark import storage


def _rows(root: str) -> list:
    """Every parquet row under ``root``, keyed by its hive ``k=v``
    partition path — what a store holds, however it was written."""
    out = []
    for dirpath, _, files in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        part = "/".join(seg for seg in rel.split(os.sep) if "=" in seg)
        for f in files:
            if f.endswith(".parquet"):
                rows = pq.read_table(os.path.join(dirpath, f)).to_pylist()
                out += [(part, repr(sorted(r.items()))) for r in rows]
    return sorted(out)


@dataclass
class Store:
    #: land one batch under the given id
    append: Callable[[object, str, str], object]
    #: fold finished batches into ``__base``; None for a store that has
    #: no compaction
    compact: Callable[[object, str], object] | None = None


def _docs(spark):
    return spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta", "http://a.example/1"),
         (2, "alpha beta gamma delta epsilon zeta eta iota", "http://a.example/2"),
         (3, "one two three four five six seven eight", "http://b.example/3")],
        "doc_id long, text string, url string",
    )


def _sketch():
    from trialsync_etl_spark.operators import sketch_store as SK

    def append(spark, path, bid):
        ev = spark.createDataFrame(
            [(i % 5, "view" if i % 2 else "click") for i in range(20)],
            "user_id long, event_type string",
        )
        return SK.append_sketch_rollup(ev, path, ["event_type"], ["user_id"], bid)

    return Store(append, lambda spark, p: SK.compact_sketch_store(spark, p, exclude=()))


def _substring():
    from trialsync_etl_spark.operators import substring_store as SS

    return Store(
        lambda spark, p, bid: SS.append_gram_firsts(_docs(spark), p, bid, k=3),
        SS.compact_gram_store,
    )


def _near_dup():
    from trialsync_etl_spark.operators import dedup_store as D

    return Store(
        lambda spark, p, bid: D.incremental_dup_pairs(
            spark, _docs(spark), p, batch_id=bid
        ).collect(),
        D.compact_store,
    )


def _media():
    from trialsync_etl_spark.operators import media_dedup as md

    def append(spark, path, bid):
        media = spark.createDataFrame(
            [(s, bytes(md.triangle_image(s, 900))) for s in range(3)],
            "media_id long, content binary",
        )
        return md.media_neardup_incremental(spark, media, path, bid).collect()

    return Store(append)


STORES = {
    "sketch": _sketch,
    "substring": _substring,
    "near_dup": _near_dup,
    "media": _media,
}


@pytest.mark.parametrize("batch_id", ["0001", "2026-08-01", "__base"])
@pytest.mark.parametrize("name", list(STORES))
def test_replayed_append_leaves_store_rows_unchanged(spark, tmp_path, name, batch_id):
    """A zero-padded or date-shaped id reads back as the same STRING, so
    a replay's probe never sees its own partition as history and its
    rewrite lands the same rows. ``__base`` is refused, after a
    compaction too, so it cannot overwrite the compacted history."""
    store = STORES[name]()
    path = str(tmp_path / "store")
    if batch_id == "__base":
        store.append(spark, path, "b1")
        if store.compact is not None:
            store.compact(spark, path)
        before = _rows(path)
        with pytest.raises(ValueError, match="partition-safe"):
            store.append(spark, path, batch_id)
        assert _rows(path) == before
        return
    store.append(spark, path, batch_id)
    once = _rows(path)
    assert once
    store.append(spark, path, batch_id)
    assert _rows(path) == once


@pytest.mark.parametrize("bad", ["", "a/b", "a=b", "a%b", "__base", "__x"])
def test_check_tag_refuses_unsafe_and_reserved_ids(bad):
    with pytest.raises(ValueError, match="model_id.*partition-safe"):
        storage.check_tag("model_id", bad)
    assert storage.check_tag("model_id", "2026-08-01T00:00") == "2026-08-01T00:00"


def test_append_read_compact_round_trip(spark, tmp_path):
    """Appends land per batch and count on the write; ``read_batches``
    pins ``batch_id`` to STRING and drops the excluded batch; ``compact``
    folds all but ``keep`` into ``__base``, refuses a folded id from then
    on, and removes a folded partition that an interrupted compaction
    left behind."""
    table = str(tmp_path / "t")
    assert storage.read_batches(spark, table) is None
    for bid, n in (("0001", 3), ("0002", 2), ("live", 1)):
        df = spark.range(n).selectExpr("id AS k", "1L AS n")
        assert storage.append_batch(df, table, bid) == n
    got = storage.read_batches(spark, table, exclude="0001")
    assert dict(got.dtypes)["batch_id"] == "string"
    assert sorted(r.batch_id for r in got.select("batch_id").distinct().collect()) == [
        "0002", "live"
    ]

    def fold(rows):
        return rows.groupBy("k").sum("n").withColumnRenamed("sum(n)", "n")

    stats = storage.compact(spark, table, fold, keep=("live",))
    assert stats == {"batches_merged": 2, "kept_batches": 1, "base_rows": 3}
    assert {
        (r.k, r.n) for r in storage.read_batches(spark, table)
        .filter("batch_id = '__base'").collect()
    } == {(0, 2), (1, 2), (2, 1)}
    with pytest.raises(ValueError, match="folded"):
        storage.append_batch(spark.range(1).selectExpr("id AS k", "1L AS n"), table, "0001")

    # a compaction that crashed after its ledger write left 0002's files
    storage.append_batch(spark.range(1).selectExpr("id AS k", "1L AS n"), table, "0003")
    os.rename(os.path.join(table, "batch_id=0003"), os.path.join(table, "batch_id=0002"))
    assert storage.compact(spark, table, fold, keep=("live",))["batches_merged"] == 0
    assert not os.path.exists(os.path.join(table, "batch_id=0002"))


class _Crash(Exception):
    pass


@pytest.mark.parametrize("step", ["base-write", "ledger", "mid-removal"])
def test_interrupted_compaction_reads_pre_or_post_and_rerun_converges(
    spark, tmp_path, monkeypatch, step
):
    """A compaction that dies after its base write, after its ledger
    write, or between two partition removals leaves ``read_batches``
    equal to the table before or after the fold, never both at once
    (an additive store would count the folded batches twice), and the
    rerun converges to the fold."""
    table = str(tmp_path / "t")

    def fold(rows):
        return rows.groupBy("k").sum("n").withColumnRenamed("sum(n)", "n")

    def append(bid, n):
        storage.append_batch(spark.range(n).selectExpr("id AS k", "1L AS n"), table, bid)

    def rows():
        got = storage.read_batches(spark, table).select("batch_id", "k", "n")
        return sorted(tuple(r) for r in got.collect())

    append("b1", 3)
    storage.compact(spark, table, fold)  # an old base for the fold to replace
    append("b2", 2)
    append("b3", 1)
    pre = rows()
    post = [("__base", 0, 3), ("__base", 1, 2), ("__base", 2, 1)]

    def then_crash(fn):
        def wrapped(*args, **kwargs):
            fn(*args, **kwargs)
            raise _Crash(step)
        return wrapped

    if step == "base-write":
        monkeypatch.setattr(storage, "write_counted", then_crash(storage.write_counted))
    elif step == "ledger":
        monkeypatch.setattr(storage, "atomic_write_json", then_crash(storage.atomic_write_json))
    else:
        rmtree, removed = shutil.rmtree, []

        def crash_on_second_partition(path, *args, **kwargs):
            if os.path.basename(path).startswith("batch_id="):
                if removed:
                    raise _Crash(step)
                removed.append(path)
            rmtree(path, *args, **kwargs)

        monkeypatch.setattr(storage.shutil, "rmtree", crash_on_second_partition)
    with pytest.raises(_Crash):
        storage.compact(spark, table, fold)
    monkeypatch.undo()

    assert rows() in (pre, post)
    assert storage.compact(spark, table, fold)["base_rows"] == 3
    assert rows() == post
    with pytest.raises(ValueError, match="folded"):
        append("b2", 1)
