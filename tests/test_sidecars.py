"""The pinned-store sidecar contract, checked once for every store that
keeps one. The stores share one read, pin and resolve implementation
(``storage.PinnedParams`` over ``storage.file_lock`` and
``storage.atomic_write_json``), so one table of stores drives one set
of assertions. File names and lock paths are recovery state: the table
pins them too."""

from __future__ import annotations

import json
import os
import threading

import pytest

from trialsync_etl_spark.operators import (
    decontam_store,
    freq,
    lm_store,
    media_dedup,
    substring_store,
)
from trialsync_etl_spark.storage import file_lock

#: store -> (public reader, sidecar suffix, a valid payload, the recovery
#: hint an unreadable sidecar names)
READERS = {
    "substring": (substring_store.read_substring_params, "__meta.json",
                  {"k": 4, "hash_fn": "md5"}, "re-append"),
    "decontam": (decontam_store.read_store_params, "__meta.json",
                 {"k": 3, "hash_fn": "md5"}, "rebuild"),
    "decontam_emb": (decontam_store.read_emb_params, "__emb_meta.json",
                     {"dim": 4}, "rebuild"),
    "cm": (freq.read_cm_params, "__cm.json",
           {"depth": 4, "width": 256}, "rebuild"),
    "media": (media_dedup.read_media_store_params, "__meta.json",
              {"codec": "fake", "sig_kind": "dhash63"}, "re-append"),
    "lm": (lm_store.read_lm_meta, "__meta.json", {"models": {}}, "rebuild"),
}

#: store -> (its PinnedParams, lock path suffix, a conflicting param).
#: The lm meta is a model registry (re-building an id replaces its
#: entry), so it has a reader but no pin.
PINS = {
    "substring": (substring_store._PARAMS, "/__lock", ("k", 5)),
    "decontam": (decontam_store._PARAMS, "/__lock", ("hash_fn", "xxhash64")),
    "decontam_emb": (decontam_store._EMB_PARAMS, "/__lock", ("dim", 8)),
    "cm": (freq._CM_PARAMS, "__lock", ("width", 512)),
    "media": (media_dedup._MEDIA_PARAMS, "/__lock", ("codec", "real")),
}


@pytest.mark.parametrize("name", sorted(READERS))
def test_pinned_meta_read_is_loud_on_corruption(name, tmp_path):
    read, suffix, payload, hint = READERS[name]
    store = str(tmp_path / "store")
    assert read(store) is None
    for broken in (json.dumps(payload)[:-3], "{}", "[]"):
        with open(store + suffix, "w") as f:
            f.write(broken)
        with pytest.raises(ValueError, match=f"unreadable.*{hint}"):
            read(store)
    with open(store + suffix, "w") as f:
        json.dump(payload, f)
    assert read(store) == payload


@pytest.mark.parametrize("name", sorted(PINS))
def test_pin_writes_once_and_rejects_a_mismatch(name, tmp_path):
    read, suffix, payload, hint = READERS[name]
    pin, lock_suffix, (key, other) = PINS[name]
    store = str(tmp_path / "store")
    meta = store + suffix

    pin.pin(store, **payload)
    assert read(store) == payload
    assert os.path.exists(store + lock_suffix)
    assert os.stat(meta).st_mode & 0o777 == 0o644
    # the writer leaves no temp file behind
    assert not [f for _, _, fs in os.walk(tmp_path) for f in fs
                if f.endswith(".tmp")]

    stamp = os.stat(meta).st_mtime_ns
    pin.pin(store, **payload)
    assert os.stat(meta).st_mtime_ns == stamp

    with pytest.raises(ValueError, match=f"pins {key}="):
        pin.pin(store, **{**payload, key: other})
    with pytest.raises(ValueError, match=f"pins {key}="):
        pin.resolve(store, **{key: other})
    assert pin.resolve(store) == tuple(payload[k] for k in pin.keys)
    assert read(store) == payload

    # a corrupt pin is never silently replaced
    with open(meta, "w") as f:
        f.write("{")
    with pytest.raises(ValueError, match=f"unreadable.*{hint}"):
        pin.pin(store, **payload)
    with open(meta) as f:
        assert f.read() == "{"


@pytest.mark.parametrize("name", sorted(PINS))
def test_concurrent_first_pins_leave_one_winner(name, tmp_path):
    """Two first pins with different params wait for the store lock (held
    here, so both are in flight at once), then serialize: exactly one
    writes, the other sees its pin and raises."""
    read, _, payload, _ = READERS[name]
    pin, lock_suffix, (key, other) = PINS[name]
    store = str(tmp_path / "store")
    candidates = [payload, {**payload, key: other}]
    errors: list[Exception | None] = [None, None]

    def pin_t(i):
        try:
            pin.pin(store, **candidates[i])
        except ValueError as e:
            errors[i] = e

    ts = [threading.Thread(target=pin_t, args=(i,)) for i in (0, 1)]
    with file_lock(store + lock_suffix):
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=0.5)
        assert all(t.is_alive() for t in ts), "a pin ran without the lock"
    for t in ts:
        t.join(timeout=30)
    raised = [e for e in errors if e is not None]
    assert len(raised) == 1, f"exactly one loser expected, got {errors}"
    assert f"pins {key}=" in str(raised[0])
    assert read(store) == candidates[errors.index(None)]


def test_legacy_sidecars_keep_their_defaults(tmp_path):
    """A media meta from before sig_kind existed pins the dhash63 kind; a
    CM store from before its params file resolves to the caller's values
    or the module defaults."""
    store = str(tmp_path / "media")
    with open(store + "__meta.json", "w") as f:
        json.dump({"codec": "fake"}, f)
    media_dedup._MEDIA_PARAMS.pin(store, codec="fake", sig_kind="dhash63")
    with pytest.raises(ValueError, match="pins sig_kind='dhash63'"):
        media_dedup._MEDIA_PARAMS.pin(store, codec="fake", sig_kind="phash32")

    cm = str(tmp_path / "cm")
    assert freq._CM_PARAMS.resolve(cm, depth=None, width=None) == (
        freq.DEFAULT_DEPTH, freq.DEFAULT_WIDTH,
    )
    assert freq._CM_PARAMS.resolve(cm, depth=2, width=64) == (2, 64)
    assert freq.read_cm_params(cm) is None


def test_watermark_updates_wait_for_the_store_lock(tmp_path):
    """A watermark ``set``, ``advance`` or boundary commit is one
    read-modify-write under ``<path>__lock``: while the lock is held here
    each waits; once released, every update lands and none is lost."""
    from trialsync_etl_spark.streaming.incremental import (
        BOUNDARY_PARAM,
        FINGERPRINT_PARAM,
        WatermarkStore,
        advance_boundary,
    )

    path = str(tmp_path / "wm.json")
    store = WatermarkStore(path)
    store.set("a", "2026-01-01 00:00:00")
    ops = [
        lambda: store.set("b", "2026-02-01 00:00:00"),
        lambda: store.advance("a", "2026-03-01 00:00:00"),
        lambda: advance_boundary(store, "c", "2026-04-01", 7, fingerprint="f"),
    ]
    ts = [threading.Thread(target=op) for op in ops]
    with file_lock(store.lock_path):
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=0.5)
        assert all(t.is_alive() for t in ts), "an update ran without the lock"
        assert store.get("b") is None
    for t in ts:
        t.join(timeout=30)
    assert not any(t.is_alive() for t in ts)
    assert store.get("a") == "2026-03-01 00:00:00"
    assert store.get("b") == "2026-02-01 00:00:00"
    assert (store.get("c"), store.get("c", param=BOUNDARY_PARAM),
            store.get("c", param=FINGERPRINT_PARAM)) == ("2026-04-01", "7", "f")
    assert os.stat(path).st_mode & 0o777 == 0o644
    assert not [f for f in os.listdir(tmp_path) if f.endswith(".tmp")]


def test_concurrent_watermark_updates_lose_none(tmp_path):
    """More writer threads than cores, switching as often as the
    interpreter allows: every key each one sets is in the final file, so
    no read-modify-write overwrote another's update. Both run-state
    files are checked: the watermark store and the per-run checkpoint
    store, whose saves of distinct run ids share one JSON file."""
    import sys

    from trialsync_etl_spark.streaming.incremental import (
        Checkpoint,
        CheckpointStore,
        WatermarkStore,
    )

    wm = WatermarkStore(str(tmp_path / "wm.json"))
    cps = CheckpointStore(str(tmp_path / "checkpoints.json"))
    writers = {
        wm.path: lambda i, k: wm.set(f"job{i}", str(k), param=k),
        cps.path: lambda i, k: cps.save(f"run{i}-{k}", Checkpoint(skip=k)),
    }
    n_threads, n_each = 2 * (os.cpu_count() or 4), 10

    for path, write in writers.items():

        def work(i):
            for k in range(n_each):
                write(i, k)

        ts = [threading.Thread(target=work, args=(i,)) for i in range(n_threads)]
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            for t in ts:
                t.start()
            for t in ts:
                t.join(timeout=60)
        finally:
            sys.setswitchinterval(interval)
        assert not any(t.is_alive() for t in ts)
        with open(path) as f:
            assert len(json.load(f)) == n_threads * n_each, path
