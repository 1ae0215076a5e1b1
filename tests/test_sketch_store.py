"""Persisted HLL sketch rollup store: incremental distinct-count stats
answered from kilobyte sketch rows instead of raw-table rescans."""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from trialsync_etl_spark.operators.sketch_store import (
    append_sketch_rollup,
    compact_sketch_store,
    estimate_rollup,
    sketch_rollup,
)
from trialsync_etl_spark.storage import read_batches


def _events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "user_id", "event_type", "event_id", F.to_date("ts").alias("event_date")
    )


def test_rollup_estimates_within_hll_tolerance(spark):
    """Global and per-key estimates from the rollup match exact distinct
    counts within HLL error (lgk=12 ≈ 1.6% rse; assert 5%)."""
    ev = _events(spark)
    roll = sketch_rollup(ev, ["event_type"], ["user_id", "event_id"])
    assert set(roll.columns) == {
        "event_type", "user_id__hll", "event_id__hll", "n_rows"
    }
    exact = {
        r["event_type"]: (r["u"], r["s"], r["n"])
        for r in ev.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("u"),
            F.countDistinct("event_id").alias("s"),
            F.count(F.lit(1)).alias("n"),
        ).collect()
    }
    got = roll.select(
        "event_type",
        F.hll_sketch_estimate("user_id__hll").alias("u"),
        F.hll_sketch_estimate("event_id__hll").alias("s"),
        "n_rows",
    ).collect()
    assert len(got) == len(exact)
    for r in got:
        eu, es, en = exact[r["event_type"]]
        assert abs(r["u"] - eu) <= max(2, 0.05 * eu)
        assert abs(r["s"] - es) <= max(2, 0.05 * es)
        assert r["n_rows"] == en


def test_append_merge_equals_one_shot_and_replay_converges(spark, tmp_path):
    """Two half-corpus appends must estimate like one full-corpus rollup
    (associative union), and RE-appending a batch must change nothing
    (partition overwrite + idempotent union — no double counting)."""
    store = str(tmp_path / "sketches")
    ev = _events(spark)
    first = ev.filter(F.col("user_id") % 2 == 0)
    second = ev.filter(F.col("user_id") % 2 == 1)

    append_sketch_rollup(first, store, ["event_type"], ["user_id"], "b1")
    append_sketch_rollup(second, store, ["event_type"], ["user_id"], "b2")

    est = {
        r["event_type"]: (r["user_id_distinct"], r["n_rows"])
        for r in estimate_rollup(spark, store, ["event_type"]).collect()
    }
    exact = {
        r["event_type"]: (r["u"], r["n"])
        for r in ev.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("u"),
            F.count(F.lit(1)).alias("n"),
        ).collect()
    }
    for k, (u, n) in exact.items():
        assert est[k][1] == n
        assert abs(est[k][0] - u) <= max(2, 0.05 * u)

    # crash-replay of batch 2: identical estimates AND identical n_rows
    append_sketch_rollup(second, store, ["event_type"], ["user_id"], "b2")
    est2 = {
        r["event_type"]: (r["user_id_distinct"], r["n_rows"])
        for r in estimate_rollup(spark, store, ["event_type"]).collect()
    }
    assert est2 == est

    # global (keyless) estimate over the whole store
    g = estimate_rollup(spark, store).collect()[0]
    total_u = ev.select(F.countDistinct("user_id")).collect()[0][0]
    assert abs(g["user_id_distinct"] - total_u) <= max(2, 0.05 * total_u)
    assert g["n_rows"] == ev.count()


def test_range_query_and_compaction(spark, tmp_path):
    """A date-keyed store answers range questions by pruning rollup rows
    (never rescanning raw data), and compaction folds batches into one
    base partition without changing any answer."""
    store = str(tmp_path / "sketches")
    ev = _events(spark)
    dates = sorted(r[0] for r in ev.select("event_date").distinct().collect())
    cut = dates[len(dates) // 2]
    append_sketch_rollup(
        ev.filter(F.col("event_date") <= F.lit(cut)), store,
        ["event_date"], ["user_id"], "early",
    )
    append_sketch_rollup(
        ev.filter(F.col("event_date") > F.lit(cut)), store,
        ["event_date"], ["user_id"], "late",
    )

    where = f"event_date > '{cut}'"
    before = estimate_rollup(spark, store, where=where).collect()[0]
    exact = ev.filter(where).select(F.countDistinct("user_id")).collect()[0][0]
    assert abs(before["user_id_distinct"] - exact) <= max(2, 0.05 * exact)

    stats = compact_sketch_store(spark, store)  # keys derived from schema
    assert stats["batches_merged"] == 2
    assert set(
        r[0] for r in read_batches(spark, store)
        .select("batch_id").distinct().collect()
    ) == {"__base"}
    after = estimate_rollup(spark, store, where=where).collect()[0]
    assert after["user_id_distinct"] == before["user_id_distinct"]
    assert after["n_rows"] == before["n_rows"]

    # a fresh batch after compaction still merges in
    append_sketch_rollup(
        ev.limit(50), store, ["event_date"], ["user_id"], "b3"
    )
    g = estimate_rollup(spark, store).collect()[0]
    total_u = ev.select(F.countDistinct("user_id")).collect()[0][0]
    assert abs(g["user_id_distinct"] - total_u) <= max(2, 0.05 * total_u)


def test_concurrent_appends_serialize_on_lock(spark, tmp_path):
    """Two threads appending distinct batches both land (the flock
    serializes the dynamic-overwrite writes)."""
    store = str(tmp_path / "sketches")
    ev = _events(spark)
    halves = [ev.filter(F.col("user_id") % 2 == i) for i in (0, 1)]
    errs = []

    def work(i):
        try:
            append_sketch_rollup(
                halves[i], store, ["event_type"], ["user_id"], f"t{i}"
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [threading.Thread(target=work, args=(i,)) for i in (0, 1)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs
    assert set(
        r[0] for r in read_batches(spark, store)
        .select("batch_id").distinct().collect()
    ) == {"t0", "t1"}


def test_cli_sketch_append_estimate_compact(spark, tmp_path):
    """The sketch subcommand drives the full store lifecycle."""
    import io
    import json as _json

    from trialsync_etl_spark import cli

    src = str(tmp_path / "ev")
    _events(spark).write.parquet(src)
    store = str(tmp_path / "sk")
    run_log = str(tmp_path / "runs.jsonl")

    out = io.StringIO()
    rc = cli.main(
        ["--run-log", run_log, "sketch", "append", store, "--input", src,
         "--keys", "event_type", "--cols", "user_id", "--batch-id", "b1"],
        out=out,
    )
    assert rc == 0

    out2 = io.StringIO()
    rc2 = cli.main(
        ["--run-log", run_log, "sketch", "estimate", store,
         "--keys", "event_type"],
        out=out2,
    )
    assert rc2 == 0
    rows = _json.loads(out2.getvalue())
    assert rows and all("user_id_distinct" in r for r in rows)

    out3 = io.StringIO()
    rc3 = cli.main(
        ["--run-log", run_log, "sketch", "compact", store],
        out=out3,
    )
    assert rc3 == 0
    assert _json.loads(out3.getvalue())["batches_merged"] == 1


def test_sketch_rollup_stream_sink(spark, tmp_path):
    """Streaming cadence: micro-batches fold into the store via the
    stream-tagged partitions; estimates equal the batch path's."""
    import json as _json
    import os

    from pyspark.sql import types as T

    from trialsync_etl_spark.streaming import structured

    landing = str(tmp_path / "landing")
    store = str(tmp_path / "sk")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing, exist_ok=True)

    rows1 = [{"user_id": i % 7, "event_type": "view"} for i in range(40)]
    rows2 = [{"user_id": 100 + (i % 5), "event_type": "click"} for i in range(30)]
    with open(os.path.join(landing, "b1.json"), "w") as f:
        f.write("\n".join(_json.dumps(r) for r in rows1))

    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
    ])
    sink = structured.SketchRollupStreamSink(store, ["event_type"], ["user_id"])
    sink.attach(structured.read_landing_stream(spark, landing, schema), ckpt)

    with open(os.path.join(landing, "b2.json"), "w") as f:
        f.write("\n".join(_json.dumps(r) for r in rows2))
    sink.attach(structured.read_landing_stream(spark, landing, schema), ckpt)

    est = {
        r["event_type"]: (r["user_id_distinct"], r["n_rows"])
        for r in estimate_rollup(spark, store, ["event_type"]).collect()
    }
    assert est == {"view": (7, 40), "click": (5, 30)}


def test_cli_sketch_append_missing_flags_is_usage_error(tmp_path):
    import io

    from trialsync_etl_spark import cli

    out = io.StringIO()
    rc = cli.main(
        ["--run-log", str(tmp_path / "r.jsonl"), "sketch", "append",
         str(tmp_path / "store")],
        out=out,
    )
    assert rc == 2
    assert "--input" in out.getvalue() and "--batch-id" in out.getvalue()


def test_gold_chain_maintains_sketch_rollup(spark, tmp_path):
    """The gold chain folds the event stream into the warehouse's sketch
    store; estimates from it match exact distinct counts within HLL
    tolerance, and a chain re-run is idempotent (fixed batch_id)."""
    from tests.conftest import SF_DIR
    from trialsync_etl_spark import transforms
    from trialsync_etl_spark.transforms import WarehouseContext, run_transform

    transforms.load_all()
    ctx = WarehouseContext(sf_dir=SF_DIR, warehouse_dir=str(tmp_path / "wh"))
    r = run_transform(spark, "refresh_sketch_rollup_events", ctx)
    assert r.status == "success", r.error
    r2 = run_transform(spark, "refresh_sketch_rollup_events", ctx)
    assert r2.status == "success" and r2.rows == r.rows  # idempotent re-run

    store = ctx.table_path("sketch_events")
    got = {
        row["event_type"]: (row["user_id_distinct"], row["n_rows"])
        for row in estimate_rollup(spark, store, ["event_type"]).collect()
    }
    ev = _events(spark)
    exact = {
        row["event_type"]: (row["u"], row["n"])
        for row in ev.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("u"),
            F.count(F.lit(1)).alias("n"),
        ).collect()
    }
    assert set(got) == set(exact)
    for k, (u, n) in exact.items():
        assert got[k][1] == n
        assert abs(got[k][0] - u) <= max(2, 0.05 * u)


def test_compact_keeps_recurring_batch_and_refolds_converge(spark, tmp_path):
    """Compaction leaves the gold chain's recurring full-refresh batch as
    a live partition (folding it would double-count n_rows on the next
    refresh — HLL cannot subtract), and re-appending a FOLDED id is a
    loud error, never silent inflation."""
    import pytest

    from trialsync_etl_spark.operators.sketch_store import (
        BASE_BATCH,
        FULL_REFRESH_BATCH,
    )

    store = str(tmp_path / "sk")
    ev = _events(spark)
    append_sketch_rollup(
        ev, store, ["event_type"], ["user_id"], FULL_REFRESH_BATCH
    )
    extra = ev.limit(25)
    append_sketch_rollup(extra, store, ["event_type"], ["user_id"], "run-1")
    n_extra = extra.count()

    stats = compact_sketch_store(spark, store)
    assert stats["batches_merged"] == 1 and stats["kept_batches"] == 1
    live = {
        r[0]
        for r in read_batches(spark, store)
        .select("batch_id").distinct().collect()
    }
    assert live == {BASE_BATCH, FULL_REFRESH_BATCH}

    # the refresh cadence re-runs: its partition is REPLACED, so total
    # n_rows stays base(run-1) + one full refresh — no inflation
    append_sketch_rollup(
        ev, store, ["event_type"], ["user_id"], FULL_REFRESH_BATCH
    )
    g = estimate_rollup(spark, store).collect()[0]
    assert g["n_rows"] == ev.count() + n_extra

    # a second compact+refresh cycle still converges
    compact_sketch_store(spark, store)
    append_sketch_rollup(
        ev, store, ["event_type"], ["user_id"], FULL_REFRESH_BATCH
    )
    g2 = estimate_rollup(spark, store).collect()[0]
    assert g2["n_rows"] == ev.count() + n_extra

    # run-1 was folded into __base: re-appending it must refuse
    with pytest.raises(ValueError, match="folded"):
        append_sketch_rollup(extra, store, ["event_type"], ["user_id"], "run-1")


def test_corrupt_folded_list_is_loud_and_never_rewritten(spark, tmp_path):
    """A truncated ``<store>__folded.json`` must not read as "nothing
    folded": appending a folded id would double-count n_rows, and a
    compaction would rewrite the list without the lost ids. Both raise,
    and compaction leaves the file (and the store) as they were."""
    import pytest

    store = str(tmp_path / "sk")
    ev = _events(spark).limit(40)
    append_sketch_rollup(ev, store, ["event_type"], ["user_id"], "run-1")
    compact_sketch_store(spark, store)
    append_sketch_rollup(ev, store, ["event_type"], ["user_id"], "run-2")
    before = estimate_rollup(spark, store).collect()[0]["n_rows"]
    folded = store + "__folded.json"
    with open(folded, "w", encoding="utf-8") as fh:
        fh.write('["run-')  # torn write

    with pytest.raises(ValueError, match="unreadable"):
        append_sketch_rollup(ev, store, ["event_type"], ["user_id"], "run-1")
    with pytest.raises(ValueError, match="unreadable"):
        compact_sketch_store(spark, store)
    with open(folded, encoding="utf-8") as fh:
        assert fh.read() == '["run-'
    assert estimate_rollup(spark, store).collect()[0]["n_rows"] == before
    live = {
        r[0]
        for r in read_batches(spark, store)
        .select("batch_id").distinct().collect()
    }
    assert live == {"__base", "run-2"}
