"""Count-min sketch + exact heavy hitters (operators/freq.py): the CM
overestimate-only guarantee, exact mergeability, and the two-pass heavy
hitter detector vs the plain GROUP BY / HAVING oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

from trialsync_etl_spark.operators.freq import (
    cm_estimate,
    cm_merge,
    cm_sketch,
    heavy_hitters,
)


def _skewed(spark, n=2000, hot="HOT", hot_share=0.3, n_cold=200):
    """hot key owns ~hot_share of rows; the rest spread over n_cold keys."""
    n_hot = int(n * hot_share)
    rows = [(i, hot) for i in range(n_hot)] + [
        (n_hot + i, f"k{i % n_cold}") for i in range(n - n_hot)
    ]
    return spark.createDataFrame(rows, "id long, key string")


def _true_counts(df):
    return {
        r.key: r.n
        for r in df.groupBy("key").agg(F.count(F.lit(1)).alias("n")).collect()
    }


def test_cm_sketch_overestimates_only_within_bound(spark):
    df = _skewed(spark)
    depth, width = 4, 512
    sk = cm_sketch(df, "key", depth, width)
    # the cell table is bounded by construction
    assert sk.count() <= depth * width
    true = _true_counts(df)
    est = {
        r.key: r.est_count
        for r in cm_estimate(
            sk, df.select("key"), "key", depth, width
        ).collect()
    }
    n = df.count()
    import math

    slack = math.e / width * n  # the published per-row bound
    assert set(est) == set(true)
    for k, t in true.items():
        assert est[k] >= t, f"{k}: CM must never underestimate"
        assert est[k] <= t + slack + 1
    # a never-seen key estimates 0 (absent cells coalesce, keeping the
    # overestimate-only direction), modulo collisions with real cells
    ghost = spark.createDataFrame([("nope",)], "key string")
    g = cm_estimate(sk, ghost, "key", depth, width).first()
    assert g.est_count <= slack + 1


def test_cm_merge_is_exactly_the_union_sketch(spark):
    a = _skewed(spark, n=900, hot="A")
    b = _skewed(spark, n=1100, hot="B")
    merged = cm_merge(cm_sketch(a, "key", 4, 256), cm_sketch(b, "key", 4, 256))
    direct = cm_sketch(a.unionByName(b), "key", 4, 256)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_heavy_hitters_matches_exact_having(spark):
    df = _skewed(spark, n=3000, hot_share=0.25)
    phi = 0.1
    got = {
        (r.key, r.n_rows, r.share)
        for r in heavy_hitters(df, "key", phi=phi).collect()
    }
    n = df.count()
    oracle = {
        (r.key, r.n, round(r.n / n, 6))
        for r in df.groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= phi * n)
        .collect()
    }
    assert got == oracle and got  # non-trivial: the hot key qualifies
    # small-N path (q clamps to 1.0): still exactly the oracle
    tiny = _skewed(spark, n=40, hot_share=0.5, n_cold=5)
    got_t = {
        (r.key, r.n_rows) for r in heavy_hitters(tiny, "key", 0.2).collect()
    }
    oracle_t = {
        (r.key, r.n)
        for r in tiny.groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 0.2 * 40)
        .collect()
    }
    assert got_t == oracle_t


def test_heavy_hitters_ignores_nulls_and_empty(spark):
    df = spark.createDataFrame(
        [(i, None) for i in range(50)] + [(100 + i, "x") for i in range(10)],
        "id long, key string",
    )
    got = heavy_hitters(df, "key", phi=0.05)
    assert [(r.key, r.n_rows) for r in got.collect()] == [("x", 10)]
    empty = spark.createDataFrame([], "id long, key string")
    out = heavy_hitters(empty, "key", phi=0.05)
    assert out.count() == 0
    assert out.columns == ["key", "n_rows", "share"]


def test_heavy_hitters_feeds_the_salting_decision(spark):
    """The integration the module exists for: detect the planted hot key
    with bounded passes, then hand exactly those keys to the salted-join
    replication side."""
    from trialsync_etl_spark.operators.skew import salted_join

    facts = _skewed(spark, n=4000, hot="42", hot_share=0.35, n_cold=100)
    dims = spark.createDataFrame(
        [("42", "hot-dim")] + [(f"k{i}", f"d{i}") for i in range(100)],
        "key string, label string",
    )
    hot = [r.key for r in heavy_hitters(facts, "key", phi=0.2).collect()]
    assert hot == ["42"]
    joined = salted_join(facts, dims, on=["key"], n_salts=8)
    plain = facts.join(dims, "key")
    assert joined.count() == plain.count()


def test_cm_rollup_store_replay_and_compaction(spark, tmp_path):
    """The persisted CM store on the sketch-store discipline: estimates
    from the store equal one sketch over all batches' rows (exact
    merge); a replayed batch converges instead of double-counting;
    compaction folds batches without changing a single estimate and
    makes re-appending a folded id loud."""
    import pytest as _pytest

    from trialsync_etl_spark.operators.freq import (
        append_cm_rollup,
        cm_store_estimate,
        read_cm_store,
    )
    from trialsync_etl_spark.operators.sketch_store import (
        compact_sketch_store,
    )

    a = _skewed(spark, n=800, hot="A")
    b = _skewed(spark, n=600, hot="B")
    store = str(tmp_path / "cm_store")
    depth, width = 4, 256
    append_cm_rollup(a, store, "key", "b1", depth, width)
    append_cm_rollup(b, store, "key", "b2", depth, width)
    # replay of b1 replaces its partition — no double count
    append_cm_rollup(a, store, "key", "b1", depth, width)

    keys = a.select("key").unionByName(b.select("key")).distinct()

    def snap():
        return sorted(
            map(
                tuple,
                cm_store_estimate(
                    spark, store, keys, "key", depth, width
                ).collect(),
            )
        )

    direct = sorted(
        map(
            tuple,
            cm_estimate(
                cm_sketch(a.unionByName(b), "key", depth, width),
                keys, "key", depth, width,
            ).collect(),
        )
    )
    before = snap()
    assert before == direct
    # a windowed read sees only the un-pruned batch's counts
    only_b2 = cm_store_estimate(
        spark, store, keys, "key", depth, width, where="batch_id = 'b2'"
    )
    n_b2 = b.count()
    assert {r[0]: r[1] for r in only_b2.collect()}["B"] >= int(n_b2 * 0.3)

    out = compact_sketch_store(spark, store, exclude=())
    assert out["batches_merged"] == 2
    assert snap() == before  # folding is exact for additive cells
    with _pytest.raises(ValueError, match="folded"):
        append_cm_rollup(a, store, "key", "b1", depth, width)


def test_freq_rollup_stream_sink(spark, tmp_path):
    """Streaming cadence of the CM store: micro-batches fold in one by
    one; after the run the store's estimates equal one sketch over every
    landed row, and a no-new-data restart on the intact checkpoint
    leaves the store byte-stable (replay convergence)."""
    from pyspark.sql import types as T

    from trialsync_etl_spark.operators.freq import cm_store_estimate
    from trialsync_etl_spark.streaming import structured

    df = _skewed(spark, n=1200, hot="HOT", hot_share=0.4, n_cold=50)
    landing = str(tmp_path / "landing")
    df.repartition(4).write.mode("overwrite").json(landing)
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("key", T.StringType())]
    )
    store = str(tmp_path / "cm_store")
    ckpt = str(tmp_path / "ckpt")
    depth, width = 4, 256
    sink = structured.FreqRollupStreamSink(store, "key", depth, width)
    sink.attach(
        structured.read_landing_stream(
            spark, landing, schema, max_files_per_trigger=1
        ),
        ckpt,
    )

    keys = df.select("key").distinct()
    got = {
        r[0]: r[1]
        for r in cm_store_estimate(
            spark, store, keys, "key", depth, width
        ).collect()
    }
    direct = {
        r[0]: r[1]
        for r in cm_estimate(
            cm_sketch(df, "key", depth, width), keys, "key", depth, width
        ).collect()
    }
    assert got == direct
    assert got["HOT"] >= 480  # the planted hot key is visible

    # intact checkpoint, no new files: nothing re-folds
    sink2 = structured.FreqRollupStreamSink(store, "key", depth, width)
    sink2.attach(
        structured.read_landing_stream(
            spark, landing, schema, max_files_per_trigger=1
        ),
        ckpt,
    )
    got2 = {
        r[0]: r[1]
        for r in cm_store_estimate(
            spark, store, keys, "key", depth, width
        ).collect()
    }
    assert got2 == got


def test_heavy_hitters_property_equals_exact_having(spark):
    """Property: over random key multisets and thresholds, the bounded
    detector equals the exact GROUP BY/HAVING — including distributions
    with no qualifying key, all-one-key, and near-threshold counts.
    (Sampling can only MISS a hot key, w.p. ≤ delta=1e-9 per key — far
    below flake territory; most generated cases clamp q to 1 and are
    exact by construction.)"""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(
        counts=st.lists(
            st.tuples(st.integers(0, 30), st.integers(1, 400)),
            min_size=1, max_size=12, unique_by=lambda t: t[0],
        ),
        phi=st.sampled_from([0.05, 0.2, 0.5]),
    )
    def run(counts, phi):
        rows = [
            (i, f"key{k}")
            for k, c in counts
            for i in range(c)
        ]
        df = spark.createDataFrame(rows, "id long, key string")
        n = len(rows)
        got = {
            (r.key, r.n_rows)
            for r in heavy_hitters(df, "key", phi=phi).collect()
        }
        want = {
            (f"key{k}", c) for k, c in counts if c >= phi * n
        }
        assert got == want

    run()


def test_refresh_freq_rollup_events_idempotent_and_estimates(spark, tmp_path):
    """The gold-chain frequency rollup: a re-run replaces the
    full-refresh partition (idempotent), and per-user activity estimates
    from the store are overestimate-only within the CM bound vs the
    exact events groupBy."""
    import math

    from tests.conftest import SF_DIR
    from trialsync_etl_spark import transforms
    from trialsync_etl_spark.operators.freq import (
        DEFAULT_WIDTH,
        cm_store_estimate,
    )
    from trialsync_etl_spark.transforms import WarehouseContext, run_transform

    transforms.load_all()
    ctx = WarehouseContext(sf_dir=SF_DIR, warehouse_dir=str(tmp_path / "wh"))
    r = run_transform(spark, "refresh_freq_rollup_events", ctx)
    assert r.status == "success", r.error
    r2 = run_transform(spark, "refresh_freq_rollup_events", ctx)
    assert r2.status == "success" and r2.rows == r.rows  # idempotent

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select("user_id")
    exact = {
        row.user_id: row.n
        for row in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    est = {
        row.user_id: row.est_count
        for row in cm_store_estimate(
            spark, ctx.table_path("freq_events"), ev, "user_id"
        ).collect()
    }
    n = ev.count()
    slack = math.e / DEFAULT_WIDTH * n
    assert set(est) == set(exact)
    for k, t in exact.items():
        assert t <= est[k] <= t + slack + 1


def test_hot_key_drift_between_store_windows(spark, tmp_path):
    """Two ingest windows: a key uniform in window A and hot in window B
    must surface with the right share delta, computed from cells alone;
    keys absent from one window coalesce to share 0 (full join)."""
    from trialsync_etl_spark.operators.freq import (
        append_cm_rollup,
        hot_key_drift,
    )

    a = _skewed(spark, n=1000, hot="steady", hot_share=0.1, n_cold=30)
    b = _skewed(spark, n=1000, hot="burst", hot_share=0.4, n_cold=30)
    store = str(tmp_path / "cm")
    depth, width = 4, 512
    append_cm_rollup(a, store, "key", "day-1", depth, width)
    append_cm_rollup(b, store, "key", "day-2", depth, width)

    keys = a.select("key").unionByName(b.select("key")).distinct()
    drift = hot_key_drift(
        spark, store, keys, "key",
        where_a="batch_id = 'day-1'", where_b="batch_id = 'day-2'",
        min_share_delta=0.2, depth=depth, width=width,
    ).collect()
    assert [r.key for r in drift] == ["burst"]
    r = drift[0]
    # burst: 0 in window A, ~0.4 in window B (CM error is overestimate-
    # only and bounded, so the delta sits just above 0.4 - eps)
    assert r.share_a <= 0.02 and 0.38 <= r.share_b <= 0.45
    assert abs(r.share_delta - (r.share_b - r.share_a)) < 1e-6
    # the steady key must NOT be flagged at this threshold
    all_deltas = hot_key_drift(
        spark, store, keys, "key",
        where_a="batch_id = 'day-1'", where_b="batch_id = 'day-2'",
        min_share_delta=-1.0, depth=depth, width=width,
    ).collect()
    steady = [r for r in all_deltas if r.key == "steady"][0]
    assert steady.share_delta <= 0.0 + 0.02


def test_cm_store_pins_its_parameters(spark, tmp_path):
    """(depth, width) are pinned beside the store on first append: reads
    resolve them automatically, explicit mismatches raise LOUDLY (cells
    hashed mod a different width would silently estimate 0 for hot
    keys), and a mismatched later append is rejected."""
    import pytest as _pytest

    from trialsync_etl_spark.operators.freq import (
        append_cm_rollup,
        cm_store_estimate,
        hot_key_drift,
        read_cm_params,
    )

    df = _skewed(spark, n=400, hot="H", hot_share=0.3, n_cold=20)
    store = str(tmp_path / "cm")
    append_cm_rollup(df, store, "key", "b1", depth=4, width=256)
    assert read_cm_params(store) == {"depth": 4, "width": 256}

    # reads take the pin — no parameters needed, estimates correct
    est = {
        r.key: r.est_count
        for r in cm_store_estimate(spark, store, df, "key").collect()
    }
    assert est["H"] >= 120

    with _pytest.raises(ValueError, match="pins width=256"):
        cm_store_estimate(spark, store, df, "key", width=4096)
    with _pytest.raises(ValueError, match="mixed parameters"):
        append_cm_rollup(df, store, "key", "b2", depth=4, width=512)
    with _pytest.raises(ValueError, match="pins depth=4"):
        hot_key_drift(
            spark, store, df.select("key"), "key",
            where_a="batch_id = 'b1'", where_b="batch_id = 'b1'", depth=8,
        )


def test_corrupt_cm_params_file_is_loud(spark, tmp_path):
    """A truncated or key-less ``<store>__cm.json`` raises the
    "unreadable … rebuild" error on every path — never a bare
    JSONDecodeError/KeyError, and never a silent re-pin."""
    import json

    import pytest as _pytest

    from trialsync_etl_spark.operators.freq import (
        append_cm_rollup,
        cm_store_estimate,
        read_cm_params,
    )

    df = _skewed(spark, n=200, hot="H", hot_share=0.3, n_cold=10)
    store = str(tmp_path / "cm")
    append_cm_rollup(df, store, "key", "b1", depth=4, width=256)
    for broken in ('{"depth": 4, "wid', json.dumps({})):
        with open(store + "__cm.json", "w") as f:
            f.write(broken)
        with _pytest.raises(ValueError, match="unreadable.*rebuild"):
            read_cm_params(store)
        with _pytest.raises(ValueError, match="unreadable"):
            append_cm_rollup(df, store, "key", "b2", depth=4, width=256)
        with _pytest.raises(ValueError, match="unreadable"):
            cm_store_estimate(spark, store, df, "key")
        with open(store + "__cm.json") as f:
            assert f.read() == broken


def test_freq_edge_validation(spark, tmp_path):
    """phi outside (0, 1] raises (and exits 2 from the CLI before Spark);
    a key column named like a sketch column works."""
    import io as _io

    import pytest as _pytest

    from trialsync_etl_spark import cli

    df = _skewed(spark, n=100, n_cold=5)
    with _pytest.raises(ValueError, match="phi"):
        heavy_hitters(df, "key", phi=0.0)
    with _pytest.raises(ValueError, match="phi"):
        heavy_hitters(df, "key", phi=1.5)

    out = _io.StringIO()
    rc = cli.main(
        ["--run-log", str(tmp_path / "r.jsonl"), "freq", "hot",
         "--input", "/nonexistent", "--key", "k", "--phi", "0"],
        out=out,
    )
    assert rc == 2 and "phi" in out.getvalue()

    # a key column named 'cnt' must not collide with the sketch schema
    renamed = df.withColumnRenamed("key", "cnt")
    sk = cm_sketch(renamed, "cnt", 4, 128)
    est = cm_estimate(sk, renamed, "cnt", 4, 128)
    assert est.columns == ["cnt", "est_count"]
    hot = {r.cnt: r.est_count for r in est.collect()}
    assert hot["HOT"] >= 30


def test_windowed_read_excludes_compacted_base(spark, tmp_path):
    """'__base' sorts lexicographically ABOVE digit-prefixed batch ids
    ('_' > '9'), so a naive "batch_id >= '<date>'" window would fold ALL
    compacted history in after the first compaction — silently wrong
    estimates and drift shares. Windowed reads must exclude the base
    partition unless the predicate names it (or include_base=True)."""
    from trialsync_etl_spark.operators.freq import (
        append_cm_rollup,
        cm_store_estimate,
        hot_key_drift,
    )
    from trialsync_etl_spark.operators.sketch_store import (
        compact_sketch_store,
    )

    old = _skewed(spark, n=800, hot="OLD", hot_share=0.5, n_cold=10)
    new = _skewed(spark, n=200, hot="NEW", hot_share=0.5, n_cold=10)
    store = str(tmp_path / "cm")
    depth, width = 4, 512
    append_cm_rollup(old, store, "key", "2026-08-01", depth, width)
    compact_sketch_store(spark, store, exclude=())  # OLD now in __base
    append_cm_rollup(new, store, "key", "2026-08-10", depth, width)

    keys = spark.createDataFrame([("OLD",), ("NEW",)], "key string")
    slack = 2.718 / width * 1000 + 1  # generous CM collision allowance

    def est(**kw):
        return {
            r.key: r.est_count
            for r in cm_store_estimate(spark, store, keys, "key", **kw).collect()
        }

    # the buggy behavior: '__base' >= '2026-08-05' is TRUE lexically —
    # the window since 08-05 must NOT see OLD's 400 compacted rows
    windowed = est(where="batch_id >= '2026-08-05'")
    assert windowed["NEW"] >= 100
    assert windowed["OLD"] <= slack, "compacted history leaked into window"

    # selecting the base partition needs the EXPLICIT opt-in — merely
    # naming '__base' in the predicate is not intent (a substring sniff
    # would flip on "batch_id != '__base'" too)
    base_only = est(where="batch_id = '__base'", include_base=True)
    assert base_only["OLD"] >= 400
    # a predicate that NAMES '__base' with include_base unstated is a
    # contradiction under the default exclusion (the window would come
    # back silently EMPTY) — it must raise loudly, not report zeros
    import pytest as _pytest

    with _pytest.raises(ValueError, match="include_base is unstated"):
        est(where="batch_id = '__base'")
    # explicit include_base=False ASSERTS the exclusion — allowed, and
    # the base-only window is then empty by the caller's own statement
    assert set(
        est(where="batch_id = '__base'", include_base=False).values()
    ) == {0}

    # explicit include_base=True folds base into a range window
    everything = est(where="batch_id >= '2026-08-05'", include_base=True)
    assert everything["OLD"] >= 400

    # drift between "compacted history" and "since the compact" is now
    # clean: OLD's share collapses, NEW's share appears
    drift = {
        r.key: (r.share_a, r.share_b, r.share_delta)
        for r in hot_key_drift(
            spark, store, keys, "key",
            where_a="batch_id = '__base'",
            where_b="batch_id >= '2026-08-05'",
            include_base_a=True,
            min_share_delta=0.05,
        ).collect()
    }
    assert "NEW" in drift and drift["NEW"][2] >= 0.4
    assert "OLD" not in drift  # share fell, not rose


def test_concurrent_first_appends_with_different_params_serialize(spark, tmp_path):
    """The CM params pin runs its read-check-write under the store's __lock
    flock: two concurrent FIRST appends with different (depth, width)
    cannot both see params=None — exactly one pins, the other raises
    BEFORE writing any cells, and the surviving store is consistent."""
    import threading

    import pytest as _pytest

    from trialsync_etl_spark.operators.freq import (
        _CM_PARAMS,
        append_cm_rollup,
        cm_store_estimate,
        read_cm_params,
    )

    store = str(tmp_path / "cm")
    barrier = threading.Barrier(2)
    errors: list[Exception | None] = [None, None]

    # flock serializes per open file description, including same-process
    # threads — run many rounds to give the race a real chance
    for trial in range(5):
        s = f"{store}_{trial}"

        def pin_t(i, depth, width, s=s):
            barrier.wait()
            try:
                _CM_PARAMS.pin(s, depth=depth, width=width)
            except Exception as e:  # noqa: BLE001
                errors[i] = e

        errors[:] = [None, None]
        ts = [
            threading.Thread(target=pin_t, args=(0, 4, 256)),
            threading.Thread(target=pin_t, args=(1, 4, 512)),
        ]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=30)
        raised = [e for e in errors if e is not None]
        assert len(raised) == 1, f"exactly one loser expected, got {errors}"
        assert "mixed parameters" in str(raised[0])
        pinned = read_cm_params(s)
        assert pinned is not None and pinned["depth"] == 4
        assert pinned["width"] in (256, 512)

    # the winner's store still appends and estimates normally
    df = _skewed(spark, n=200, hot="H", hot_share=0.4, n_cold=10)
    winner = read_cm_params(f"{store}_0")
    append_cm_rollup(df, f"{store}_0", "key", "b1", 4, winner["width"])
    est = {
        r.key: r.est_count
        for r in cm_store_estimate(spark, f"{store}_0", df, "key").collect()
    }
    assert est["H"] >= 80
    # and the loser's parameters stay rejected forever
    with _pytest.raises(ValueError, match="mixed parameters"):
        append_cm_rollup(
            df, f"{store}_0", "key", "b2", 4,
            512 if winner["width"] == 256 else 256,
        )


def test_hot_keys_table_feeds_targeted_salted_join(spark, tmp_path):
    """Detect→mitigate as warehouse artifacts (the gold-chain member):
    refresh_hot_keys materializes the exact heavy hitters of events;
    a planted hot key lands in the table; targeted_salted_join consumes
    the LANDED list and returns exactly the plain join's rows while
    salting only the hot slice."""
    from trialsync_etl_spark import transforms
    from trialsync_etl_spark.operators.skew import targeted_salted_join
    from trialsync_etl_spark.transforms import WarehouseContext, run_transform

    transforms.load_all()
    import pyspark.sql.functions as SF

    # synthesize a skewed events table: user 7 owns ~40% of events
    sf_dir = str(tmp_path / "sf")
    ev = spark.range(3000).select(
        SF.col("id").alias("event_id"),
        SF.when(SF.col("id") % 5 <= 1, SF.lit(7))
        .otherwise(SF.pmod(SF.col("id"), SF.lit(300)) + 100)
        .cast("long")
        .alias("user_id"),
    )
    ev.write.parquet(f"{sf_dir}/events.parquet")

    ctx = WarehouseContext(
        sf_dir=sf_dir, warehouse_dir=str(tmp_path / "wh"),
        options={"hot_key_phi": 0.2},
    )
    r = run_transform(spark, "refresh_hot_keys", ctx)
    assert r.status == "success", r.error
    hot = spark.read.parquet(ctx.table_path("hot_keys"))
    assert [row.user_id for row in hot.collect()] == [7]
    assert set(hot.columns) >= {"user_id", "n_rows", "share", "detected_at"}

    dims = spark.range(400).select(
        SF.col("id").alias("user_id"), SF.concat(SF.lit("u"), "id").alias("label")
    )
    joined = targeted_salted_join(
        ev, dims, on=["user_id"], hot_keys=hot, n_salts=8
    )
    plain = ev.join(dims, "user_id")
    assert joined.count() == plain.count()
    assert (
        joined.unionByName(plain).groupBy("event_id", "user_id", "label")
        .count().filter("count != 2").count() == 0
    )


def test_targeted_salted_join_edges(spark):
    """Empty hot list degrades to the plain join; left joins preserve
    unmatched hot rows; outer joins are rejected."""
    import pytest as _pytest

    from trialsync_etl_spark.operators.skew import targeted_salted_join

    big = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (3, "d")], "k long, v string"
    )
    small = spark.createDataFrame([(1, "x"), (2, "y")], "k long, w string")
    empty_hot = spark.createDataFrame([], "k long")
    hot = spark.createDataFrame([(1,)], "k long")

    plain = {(r.k, r.v, r.w) for r in big.join(small, "k").collect()}
    for hk in (empty_hot, hot):
        got = {
            (r.k, r.v, r.w)
            for r in targeted_salted_join(big, small, ["k"], hk).collect()
        }
        assert got == plain
    # left: key 3 (cold, unmatched) and a hot-unmatched key both survive
    hot13 = spark.createDataFrame([(1,), (3,)], "k long")
    left = targeted_salted_join(big, small, ["k"], hot13, how="left")
    assert left.filter("k = 3").count() == 1
    assert left.count() == big.count()
    with _pytest.raises(ValueError, match="outer"):
        targeted_salted_join(big, small, ["k"], hot, how="full")


def test_check_freq_drift_detects_a_newly_hot_key(spark, tmp_path):
    """The nightly drift check end-to-end: a key that was COLD in the
    ingest history goes hot in the current refresh window → it lands in
    freq_drift_report, the hot_key_drift alert rule fires, and
    GET /freq/drift serves it. First run with no history publishes an
    EMPTY report (no noise), and the quiet path keeps /alerts all_quiet."""
    import pyspark.sql.functions as SF

    from trialsync_etl_spark import transforms
    from trialsync_etl_spark.alerts import evaluate_freq_drift_alerts
    from trialsync_etl_spark.operators.freq import append_cm_rollup
    from trialsync_etl_spark.transforms import WarehouseContext, run_transform

    transforms.load_all()
    sf_dir = str(tmp_path / "sf")
    wh = str(tmp_path / "wh")
    # current events: user 7 hot (~40%)
    ev = spark.range(2000).select(
        SF.col("id").alias("event_id"),
        SF.when(SF.col("id") % 5 <= 1, SF.lit(7))
        .otherwise(SF.pmod(SF.col("id"), SF.lit(200)) + 100)
        .cast("long")
        .alias("user_id"),
    )
    ev.write.parquet(f"{sf_dir}/events.parquet")
    ctx = WarehouseContext(
        sf_dir=sf_dir, warehouse_dir=wh, options={"hot_key_phi": 0.2}
    )

    # no store at all -> empty report, quiet alerts
    assert run_transform(spark, "check_freq_drift", ctx).status == "success"
    assert spark.read.parquet(ctx.table_path("freq_drift_report")).count() == 0
    assert evaluate_freq_drift_alerts(wh) == []

    # history window: an ingest batch where 7 is COLD (uniform users)
    hist = spark.range(2000).select(
        (SF.pmod(SF.col("id"), SF.lit(200)) + 100).cast("long").alias("user_id")
    )
    append_cm_rollup(hist, ctx.table_path("freq_events"), "user_id", "ingest-1")
    # current window: the gold-chain refresh folds today's skewed events
    assert run_transform(
        spark, "refresh_freq_rollup_events", ctx
    ).status == "success"
    assert run_transform(spark, "refresh_hot_keys", ctx).status == "success"

    assert run_transform(spark, "check_freq_drift", ctx).status == "success"
    report = spark.read.parquet(ctx.table_path("freq_drift_report")).collect()
    assert [r.user_id for r in report] == [7]
    assert report[0].share_delta >= 0.3  # 0 -> ~0.4 share

    alerts = evaluate_freq_drift_alerts(wh)
    assert len(alerts) == 1 and alerts[0]["rule"] == "hot_key_drift"
    assert alerts[0]["keys"][0]["key"] == 7

    # the API surface: served from the landed table, Spark-free
    from trialsync_etl_spark.api import ControlPlane
    from trialsync_etl_spark.runs import RunLog

    plane = ControlPlane(
        run_log=RunLog(str(tmp_path / "runs.jsonl")), warehouse_dir=wh
    )
    status, _, payload = plane.handle("GET", "/freq/drift")
    import json as _json

    body = _json.loads(payload)
    assert status == 200 and body["all_quiet"] is False
    assert body["keys"][0]["user_id"] == 7
    # /alerts carries the same rule through the consolidated channel
    status, _, payload = plane.handle("GET", "/alerts?min_rate=none")
    body = _json.loads(payload)
    assert status == 200
    assert any(a["rule"] == "hot_key_drift" for a in body["alerts"])


def test_cli_freq_drift_and_api_hot_keys(spark, tmp_path):
    """`freq drift` CLI serves hot_key_drift from the persisted store;
    GET /freq/hot serves the landed hot_keys table (404 before the gold
    chain lands one; Spark-free pyarrow read after)."""
    import io as _io
    import json as _json

    import pyspark.sql.functions as SF

    from trialsync_etl_spark import cli, transforms
    from trialsync_etl_spark.api import ControlPlane
    from trialsync_etl_spark.operators.freq import append_cm_rollup
    from trialsync_etl_spark.runs import RunLog
    from trialsync_etl_spark.transforms import WarehouseContext, run_transform

    cold = _skewed(spark, n=600, hot="X", hot_share=0.02, n_cold=50)
    hot = _skewed(spark, n=600, hot="X", hot_share=0.4, n_cold=50)
    store = str(tmp_path / "cm")
    append_cm_rollup(cold, store, "key", "2026-08-01")
    append_cm_rollup(hot, store, "key", "2026-08-10")
    keys = spark.createDataFrame([("X",)], "key string")
    keys_path = str(tmp_path / "keys.parquet")
    keys.write.parquet(keys_path)

    out = _io.StringIO()
    rc = cli.main(
        ["--run-log", str(tmp_path / "r.jsonl"), "freq", "drift", store,
         "--input", keys_path, "--key", "key",
         "--where-a", "batch_id = '2026-08-01'",
         "--where-b", "batch_id = '2026-08-10'"],
        out=out,
    )
    assert rc == 0, out.getvalue()
    rows = _json.loads(out.getvalue().strip())
    assert [r["key"] for r in rows] == ["X"]
    assert rows[0]["share_delta"] >= 0.3

    # missing required flags exit 2 before Spark work
    out2 = _io.StringIO()
    rc2 = cli.main(
        ["--run-log", str(tmp_path / "r.jsonl"), "freq", "drift", store,
         "--input", keys_path, "--key", "key"],
        out=out2,
    )
    assert rc2 == 2 and "--where-a" in out2.getvalue()

    # API: 404 before the gold chain lands hot_keys, rows after
    transforms.load_all()
    wh = str(tmp_path / "wh")
    plane = ControlPlane(
        run_log=RunLog(str(tmp_path / "runs.jsonl")), warehouse_dir=wh
    )
    status, _, _ = plane.handle("GET", "/freq/hot")
    assert status == 404

    sf_dir = str(tmp_path / "sf")
    hot.select(
        SF.col("id").alias("event_id"),
        SF.xxhash64("key").alias("user_id"),
    ).write.parquet(f"{sf_dir}/events.parquet")
    ctx = WarehouseContext(
        sf_dir=sf_dir, warehouse_dir=wh, options={"hot_key_phi": 0.2}
    )
    assert run_transform(spark, "refresh_hot_keys", ctx).status == "success"
    status, _, payload = plane.handle("GET", "/freq/hot")
    body = _json.loads(payload)
    assert status == 200 and body["n_keys"] == 1
    assert body["keys"][0]["share"] >= 0.3
