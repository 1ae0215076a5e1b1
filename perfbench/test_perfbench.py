"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The Spark test builds the nightly warehouse once over generated inputs
(about half a minute on 4 cores) and pins the job counts the traced run
reports for the chains.
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import layers  # noqa: E402
from inputs import Inputs  # noqa: E402
from run import WORKLOADS, tail  # noqa: E402
from tracing import JobCounter, Tracer  # noqa: E402

#: Spark jobs of the single-member verify chain over the generated
#: inputs on local[4]. A job-group count sees only 48 of them: the rest
#: are submitted from threads that do not inherit the caller's group.
VERIFY_JOBS, VERIFY_GROUP_JOBS = 64, 48


def test_same_seed_same_inputs(tmp_path):
    for d in ("a", "b"):
        Inputs(7, 0.01).write_tables(str(tmp_path / d))
    for t in ("orders", "events", "documents", "embeddings"):
        f = f"{t}.parquet/part-00000.parquet"
        assert filecmp.cmp(tmp_path / "a" / f, tmp_path / "b" / f, shallow=False)
    Inputs(8, 0.01).write_tables(str(tmp_path / "c"))
    f = "events.parquet/part-00000.parquet"
    assert not filecmp.cmp(tmp_path / "a" / f, tmp_path / "c" / f, shallow=False)


def test_tail_needs_ten_samples_beyond():
    assert tail([1.0] * 19)[0] is None
    assert tail([float(i) for i in range(20)]) == (50, 9.0)
    assert tail([float(i) for i in range(100)]) == (90, 89.0)


def test_self_time_excludes_children():
    tr = Tracer(enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    self_outer, self_inner = tr.self_times()
    assert inner.parent == 0 and outer.parent is None
    assert self_inner == pytest.approx(inner.duration)
    assert self_outer == pytest.approx(outer.duration - inner.duration)


def _span(i, name, parent, start, end, jobs=0, **attrs):
    return {"id": i, "name": name, "parent": parent, "cycle": 1, "start": start, "end": end,
            "self_s": 0.0, "jobs": jobs, "stages": jobs, "tasks": jobs, "tasks_failed": 0, **attrs}


def test_gate_batches_come_from_batch_spans():
    """One attach (the whole stream: start, listing, checkpoints) holds
    three micro-batches; the per-batch figures read the batch spans."""
    spans = [
        _span(0, "structured.near_dup", None, 0.0, 10.0, jobs=31),
        *(_span(1 + b, "structured.near_dup.batch", 0, 1.0 + 3 * b, 3.0 + 3 * b, jobs=9, batch=b)
          for b in range(3)),
    ]
    m = layers.compute(spans, 1.0, {"keep": {"near_dup": (90, 100)}})
    assert m["structured.near_dup.s"] == 10.0
    assert m["structured.near_dup.batches"] == 3
    assert m["structured.near_dup.jobs_per_batch"] == 9
    assert m["structured.near_dup.keep_ratio"] == 0.9
    assert m["structured.quality.batches"] == 0


def test_noop_poll_metrics():
    spans = [
        _span(0, "incremental.load_dim_users_incremental", None, 0.0, 2.0, jobs=9, rows=10),
        _span(1, "incremental.noop", None, 2.0, 3.0, jobs=9),
        _span(2, "incremental.load_dim_users_incremental.noop", 1, 2.0, 2.5, jobs=3, rows=0),
    ]
    m = layers.compute(spans, 1.0, {})
    assert m["incremental.load_dim_users_incremental.s"] == 2.0
    assert m["incremental.load_dim_users_incremental.jobs"] == 9
    assert m["incremental.noop_s"] == 1.0
    assert m["incremental.noop_jobs"] == 9


def test_rows_match_tolerates_a_rounding_flip():
    from workloads import _rows_match

    # the same SUM rounded to cents after adding in another order
    assert _rows_match([(2471, "NATION_15", 90183523.05)], [(2471, "NATION_15", 90183523.06)], 1e-6)
    assert not _rows_match([(1, "a", 12.5)], [(1, "a", 12.6)], 1e-6)
    assert not _rows_match([(1, "a", 1.0)], [(1, "b", 1.0)], 1e-6)
    assert not _rows_match([(1, "a", 1.0)], [(1, "a", 1.0), (1, "a", 1.0)], 1e-6)


def test_benchmark_json_lists_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["per_layer"]] == layers.names()
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {n: layers.unit(n) for n in layers.names()}
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_member_metrics_cover_the_chains():
    from trialsync_etl_spark import transforms

    transforms.load_all()
    chains = transforms.CHAINS
    assert layers.SILVER_MEMBERS == (*chains["load_all_new_dimensions"], *chains["load_all_new_facts"])


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from trialsync_etl_spark.session import get_spark

    local = str(tmp_path_factory.mktemp("spark-local"))
    s = get_spark(app_name="perfbench-test", cpus=4, extra_conf={
        "spark.driver.memory": "2g", "spark.local.dir": local,
        "spark.ui.showConsoleProgress": "false",
    })
    yield s
    s.stop()


def test_job_counter_sees_pool_and_pins_verify(spark, tmp_path):
    """Part of every chain's jobs is submitted from threads that do not
    inherit the caller's job group (run_chain's worker pool, and helper
    threads inside the verify suite); the id-range counter sees them all."""
    from trialsync_etl_spark import transforms
    from trialsync_etl_spark.transforms import WarehouseContext, run_chain

    transforms.load_all()
    sf = str(tmp_path / "sf")
    Inputs(1, 0.01).write_tables(sf)
    ctx = WarehouseContext(sf_dir=sf, warehouse_dir=str(tmp_path / "wh"))
    counter = JobCounter(spark)
    sc = spark.sparkContext
    jobs, groups = {}, {}
    for chain in ("load_all_new_dimensions", "load_all_new_facts",
                  "refresh_gold_views", "verify_warehouse"):
        mark = counter.mark()
        sc.setJobGroup(chain, chain)
        try:
            results = run_chain(spark, chain, ctx)
        finally:
            sc.setJobGroup(None, None)
        assert all(r.status == "success" for r in results), [r.error for r in results]
        jobs[chain] = counter.since(mark).jobs
        groups[chain] = len(sc.statusTracker().getJobIdsForGroup(chain))
        assert groups[chain] < jobs[chain]
    assert jobs["verify_warehouse"] == VERIFY_JOBS
    assert groups["verify_warehouse"] == VERIFY_GROUP_JOBS
    for chain in ("load_all_new_dimensions", "load_all_new_facts", "refresh_gold_views"):
        assert jobs[chain] > 0
