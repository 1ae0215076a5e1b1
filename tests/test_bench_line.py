"""The bench's printed line must stay driver-parseable: the recorder
demonstrably parsed r4's ~700-char line of plain floats and recorded
``parsed: null`` for r5/r6's 2.9K/4.3K-char nested payloads. This pins
the compact shape and its size under the ~1.8K practical cap at the
full current query inventory."""

import importlib.util
import json
import os
import sys

_spec = importlib.util.spec_from_file_location(
    "bench",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "bench.py"),
)
bench = importlib.util.module_from_spec(_spec)
# register BEFORE exec so the process-pool pickle of bench._probe_work
# (the multi-core steal probe) can resolve the module by name
sys.modules.setdefault("bench", bench)
_spec.loader.exec_module(bench)

EXTRA = [
    "ann_index_probe",
    "sketch_rollup_fold",
    "sketch_estimate",
    "warehouse_build_dim_chain",
    "warehouse_build_fact_chain",
    "warehouse_build_total",
    "warehouse_build_parallel",
    "warehouse_verify_chain",
]
LADDER_NAMES = [
    # the REAL current ladder inventory (bench._scale_ladder runners) —
    # the size check must price the line at full key count
    "a1_pricing_summary",
    "j1_star_join_broadcast",
    "scd2_rebuild_dim_users",
    "dedup_minhash_lsh",
    "text_decontaminate",
    "dedup_semdedup",
    "ann_index_probe",
    "freq_cm",
    "freq_hh",
    "t_qmodel",
    "t_dstore",
    "t_substr",
    "t_ppl",
    "t_langid",
    "t_kn5",
    "warehouse_build_total",
    "t_crawl",
]


def _fixture():
    times = {
        n: {"median": 12.345, "min": 11.111, "trials": 5}
        for n in bench.HEADLINE + EXTRA
    }
    streaming = {
        "stream_neardup_gate": {"rows": 6000, "sec": 4.5, "rows_per_s": 1333},
        "stream_neardup_gate_16x": {"rows": 96000, "sec": 4.9,
                                    "rows_per_s": 19592},
        "stream_substr_gate": {"rows": 6000, "sec": 0.5,
                               "rows_per_s": 12000},
        "stream_ppl_gate": {"rows": 6000, "sec": 0.4, "rows_per_s": 15000},
        "stream_decontam_gate": {"rows": 6000, "sec": 2.1, "rows_per_s": 2857},
        "stream_semdup_gate": {"rows": 2000, "sec": 2.5, "rows_per_s": 800},
        "stream_semdup_gate_4x": {"rows": 8000, "sec": 9.0, "rows_per_s": 888},
        "stream_semdup_gate_16x": {"rows": 32000, "sec": 27.0,
                                   "rows_per_s": 1185},
        "stream_semdup_gate_skew": {"rows": 32000, "sec": 29.0,
                                    "rows_per_s": 1103},
        "stream_quality_gate": {"rows": 6000, "sec": 0.9, "rows_per_s": 6666},
    }
    ladder = {
        "scales": [1, 4, 16],
        "gen_sec": 30.0,
        # realistic-WIDTH slope values: the r12 line measured 1810 chars
        # against 3 dp reals like -0.249/1.053 while this fixture's
        # 3-char 0.5 placeholders priced it at 1775 — the size check
        # must price the widest shape the fold can emit (negative sign +
        # 2 dp), not the narrowest
        "queries": {
            n: {"sec": {"1": 1.0, "4": 2.0, "16": 4.0},
                "rows": {"1": 10, "4": 40, "16": 160},
                "slope": -0.249, "slope_last": -0.249}
            for n in LADDER_NAMES
        },
        "skew": {
            "hot_order_share": 0.2081,
            "aqe_skew_join": True,
            "ann_max_list_share": 0.031,
            "queries": {
                n: {"sec": {"1": 1.0, "4": 2.0, "16": 4.0},
                    "slope": -0.249, "slope_last": -0.249}
                for n in ("j1_star_join_broadcast", "dedup_semdedup",
                          "ann_index_probe", "freq_cm", "freq_hh")
            },
        },
    }
    return times, streaming, ladder


def test_compact_line_parses_and_stays_small():
    times, streaming, ladder = _fixture()
    line = bench.compact_line(
        260.0, times, streaming, ladder, 0.1, 0, "BENCH_DETAIL.json",
        load=1.234, cpu_ms=123.456, cpus=32, parallelism=32,
    )
    assert "\n" not in line
    assert len(line) < 1800, f"line is {len(line)} chars"
    payload = json.loads(line)
    assert payload["metric"] == "headline_suite_total"
    assert payload["unit"] == "sec"
    # plain floats, not nested dicts — the shape the driver parses
    assert all(isinstance(v, (int, float))
               for v in payload["queries"].values())
    assert payload["queries"]["a1_pricing_summary"] == 12.35
    assert payload["streaming"]["stream_neardup_gate"] == 1333
    assert payload["streaming"]["stream_substr_gate"] == 12000
    # measured every round, detail-file only: the 4x midpoint of the
    # semdup batch-economics curve and the perplexity gate stay off the
    # line (buffer budget; t_ppl carries the scoring cost on the line)
    assert "stream_semdup_gate_4x" not in payload["streaming"]
    assert "stream_ppl_gate" not in payload["streaming"]
    # the fold renders slope_last at 2 dp (line budget); the detail
    # file keeps 3 dp
    assert payload["ladder"]["dedup_semdedup"] == -0.25
    assert payload["ladder"]["t_substr"] == -0.25
    assert payload["ladder"]["t_ppl"] == -0.25
    # r15 budget surgery: the flat-for-three-rounds minhash slope funds
    # the crawl stage-zero point (detail file keeps the full series)
    assert "dedup_minhash_lsh" not in payload["ladder"]
    assert payload["ladder"]["t_crawl"] == -0.25
    # the host-load field: the one number that adjudicates round-over-
    # round swings as noise vs regression
    assert payload["load"] == 1.23
    # the fixed-work CPU probe: catches hypervisor-level contention the
    # guest loadavg cannot see (load 0 but every metric 2x slower)
    assert payload["cpu_ms"] == 123.5
    # the machine shape the timings belong to
    assert payload["cpus"] == 32 and payload["parallelism"] == 32
    # skew ladder folded to slope_last + the AQE-engagement bit
    assert payload["skew"]["j1_star_join_broadcast"] == -0.25
    assert payload["skew"]["aqe"] is True
    assert payload["sf"] == 0.1
    assert "warehouse_build_failed_transforms" not in payload


def test_compact_line_flags_failures_and_ladder_errors():
    times, streaming, ladder = _fixture()
    ladder["queries"]["warehouse_build_total"] = {
        "sec": {}, "rows": {}, "error": "RuntimeError: boom"
    }
    payload = json.loads(bench.compact_line(
        260.0, times, streaming, ladder, 0.1, 2, "BENCH_DETAIL.json"
    ))
    assert payload["warehouse_build_failed_transforms"] == 2
    assert payload["ladder"]["warehouse_build_total"] == "err"


def test_compact_line_without_ladder():
    times, streaming, _ = _fixture()
    payload = json.loads(bench.compact_line(
        260.0, times, streaming, None, 0.01, 0, "BENCH_DETAIL.json"
    ))
    assert "ladder" not in payload


def test_compact_line_flags_its_own_degradation():
    """The record judges itself: loadavg past DEGRADED_LOAD or the CPU
    probe past DEGRADED_CPU_RATIO x the pinned quiet value marks the line
    "degraded": true — one artifact, no second file needed to adjudicate
    contention (the r9 driver bench at load 2.25 required exactly that
    cross-file comparison)."""
    times, streaming, ladder = _fixture()

    def line(load, cpu):
        return json.loads(bench.compact_line(
            260.0, times, streaming, ladder, 0.1, 0, "BENCH_DETAIL.json",
            load=load, cpu_ms=cpu,
        ))

    quiet = line(0.3, bench.QUIET_CPU_MS)
    assert "degraded" not in quiet

    assert line(bench.DEGRADED_LOAD + 0.1, bench.QUIET_CPU_MS)["degraded"] is True
    assert line(0.3, bench.QUIET_CPU_MS * bench.DEGRADED_CPU_RATIO + 1)[
        "degraded"
    ] is True
    # a degraded line still fits the driver-buffer contract
    raw = bench.compact_line(
        260.0, times, streaming, ladder, 0.1, 0, "BENCH_DETAIL.json",
        load=9.99, cpu_ms=999.9,
    )
    assert len(raw) < 1800 and json.loads(raw)["degraded"] is True
    # the absolute worst case the line can carry: degraded AND an
    # exhausted quiet-wait — still inside the driver-buffer budget
    raw = bench.compact_line(
        260.0, times, streaming, ladder, 0.1, 0, "BENCH_DETAIL.json",
        load=9.99, cpu_ms=999.9, quiet_wait_s=300.0, degraded=True,
    )
    assert len(raw) < 1800

    # the caller may pass the FULL verdict (multi-core probe or the
    # end-of-run re-sample saw a storm the start load/cpu missed — the
    # r12 failure mode: start probe 83.5 ms ≈ quiet, every 32-thread
    # metric 2x slow); the override wins over the clean-looking fallback
    flagged = json.loads(bench.compact_line(
        260.0, times, streaming, ladder, 0.1, 0, "BENCH_DETAIL.json",
        load=0.3, cpu_ms=bench.QUIET_CPU_MS, degraded=True,
    ))
    assert flagged["degraded"] is True

    # the multi-core probe gates _sample_host (nan = unavailable pool
    # degrades to the single-core checks, never a crash)
    assert bench._mc_probe_ms(workers=2, steps=20_000) > 0.0


def test_wait_for_quiet_retries_then_reports_wait():
    """The official record was contention-contaminated two driver rounds
    running because the builder's manual wait-for-quiet wasn't automated.
    The loop polls the same (load, cpu-probe) pair the degraded flag
    judges, sleeps between samples, stops as soon as the host is quiet,
    and gives up at the budget (the run then proceeds and the line says
    degraded WITH the recorded wait — exhausted retries, never silent)."""
    samples = [
        (3.8, 160.0, 300.0, True),   # storm
        (2.0, 120.0, 250.0, True),   # still busy
        (0.2, 75.0, 110.0, False),   # quiet — stop here
        (9.9, 999.0, 999.0, True),   # must never be consumed
    ]
    it = iter(samples)
    slept: list[float] = []
    load, cpu, mc, waited = bench.wait_for_quiet(
        budget_s=300.0, poll_s=30.0, sleep=slept.append,
        sample=lambda: next(it),
    )
    assert (load, cpu, mc) == (0.2, 75.0, 110.0)
    assert slept == [30.0, 30.0] and waited == 60.0

    # budget exhaustion: a permanently-noisy host stops retrying and the
    # LAST sample (still degraded) is what the line will carry
    busy = lambda: (4.0, 200.0, 500.0, True)  # noqa: E731
    slept.clear()
    load, cpu, mc, waited = bench.wait_for_quiet(
        budget_s=70.0, poll_s=30.0, sleep=slept.append, sample=busy,
    )
    assert load == 4.0 and len(slept) == 2 and waited == 60.0

    # a quiet host never sleeps and reports zero wait (so the line key
    # stays absent on the common path — driver-buffer budget)
    slept.clear()
    load, cpu, mc, waited = bench.wait_for_quiet(
        budget_s=300.0, poll_s=30.0, sleep=slept.append,
        sample=lambda: (0.1, 72.0, 105.0, False),
    )
    assert slept == [] and waited == 0.0

    # budget 0 opts out entirely (deliberately-busy local iteration)
    slept.clear()
    load, cpu, mc, waited = bench.wait_for_quiet(
        budget_s=0.0, poll_s=30.0, sleep=slept.append, sample=busy,
    )
    assert slept == [] and waited == 0.0


def test_compact_line_never_carries_quiet_wait():
    """r12 budget surgery: quiet_wait_s rides the detail file and the
    stderr tail (which the driver records), never the line — at the full
    19-slope inventory the worst-case line overflowed ~1.8K with it. The
    parameter stays accepted so callers need not change."""
    times, streaming, ladder = _fixture()
    for waited in (0.0, 90.0):
        line = bench.compact_line(
            260.0, times, streaming, ladder, 0.1, 0, "BENCH_DETAIL.json",
            load=0.3, cpu_ms=75.0, quiet_wait_s=waited,
        )
        payload = json.loads(line)
        assert "quiet_wait_s" not in payload and "degraded" not in payload
        assert len(line) < 1800


def test_host_band_aggregates_clean_snapshot_band(tmp_path):
    """host_band compares this run's medians to the BAND of the last
    HOST_BAND_SNAPSHOTS not-degraded committed snapshots — per query the
    reference is the MEDIAN across snapshots, so one lucky window cannot
    anchor the comparator (the r12 verdict's single-snapshot concern).
    Degraded snapshots are skipped, <5 shared queries → None, no usable
    snapshot → None — informational detail only, never the printed
    line."""
    times = {f"q{i}": {"median": 2.0, "min": 1.9, "trials": 5}
             for i in range(6)}
    ref_q = {f"q{i}": {"median": 1.0} for i in range(6)}
    # r09 clean (slow window: 4.0s), r10 degraded (skipped), r11 clean
    (tmp_path / "BENCH_DETAIL_r09.json").write_text(
        json.dumps({"queries": {k: {"median": 4.0} for k in ref_q}}))
    (tmp_path / "BENCH_DETAIL_r10.json").write_text(
        json.dumps({"queries": ref_q, "degraded": True}))
    (tmp_path / "BENCH_DETAIL_r11.json").write_text(
        json.dumps({"queries": ref_q}))
    band = bench.host_band(times, ref_dir=str(tmp_path))
    # the band is both clean snapshots, newest first; per-query reference
    # = median([1.0, 4.0]) = 2.5 → ratio 2.0/2.5 = 0.8 everywhere
    assert band["vs"] == [
        "BENCH_DETAIL_r11.json", "BENCH_DETAIL_r09.json"
    ]
    assert band["n_snapshots"] == 2
    assert band["median_ratio"] == 0.8 and band["n"] == 6

    # a third snapshot carrying only q0 still joins the band: q0's
    # reference tightens to median([1.0, 1.0, 4.0]) = 1.0 (ratio 2.0)
    # while the others stay banded at 2.5
    (tmp_path / "BENCH_DETAIL_r12.json").write_text(
        json.dumps({"queries": {"q0": {"median": 1.0}}}))
    band = bench.host_band(times, ref_dir=str(tmp_path))
    assert band["n_snapshots"] == 3
    # p90 (index 4 of 6 sorted ratios) still sits in the banded 0.8s;
    # q0's tightened 2.0 ratio is the single tail value
    assert band["median_ratio"] == 0.8 and band["p90_ratio"] == 0.8
    assert band["n"] == 6

    # no usable snapshot at all
    assert bench.host_band(times, ref_dir=str(tmp_path / "empty")) is None

    # every snapshot degraded -> None
    deg = tmp_path / "alldeg"
    deg.mkdir()
    (deg / "BENCH_DETAIL_r01.json").write_text(
        json.dumps({"queries": ref_q, "degraded": True}))
    assert bench.host_band(times, ref_dir=str(deg)) is None
