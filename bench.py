"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
COMPACT JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: median_sec}, "streaming": {name: rows_per_s},
"ladder": {name: slope_last}, "sf": ...}. The full detail — per-query
{median, min, trials}, per-point ladder seconds/rows — is written to
BENCH_DETAIL.json next to this file (override: $SPARK_GRAFT_BENCH_DETAIL).
The printed line must stay small (<~1.8K chars): the recording driver
truncates/abandons longer lines, which left the official bench record
dark for two rounds.

Each query runs TRIALS times; the line carries the median (single-trial
timings on a busy host swing ±30%, which round-over-round review kept
mistaking for regressions — the median is the comparable number, the min
in the detail file approximates the noise floor). ``value`` is the sum
of per-query medians.

Headline set = the heaviest representative of each operator family:
scan+agg, star join, window dedup, SCD2 rebuild, range join, MinHash LSH
dedup, embedding top-k, persisted-ANN probe. Each query is fully
materialized via count() (no collect of payloads — the driver-side result
stays tiny). The warehouse build (the BASELINE-equivalent metric) reports
dim-chain and fact-chain medians separately plus their per-trial total.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from pyspark.sql import functions as F

from trialsync_etl_spark.plans import registry
from trialsync_etl_spark.session import get_spark

HEADLINE = [
    "a1_pricing_summary",
    "j1_star_join_broadcast",
    "j6_range_join_ship_window",
    "w2_distinct_on_latest",
    "scd2_rebuild_dim_users",
    "dedup_minhash_lsh",
    "text_profile",
    "emb_cosine_topk",
    "silver_dim_from_bronze_json",
    "gold_enrollment_summary",
    "a_rollup_region_nation",
    "mm_binary_features",
    # round 2 additions (kept appended so r1 names stay comparable)
    "silver_dim_patient_entity",
    "o2_changed_ids_topk",
    "dedup_minhash_lsh_fast",  # xxhash64 production path vs md5 parity path
    # round 3 additions
    "text_decontaminate",
    "text_repetition",
    # round 4 additions
    "text_decontaminate_fast",  # xxhash64 production path vs md5 parity path
    "text_export_shards",
    # round 5 additions
    "dedup_semdedup",
    "text_dataset_card",
]

#: trials per headline query / per chain build (chains are ~10x costlier,
#: so they run fewer trials; both report {median, min, trials})
QUERY_TRIALS = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "5"))
CHAIN_TRIALS = int(os.environ.get("SPARK_GRAFT_BENCH_CHAIN_TRIALS", "3"))


def _trials(fn, n: int) -> dict:
    """Run fn() n times; {"median": s, "min": s, "trials": n}."""
    samples = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t0)
    return {
        "median": round(statistics.median(samples), 3),
        "min": round(min(samples), 3),
        "trials": n,
    }


# ---------------------------------------------------------------------------
# scale ladder — measured wall-vs-rows slopes for the heavy hitters
# ---------------------------------------------------------------------------
#: ladder scales (multiples of the bench SF volume). "0"/"" disables.
LADDER_SCALES = os.environ.get("SPARK_GRAFT_LADDER", "4,16")
#: chains re-run the full 16-transform warehouse per point — cap their
#: largest ladder scale separately so the bench stays bounded. 16 since
#: r7 so the recorded artifact carries the 16× warehouse point (the r6
#: one-off measured exponent 0.65 but lived only in prose); the ladder
#: budget check still truncates gracefully if the host is slow.
LADDER_CHAIN_MAX = int(os.environ.get("SPARK_GRAFT_LADDER_CHAIN_MAX", "16"))
#: wall-clock budget for the ladder runs (seconds, generation excluded):
#: a ladder that overruns must degrade to partial slopes, never risk the
#: whole bench line against an external timeout
LADDER_BUDGET_S = float(os.environ.get("SPARK_GRAFT_LADDER_BUDGET", "540"))


def _slopes(sec: dict[str, float]) -> dict:
    """Log-log scaling exponents of wall time vs scale. ``slope`` is the
    least-squares fit over all points (1× includes fixed job-submission
    overhead, so the fit UNDERSTATES asymptotic cost); ``slope_last`` is
    the exponent over the largest step — the number that predicts the
    next 10×. ≈1.0 = linear; ≲1.2 = the scale-sane bar."""
    import math

    pts = sorted((float(s), t) for s, t in sec.items() if t > 0)
    if len(pts) < 2:
        return {}
    xs = [math.log(s) for s, _ in pts]
    ys = [math.log(t) for _, t in pts]
    mx = sum(xs) / len(xs)
    my = sum(ys) / len(ys)
    var = sum((x - mx) ** 2 for x in xs)
    fit = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / var if var else 0.0
    (s0, t0), (s1, t1) = pts[-2], pts[-1]
    last = math.log(t1 / t0) / math.log(s1 / s0)
    return {"slope": round(fit, 3), "slope_last": round(last, 3)}


def _scale_ladder(spark, sf_dir: str) -> dict | None:
    """Run each heavy operator at 1×/4×/16× the bench volume (scaled data
    from trialsync_etl_spark.scale — FK-consistent replication with
    constant near-dup density) and report measured slopes. The semdedup
    ladder uses the production configuration — ~max(128, √N) centroids,
    which keeps the two-level assignment path engaged at every point —
    rather than the parity query's DuckDB-replayable stride; the ANN
    entry rebuilds the index per scale (untimed) and times the probe,
    which SHOULD be flat (partition-pruned lists), not linear."""
    import math

    if LADDER_SCALES.strip() in ("", "0", "off"):
        return None
    scales = sorted({1} | {int(s) for s in LADDER_SCALES.split(",") if s.strip()})
    cache_root = os.environ.get(
        "SPARK_GRAFT_SCALE_CACHE",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), ".scale_cache"),
    )
    from trialsync_etl_spark.catalog import load_table
    from trialsync_etl_spark.scale import ensure_scaled_dir

    t0 = time.perf_counter()
    dirs = {s: ensure_scaled_dir(spark, sf_dir, cache_root, s)[0] for s in scales}
    gen_s = time.perf_counter() - t0
    print(f"  [ladder] scaled dirs ready in {gen_s:.1f}s "
          f"(cache: {cache_root})", file=sys.stderr)

    def timed(fn) -> float:
        t = time.perf_counter()
        fn()
        return time.perf_counter() - t

    def semdedup_prod(d: str) -> None:
        """Production configuration: FIXED expected cluster size (constant
        stride → centroid count ∝ N), the shape that stays linear at any
        corpus size — √N centroids would make the Σ cluster² self-join
        O(N^1.5) and eventually cross the near-linear bar. The constant-64
        stride engages the two-level assignment path at the 16× point
        (500 centroids > TWO_LEVEL_MIN_CENTROIDS) exactly as a 100 TB
        corpus would run it."""
        from trialsync_etl_spark.operators.similarity import semdedup

        emb = load_table(spark, d, "embeddings")
        cents = emb.filter(F.col("vec_id") % 64 == 0).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
        )
        semdedup(emb, cents, threshold=0.98).count()

    def ann_probe(d: str, diag: dict | None = None) -> float:
        """Index build is untimed (an artifact, like the warehouse dims);
        the returned time is the probe. ``diag`` (skew runs) records the
        max-list share of the built index — the posture check that k-means'
        density-proportional centroid allocation SPLIT a hot embedding
        cone into ordinary-sized lists instead of one 20% list."""
        import shutil
        import tempfile

        from trialsync_etl_spark.operators.ann_store import (
            build_ann_index,
            query_ann_index,
        )

        emb = load_table(spark, d, "embeddings")
        n_lists = max(16, int(math.sqrt(emb.count())))
        idx = tempfile.mkdtemp(prefix="ladder_ann_")
        try:
            build_ann_index(emb, os.path.join(idx, "i"), n_lists=n_lists)
            if diag is not None:
                mx, tot = (
                    spark.read.parquet(os.path.join(idx, "i", "current", "lists"))
                    .groupBy("cid").count()
                    .agg(F.max("count"), F.sum("count")).first()
                )
                diag["ann_max_list_share"] = round(mx / tot, 4)
            probes = emb.limit(32).select("vec_id", "embedding").localCheckpoint()
            return timed(
                lambda: query_ann_index(
                    spark, os.path.join(idx, "i"), probes, k=10, n_probe=4
                ).count()
            )
        finally:
            shutil.rmtree(idx, ignore_errors=True)

    def chains(d: str) -> None:
        import shutil
        import tempfile

        from trialsync_etl_spark.transforms import WarehouseContext, run_chain

        wh = tempfile.mkdtemp(prefix="ladder_wh_")
        try:
            ctx = WarehouseContext(sf_dir=d, warehouse_dir=wh)
            run_chain(spark, "load_all_new_dimensions", ctx)
            run_chain(spark, "load_all_new_facts", ctx)
        finally:
            shutil.rmtree(wh, ignore_errors=True)

    def via_registry(name: str):
        return lambda d: timed(lambda: registry.QUERIES[name](spark, d).count())

    def freq_cm(d: str) -> None:
        """CM sketch fold over the orders fact's customer key: shuffle is
        bounded at tasks × depth × width cells whatever N is — the slope
        should track the SCAN, never the distinct-key count."""
        from trialsync_etl_spark.operators.freq import cm_sketch

        cm_sketch(
            load_table(spark, d, "orders").select("o_custkey"), "o_custkey"
        ).count()

    def freq_hh(d: str) -> int:
        """Exact heavy hitters over the same key (phi=0.1): Chernoff
        sample pass + candidate-only exact pass — two bounded scans. On
        the uniform ladder no key qualifies (empty verdict, still both
        passes); the skew ladder's planted 20% key must be FOUND —
        returns the verdict count so the skew ladder reads the detector
        posture off the TIMED run instead of re-running it."""
        from trialsync_etl_spark.operators.freq import heavy_hitters

        return heavy_hitters(
            load_table(spark, d, "orders").select("o_custkey"),
            "o_custkey", phi=0.1,
        ).count()

    def qmodel_score(d: str) -> None:
        """The trained quality filter at corpus volume: the
        literal-inlined sigmoid over EVERY document (the registry query
        is id-bounded for its DuckDB oracle; the ladder measures the
        full-scan shape a 100 TB corpus pays). Pure whole-stage-codegen
        arithmetic — the slope should track the scan."""
        from trialsync_etl_spark.operators.quality_model import (
            quality_model_mask,
        )

        load_table(spark, d, "documents").filter(
            quality_model_mask(F.col("text"), 0.5)
        ).count()

    def substr_spans(d: str) -> None:
        """Exact substring dedup at corpus volume (the r12 operator):
        maximal duplicated ≥10-word spans at arbitrary offsets over the
        FULL scaled documents table — positional shingling, keep-first
        groupBy-min on the gram hash, hash-join back, run-merge. The
        slope should track the scan (every stage is a bounded shuffle
        on gram hash or doc_id, never a global sort)."""
        from trialsync_etl_spark.operators.dedup import duplicate_spans

        duplicate_spans(
            load_table(spark, d, "documents").select("doc_id", "text"),
            k=8, min_len=10,
        ).count()

    def ppl_score(d: str) -> float:
        """Unigram-LM perplexity at corpus volume (the r12 operator):
        the model is an artifact — trained once per reference-corpus
        version on a CONSTANT-size slice (untimed, like the ANN index
        and the benchmark store); the timed number is the score pass
        every corpus batch pays — one explode + one token join + one
        per-doc aggregate. The slope should track the corpus scan: the
        vocabulary side never grows with N."""
        from trialsync_etl_spark.operators.lm import (
            doc_perplexity,
            unigram_model,
        )

        docs = load_table(spark, d, "documents").select("doc_id", "text")
        lm, unseen = unigram_model(docs.filter(F.col("doc_id") < 2000))
        lm = lm.localCheckpoint(eager=True)  # materialize the artifact
        return timed(lambda: doc_perplexity(docs, lm, unseen).count())

    def kn5_score(d: str) -> float:
        """Order-5 Kneser-Ney perplexity scoring at corpus volume (the
        r14 operator): the model fits ONCE on a bounded reference slice
        (untimed — the lm_store artifact, like the ANN index), each
        table checkpointed; the timed number is the scoring pass — one
        positional explode + 2·5−1 token-key hash joins + one per-doc
        aggregate. Slope should track the corpus scan: the model side
        never grows with N."""
        from trialsync_etl_spark.operators.lm import (
            doc_perplexity_kn_n,
            kn_tables,
        )

        docs = load_table(spark, d, "documents").select("doc_id", "text")
        tables, sc = kn_tables(
            docs.filter(F.col("doc_id") < 2000), order=5
        )
        mat = [tables[0].localCheckpoint(eager=True)] + [
            (g.localCheckpoint(eager=True), c.localCheckpoint(eager=True))
            for g, c in tables[1:]
        ]
        return timed(
            lambda: doc_perplexity_kn_n(docs, mat, sc["unk_logp"]).count()
        )

    def langid_score(d: str) -> float:
        """Trained language-ID inference at corpus volume (r13; breadth
        r15): the model is committed constants. Uses the xxhash64 FAST
        twin — the production hash path, prediction-pinned to the md5
        parity model (the dedup_minhash_lsh_fast discipline). At the
        r15 breadth (21 languages × 4096 buckets) the twin is past
        INLINE_MAX_CELLS, so the timed pass is the PRODUCTION auto
        choice: the broadcast weight-table join (explode → one
        BroadcastHashJoin → integer sums) rather than an 86K-literal
        inline plan. Slope should still track the corpus scan — the
        weights side is constant-size."""
        from trialsync_etl_spark.operators.langid import (
            detect_language_model,
            fast_langid_model,
            langid_table_scores,
            should_inline,
        )

        model = fast_langid_model()
        if should_inline(model):
            docs = load_table(spark, d, "documents").select("text")
            return timed(
                lambda: docs.select(
                    detect_language_model(F.col("text"), model).alias("l")
                ).groupBy("l").count().count()
            )
        docs = load_table(spark, d, "documents").select("doc_id", "text")
        return timed(
            lambda: langid_table_scores(docs, "doc_id", "text", model)
            .groupBy("lang_pred").count().count()
        )

    def crawl_gate(d: str) -> float:
        """Stage zero at corpus volume (r15): WARC container → streamed
        parse → HTML main-text extraction → funnel-entry count — the
        stage every byte of a real crawl pipeline passes through.
        Generation (wrap the scaled documents in page chrome, write
        per-partition containers via the distributed sink) is untimed,
        like the ANN index build; the timed pass is binaryFile scan +
        one Arrow parse stage + pure-column extraction. Slope should
        track the container bytes."""
        import shutil
        import tempfile

        from trialsync_etl_spark.operators import htmlextract
        from trialsync_etl_spark.sources import warc as warc_mod

        docs = load_table(spark, d, "documents").select("doc_id", "text")
        chrome = docs.select(
            F.concat(
                F.lit("https://crawl.example.com/"),
                F.col("doc_id").cast("string"),
            ).alias("url"),
            F.concat(
                F.lit(
                    "<html><head><script>var x=1;</script></head><body>"
                    "<nav><a href='/'>Home</a> <a href='/a'>About</a>"
                    "</nav><p>"
                ),
                F.col("text"),
                F.lit("</p><footer>c 2026 chrome</footer></body></html>"),
            ).alias("html"),
        )
        root = tempfile.mkdtemp(prefix="ladder_crawl_")
        try:
            warc_mod.write_warc_files(chrome, root)  # untimed generation

            def run() -> None:
                parsed = warc_mod.read_warc(spark, root + "/*.warc.gz")
                parsed.withColumn(
                    "text", htmlextract.extract_main_text(F.col("html"))
                ).filter(F.length("text") > 0).count()

            return timed(run)
        finally:
            shutil.rmtree(root, ignore_errors=True)

    def dstore_gate(d: str) -> float:
        """Store-backed decontamination at corpus volume: the benchmark
        store build is untimed (a once-per-benchmark-version artifact,
        like the ANN index); the timed number is the per-ingest probe —
        one shingle scan of the FULL scaled documents table against the
        constant-size broadcast shingle union. The slope should track
        the corpus scan: the benchmark side never grows with N."""
        import shutil
        import tempfile

        from trialsync_etl_spark.operators.decontam_store import (
            build_benchmark_store,
            contamination_profile_store,
        )

        docs = load_table(spark, d, "documents").select("doc_id", "text")
        store_root = tempfile.mkdtemp(prefix="ladder_dstore_")
        try:
            store = os.path.join(store_root, "bench")
            build_benchmark_store(
                docs.filter(F.col("doc_id") < 200), store, "suite",
                k=3, hash_fn="xxhash64",
            )
            return timed(
                lambda: contamination_profile_store(spark, docs, store)
                .filter(F.col("contaminated")).count()
            )
        finally:
            shutil.rmtree(store_root, ignore_errors=True)

    rows_of = {
        "a1_pricing_summary": "lineitem",
        "j1_star_join_broadcast": "lineitem",
        "scd2_rebuild_dim_users": "events",
        "dedup_minhash_lsh": "documents",
        "text_decontaminate": "documents",
        "dedup_semdedup": "embeddings",
        "ann_index_probe": "embeddings",
        "freq_cm": "orders",
        "freq_hh": "orders",
        # r12: the two r11 operators, SHORT keys to respect the ~1.8K
        # printed-line budget (full entries land in the detail file)
        "t_qmodel": "documents",
        "t_dstore": "documents",
        # r13: the two r12 operators, same SHORT-key budget discipline
        "t_substr": "documents",
        "t_ppl": "documents",
        # r13's own operator (line budget: ladder-only — the 1x point
        # doubles as the per-round tracking a headline slot would buy)
        "t_langid": "documents",
        # r14's operator (ladder-only, same line-budget discipline)
        "t_kn5": "documents",
        "warehouse_build_total": "lineitem",
        # r15: crawl stage zero (warc → html → extraction) — LAST, so a
        # budget truncation costs the newest point, never an
        # established slope
        "t_crawl": "documents",
    }
    runners = {
        # core relational shapes: full-scan aggregate, broadcast star
        # join, single-shuffle SCD2 window rebuild
        "a1_pricing_summary": via_registry("a1_pricing_summary"),
        "j1_star_join_broadcast": via_registry("j1_star_join_broadcast"),
        "scd2_rebuild_dim_users": via_registry("scd2_rebuild_dim_users"),
        # LLM-ops heavy hitters
        "dedup_minhash_lsh": via_registry("dedup_minhash_lsh"),
        "text_decontaminate": via_registry("text_decontaminate"),
        "dedup_semdedup": lambda d: timed(lambda: semdedup_prod(d)),
        "ann_index_probe": ann_probe,
        # bounded-memory frequency ops (operators/freq.py)
        "freq_cm": lambda d: timed(lambda: freq_cm(d)),
        "freq_hh": lambda d: timed(lambda: freq_hh(d)),
        # r12: trained quality filter + store-backed decontamination
        "t_qmodel": lambda d: timed(lambda: qmodel_score(d)),
        "t_dstore": dstore_gate,
        # r13: exact substring dedup + unigram-LM perplexity (r12 ops)
        "t_substr": lambda d: timed(lambda: substr_spans(d)),
        "t_ppl": ppl_score,
        "t_langid": langid_score,
        # r14: order-5 KN scoring against a fixed trained model
        "t_kn5": kn5_score,
        "warehouse_build_total": lambda d: timed(lambda: chains(d)),
        # r15: crawl stage zero (see rows_of for the LAST-slot rationale)
        "t_crawl": crawl_gate,
    }
    out: dict[str, dict] = {}
    run_t0 = time.perf_counter()
    for name, runner in runners.items():
        pts = [
            s for s in scales
            if name != "warehouse_build_total" or s <= LADDER_CHAIN_MAX
        ]
        entry: dict = {"sec": {}, "rows": {}}
        try:
            for s in pts:
                if time.perf_counter() - run_t0 > LADDER_BUDGET_S:
                    entry["truncated"] = "ladder budget exhausted"
                    break
                entry["sec"][str(s)] = round(runner(dirs[s]), 3)
                entry["rows"][str(s)] = load_table(
                    spark, dirs[s], rows_of[name]
                ).count()
            entry.update(_slopes(entry["sec"]))
        except Exception as exc:  # noqa: BLE001 — a ladder failure must
            # not take down the whole bench line; surface it instead
            entry["error"] = f"{type(exc).__name__}: {exc}"[:300]
        out[name] = entry
        print(f"  [ladder] {name}: {entry}", file=sys.stderr)

    skew = _skew_ladder(
        spark, sf_dir, cache_root, scales, semdedup_prod, ann_probe,
        via_registry, run_t0, freq_cm=freq_cm, freq_hh=freq_hh,
    )
    result = {"scales": scales, "gen_sec": round(gen_s, 1), "queries": out}
    if skew is not None:
        result["skew"] = skew
    return result


def _skew_ladder(
    spark, sf_dir, cache_root, scales, semdedup_prod, ann_probe,
    via_registry, run_t0, freq_cm=None, freq_hh=None,
) -> dict | None:
    """The Zipf-hot ladder — the 100 TB failure mode uniform replication
    can't show: one customer key owns ~20% of orders and one dense
    embedding cone owns ~20% of vectors at EVERY scale (scale.skewed_dir),
    so a hot partition grows linearly with the corpus. Measured claims:

    - ``j1_star_join_broadcast`` stays near-linear because the hot FK is
      absorbed map-side (dims broadcast — no shuffle on the hot key);
      ``aqe_skew_join`` additionally proves the non-broadcastable fallback
      engages: the same join forced down the sort-merge path splits the
      hot partition (``skew=true`` in the executed plan).
    - ``dedup_semdedup`` stays near-linear because stride-sampled
      centroids are density-proportional — the hot cone gets ~20% of the
      centroids, so cluster sizes (and the Σ cluster² scoring work per
      row) stay constant.
    - ``ann_index_probe`` stays flat because k-means splits the cone into
      ordinary lists (``ann_max_list_share`` is the posture check — one
      20%-of-corpus list would make every probe of it scan 0.2N rows)."""
    if os.environ.get("SPARK_GRAFT_LADDER_SKEW", "on").strip() in ("", "0", "off"):
        return None
    from trialsync_etl_spark.scale import ensure_skewed_dir

    t0 = time.perf_counter()
    sdirs, smeta = {}, {}
    for s in scales:
        sdirs[s], smeta[s] = ensure_skewed_dir(spark, sf_dir, cache_root, s)
    print(f"  [ladder/skew] skewed dirs ready in "
          f"{time.perf_counter() - t0:.1f}s", file=sys.stderr)

    diag: dict = {}
    runners = {
        "j1_star_join_broadcast": via_registry("j1_star_join_broadcast"),
        "dedup_semdedup": lambda d: _timed_call(semdedup_prod, d),
        "ann_index_probe": lambda d: ann_probe(d, diag=diag),
    }
    if freq_cm is not None:
        runners["freq_cm"] = lambda d: _timed_call(freq_cm, d)
    hh_counts: dict[str, int] = {}
    if freq_hh is not None:
        # capture the verdict count from the timed run — the detector
        # posture below reads it instead of paying a duplicate bounded
        # scan at the top scale
        def _hh_runner(d: str) -> float:
            t = time.perf_counter()
            hh_counts[d] = freq_hh(d)
            return time.perf_counter() - t

        runners["freq_hh"] = _hh_runner
    out: dict[str, dict] = {}
    for name, runner in runners.items():
        entry: dict = {"sec": {}}
        try:
            for s in scales:
                if time.perf_counter() - run_t0 > LADDER_BUDGET_S:
                    entry["truncated"] = "ladder budget exhausted"
                    break
                entry["sec"][str(s)] = round(runner(sdirs[s]), 3)
            entry.update(_slopes(entry["sec"]))
        except Exception as exc:  # noqa: BLE001 — isolate, surface
            entry["error"] = f"{type(exc).__name__}: {exc}"[:300]
        out[name] = entry
        print(f"  [ladder/skew] {name}: {entry}", file=sys.stderr)

    top = max(scales)
    try:
        aqe = _aqe_skew_probe(spark, sdirs[top])
    except Exception as exc:  # noqa: BLE001
        aqe = f"{type(exc).__name__}: {exc}"[:200]
    result = {
        "hot_order_share": smeta[top].get("hot_order_share"),
        "aqe_skew_join": aqe,
        "queries": out,
    }
    if freq_hh is not None:
        # detector posture: the planted ~20% custkey must actually be
        # FOUND by the bounded-pass detector at the largest skew point —
        # read off the timed freq_hh run above; re-run only if the
        # ladder budget truncated before the top scale
        try:
            n_hot = hh_counts.get(sdirs[top])
            if n_hot is None:
                n_hot = freq_hh(sdirs[top])
            result["hh_found_hot_key"] = bool(n_hot >= 1)
        except Exception as exc:  # noqa: BLE001
            result["hh_found_hot_key"] = f"{type(exc).__name__}: {exc}"[:120]
    result.update(diag)  # ann_max_list_share from the largest build
    print(f"  [ladder/skew] aqe_skew_join={aqe} "
          f"hot_order_share={result['hot_order_share']} "
          f"ann_max_list_share={result.get('ann_max_list_share')}",
          file=sys.stderr)
    return result


def _timed_call(fn, d) -> float:
    t = time.perf_counter()
    fn(d)
    return time.perf_counter() - t


def _aqe_skew_probe(
    spark, skew_dir: str, threshold: str = "1MB", advisory: str = "512KB"
) -> bool:
    """Run the skewed orders⋈customer join down the SORT-MERGE path
    (broadcast disabled, skew thresholds scaled to the bench volume — at
    100 TB the defaults trip on real sizes) and report whether AQE's
    skew-join splitting engaged (``skew=true`` on the join in the final
    adaptive plan). This is the mitigation the engine relies on when a
    dimension outgrows broadcast; the bench asserts it ENGAGES, not just
    that the config flag is set."""
    from trialsync_etl_spark.catalog import load_table

    confs = {
        # pinned, not inherited: every get_spark() call on a live session
        # resets it to the core count, and at 4 partitions the hot key's
        # partition is only ~2x the median — under the skew factor below
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": threshold,
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": advisory,
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    }
    old: dict[str, str | None] = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001 — unset conf
            old[k] = None
        spark.conf.set(k, v)
    try:
        o = load_table(spark, skew_dir, "orders")
        c = load_table(spark, skew_dir, "customer")
        # the aggregate keeps the full fact payload flowing through the
        # join (a key-only projection shuffles too few bytes for the
        # size-based skew detector at test SF — and isn't the star-join
        # shape anyway)
        j = (
            o.join(c, o.o_custkey == c.c_custkey)
            .groupBy("c_mktsegment")
            .agg(
                F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                F.max("o_orderdate").alias("last_order"),
                F.count(F.lit(1)).alias("n_orders"),
            )
        )
        # collect() executes THIS DataFrame's own QueryExecution (a
        # count() would run a different one), so the adaptive plan read
        # below is the finalized one; the result is segment-cardinality
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        return "skew=true" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _neardup_gate_rate(spark, docs, root: str, tag: str) -> dict:
    """One availableNow pass of NearDupStreamSink over ``docs`` landed as
    4 json files; returns {rows, sec, rows_per_s}."""
    from pyspark.sql import types as T

    from trialsync_etl_spark.streaming import structured

    n_rows = docs.count()
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    landing = os.path.join(root, f"landing_{tag}")
    docs.repartition(4).write.mode("overwrite").json(landing)
    sink = structured.NearDupStreamSink(
        os.path.join(root, f"nd_out_{tag}"),
        os.path.join(root, f"nd_store_{tag}"),
        min_est_jaccard=0.5,
    )
    t0 = time.perf_counter()
    sink.attach(
        structured.read_landing_stream(spark, landing, schema),
        os.path.join(root, f"nd_ckpt_{tag}"),
    )
    el = time.perf_counter() - t0
    return {"rows": n_rows, "sec": round(el, 3), "rows_per_s": round(n_rows / el)}


def _semdup_gate_rate(spark, emb, root: str, tag: str) -> dict:
    """One availableNow pass of SemanticDupStreamSink over ``emb`` landed
    as 4 json files, one micro-batch each (maxFilesPerTrigger=1): the
    first batch pays the bootstrap k-means, the other three pay the
    steady-state probe-history+append — the ingest-cadence shape a
    production stream actually runs. Returns {rows, sec, rows_per_s}."""
    from pyspark.sql import types as T

    from trialsync_etl_spark.streaming import structured

    n_emb = emb.count()
    emb_schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    landing = os.path.join(root, f"emb_landing_{tag}")
    emb.repartition(4).write.mode("overwrite").json(landing)
    # provision the list count for the corpus the stream will accumulate
    # (√total), not the first micro-batch: bootstrap's √(batch) default
    # under-lists a growing index, and per-batch pair scoring is
    # cluster-size-quadratic — the same sizing call a deployment makes
    semgate = structured.SemanticDupStreamSink(
        os.path.join(root, f"sd_out_{tag}"),
        os.path.join(root, f"sd_idx_{tag}"),
        threshold=0.98,
        n_lists=max(4, int(n_emb ** 0.5)),
    )
    t0 = time.perf_counter()
    semgate.attach(
        structured.read_landing_stream(
            spark, landing, emb_schema, max_files_per_trigger=1
        ),
        os.path.join(root, f"sd_ckpt_{tag}"),
    )
    el = time.perf_counter() - t0
    return {"rows": n_emb, "sec": round(el, 3), "rows_per_s": round(n_emb / el)}


def _decontam_gate_rate(spark, docs, store: str, root: str, tag: str) -> dict:
    """One availableNow pass of DecontamStreamSink over ``docs`` landed as
    4 json files, probing a pre-built multi-benchmark shingle store (the
    store build is untimed — a once-per-benchmark-version artifact);
    returns {rows, sec, rows_per_s} — the per-ingest cost every corpus
    micro-batch pays for benchmark decontamination."""
    from pyspark.sql import types as T

    from trialsync_etl_spark.streaming import structured

    n_rows = docs.count()
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    landing = os.path.join(root, f"dc_landing_{tag}")
    docs.repartition(4).write.mode("overwrite").json(landing)
    sink = structured.DecontamStreamSink(
        os.path.join(root, f"dc_out_{tag}"), store, min_overlap_frac=0.5
    )
    t0 = time.perf_counter()
    sink.attach(
        structured.read_landing_stream(spark, landing, schema),
        os.path.join(root, f"dc_ckpt_{tag}"),
    )
    el = time.perf_counter() - t0
    return {"rows": n_rows, "sec": round(el, 3), "rows_per_s": round(n_rows / el)}


def _substr_gate_rate(spark, docs, root: str, tag: str) -> dict:
    """One availableNow pass of SubstringDedupStreamSink over ``docs``
    landed as 4 json files against a FRESH first-occurrence gram store
    (the bootstrap shape: the first batch both probes and seeds history);
    returns {rows, sec, rows_per_s} — the per-ingest cost of verbatim-
    span trimming at ingest cadence. k=8 / min_len=10 matches the
    registry parity query, so the gate does real trimming work on the
    planted offset-shifted duplicates, not an empty-store no-op."""
    from pyspark.sql import types as T

    from trialsync_etl_spark.streaming import structured

    n_rows = docs.count()
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    landing = os.path.join(root, f"ss_landing_{tag}")
    docs.repartition(4).write.mode("overwrite").json(landing)
    sink = structured.SubstringDedupStreamSink(
        os.path.join(root, f"ss_out_{tag}"),
        os.path.join(root, f"ss_store_{tag}"),
        k=8, min_len=10,
    )
    t0 = time.perf_counter()
    sink.attach(
        structured.read_landing_stream(spark, landing, schema),
        os.path.join(root, f"ss_ckpt_{tag}"),
    )
    el = time.perf_counter() - t0
    return {"rows": n_rows, "sec": round(el, 3), "rows_per_s": round(n_rows / el)}


def _ppl_gate_rate(spark, docs, store: str, root: str, tag: str) -> dict:
    """One availableNow pass of PerplexityBandStreamSink over ``docs``
    landed as 4 json files against a pre-built LM store (the model is a
    once-per-reference-version artifact, untimed — the ANN/decontam
    discipline); returns {rows, sec, rows_per_s} — the per-ingest cost
    of statistical-quality banding: one token join against the stored
    vocabulary plus a per-doc aggregate."""
    from pyspark.sql import types as T

    from trialsync_etl_spark.streaming import structured

    n_rows = docs.count()
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    landing = os.path.join(root, f"ppl_landing_{tag}")
    docs.repartition(4).write.mode("overwrite").json(landing)
    # a [1, 1e9] band keeps the gate on the full scoring path while
    # dropping ~nothing — the measured number is the scoring cost
    sink = structured.PerplexityBandStreamSink(
        os.path.join(root, f"ppl_out_{tag}"), store, "bench-v1",
        min_ppl=1.0, max_ppl=1e9,
    )
    t0 = time.perf_counter()
    sink.attach(
        structured.read_landing_stream(spark, landing, schema),
        os.path.join(root, f"ppl_ckpt_{tag}"),
    )
    el = time.perf_counter() - t0
    return {"rows": n_rows, "sec": round(el, 3), "rows_per_s": round(n_rows / el)}


def _streaming_bench(spark, sf_dir: str) -> dict:
    """Micro-batch throughput of the two streaming gates (rows/s over
    availableNow batches of the bench documents table) — the dual-cadence
    paths' only tracked numbers. The near-dup gate is per-batch-overhead
    bound at the bench's 5K-row batch (~3.5s of fixed job/commit cost +
    signing), so it is ALSO measured at the largest ladder batch size —
    the number that predicts a production micro-batch."""
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from trialsync_etl_spark.operators.quality import not_null, unique
    from trialsync_etl_spark.streaming import structured

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    n_rows = docs.count()
    root = tempfile.mkdtemp(prefix="bench_stream_")
    out: dict[str, dict] = {}
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    try:
        landing = os.path.join(root, "landing")
        # 4 json files = the landing-zone page-file shape
        docs.repartition(4).write.mode("overwrite").json(landing)

        # warm the MinHash whole-stage codegen on a throwaway store: the
        # first compile of the wide signature expression tree costs tens
        # of seconds ONCE per JVM — a cluster pays it once per executor
        # lifetime, so the tracked number is steady-state throughput
        from trialsync_etl_spark.operators.dedup_store import (
            incremental_dup_pairs,
        )

        incremental_dup_pairs(
            spark, docs.limit(50), os.path.join(root, "warm_store"),
            batch_id="warm",
        ).count()

        out["stream_neardup_gate"] = _neardup_gate_rate(
            spark, docs, root, "1x"
        )

        # the exact-substring gate (r12 operator): verbatim-span trimming
        # against the persisted gram store at ingest cadence
        out["stream_substr_gate"] = _substr_gate_rate(
            spark, docs, root, "1x"
        )

        # the benchmark-decontamination gate (r11 operator): probe a
        # pre-built THREE-benchmark store — the multi-suite shape a real
        # eval battery has; the store build is untimed (once per
        # benchmark version, never per micro-batch)
        from trialsync_etl_spark.operators.decontam_store import (
            build_benchmark_store,
        )

        dc_store = os.path.join(root, "dc_store")
        for i, lo in enumerate((0, 100, 200)):
            build_benchmark_store(
                docs.filter(
                    (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 100)
                ),
                dc_store, f"suite-{i}", k=3, hash_fn="xxhash64",
            )
        out["stream_decontam_gate"] = _decontam_gate_rate(
            spark, docs, dc_store, root, "1x"
        )

        # the statistical-quality gate (r12 operator): perplexity banding
        # against the persisted LM store; the model build (doc_id<2000
        # reference slice, the ladder's t_ppl sizing) is untimed
        from trialsync_etl_spark.operators.lm_store import build_lm_model

        lm_root = os.path.join(root, "lm_store")
        build_lm_model(
            docs.filter(F.col("doc_id") < 2000), lm_root, "bench-v1"
        )
        out["stream_ppl_gate"] = _ppl_gate_rate(
            spark, docs, lm_root, root, "1x"
        )

        # the same gate at the largest ladder batch size: rows/s here is
        # the marginal-throughput number (fixed per-batch cost amortized)
        big_dir, big = None, 1
        if LADDER_SCALES.strip() not in ("", "0", "off"):
            big = max(int(s) for s in LADDER_SCALES.split(",") if s.strip())
            from trialsync_etl_spark.scale import ensure_scaled_dir

            cache_root = os.environ.get(
                "SPARK_GRAFT_SCALE_CACHE",
                os.path.join(
                    os.path.dirname(os.path.abspath(__file__)), ".scale_cache"
                ),
            )
            big_dir = ensure_scaled_dir(spark, sf_dir, cache_root, big)[0]
            big_docs = spark.read.parquet(
                os.path.join(big_dir, "documents.parquet")
            ).select("doc_id", "text")
            out[f"stream_neardup_gate_{big}x"] = _neardup_gate_rate(
                spark, big_docs, root, f"{big}x"
            )

        # the embedding-side twin: semantic near-dup gate against the
        # persisted ANN index (bootstrap build + probe in one pass here —
        # a steady-state deployment pays only the probe+append); also at
        # the largest ladder batch size, where the fixed per-batch cost
        # (bootstrap k-means + ~8 job submissions) amortizes
        emb = spark.read.parquet(
            os.path.join(sf_dir, "embeddings.parquet")
        ).select("vec_id", "embedding")
        out["stream_semdup_gate"] = _semdup_gate_rate(spark, emb, root, "1x")
        if big_dir is not None:
            # the batch-economics CURVE: the gate is per-batch-overhead
            # bound, so rows/s vs batch size (500 / 2K / 8K rows per
            # micro-batch at 1x/4x/16x — 4 landing files each) is the
            # number that predicts a production micro-batch; read the
            # three entries together, not the 1x point alone
            mids = sorted(
                int(s) for s in LADDER_SCALES.split(",") if s.strip()
            )[:-1]
            for m in mids:
                mid_dir = ensure_scaled_dir(spark, sf_dir, cache_root, m)[0]
                mid_emb = spark.read.parquet(
                    os.path.join(mid_dir, "embeddings.parquet")
                ).select("vec_id", "embedding")
                out[f"stream_semdup_gate_{m}x"] = _semdup_gate_rate(
                    spark, mid_emb, root, f"{m}x"
                )
            big_emb = spark.read.parquet(
                os.path.join(big_dir, "embeddings.parquet")
            ).select("vec_id", "embedding")
            out[f"stream_semdup_gate_{big}x"] = _semdup_gate_rate(
                spark, big_emb, root, f"{big}x"
            )
            # the gate under a planted ~20% embedding cone at the SAME
            # batch size: per-batch k-means assignment and history-probe
            # list pruning are the components a hot cone stresses (the
            # one benched component the batch skew ladder skips — a
            # skewed-gate rate within ~2x of the uniform 16x rate means
            # the bootstrap k-means split the cone into ordinary lists
            # instead of routing 20% of every batch into one list)
            if os.environ.get(
                "SPARK_GRAFT_LADDER_SKEW", "on"
            ).strip() not in ("", "0", "off"):
                from trialsync_etl_spark.scale import ensure_skewed_dir

                sk_dir, _ = ensure_skewed_dir(spark, sf_dir, cache_root, big)
                sk_emb = spark.read.parquet(
                    os.path.join(sk_dir, "embeddings.parquet")
                ).select("vec_id", "embedding")
                out["stream_semdup_gate_skew"] = _semdup_gate_rate(
                    spark, sk_emb, root, f"sk{big}x"
                )

        gate = structured.QualityGateStreamSink(
            os.path.join(root, "q_out"),
            [not_null("doc_id"), not_null("text"), unique("doc_id")],
            os.path.join(root, "q_quarantine"),
        )
        t0 = time.perf_counter()
        gate.attach(
            structured.read_landing_stream(spark, landing, schema),
            os.path.join(root, "q_ckpt"),
        )
        el = time.perf_counter() - t0
        out["stream_quality_gate"] = {
            "rows": n_rows, "sec": round(el, 3), "rows_per_s": round(n_rows / el)
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)
    for k, v in out.items():
        print(f"  {k}: {v['rows_per_s']} rows/s ({v['sec']}s)", file=sys.stderr)
    return out


#: degradation thresholds for the self-judging bench line: loadavg above
#: this at start, or the CPU probe this factor over the pinned quiet-host
#: timing (~71-80 ms across quiet rounds on this box), flags the record
DEGRADED_LOAD = 1.5
QUIET_CPU_MS = 80.0
DEGRADED_CPU_RATIO = 1.15
#: quiet-host pin for the 8-worker multi-core probe (measured on this
#: box across idle windows; see _mc_probe_ms — catches aggregate-cpu
#: steal the single-core probe cannot). NaN-safe: an environment where
#: the process pool is unavailable simply skips this check.
QUIET_MC_MS = 130.0
DEGRADED_MC_RATIO = 1.5


def _probe_work(steps: int = 300_000) -> float:
    """One fixed-work xorshift loop (module-level so a process pool can
    pickle it); returns its wall ms."""
    x = 88172645463325252
    t0 = time.perf_counter()
    for _ in range(steps):
        x ^= (x << 13) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 7
        x ^= (x << 17) & 0xFFFFFFFFFFFFFFFF
    return (time.perf_counter() - t0) * 1000.0


def _mc_probe_ms(workers: int = 8, steps: int = 300_000) -> float:
    """MULTI-core fixed-work probe: ``workers`` processes each run the
    single-core loop; returns the wall ms for all to finish. The r12
    lesson: hypervisor steal can throttle AGGREGATE cpu while a single
    busy core still runs clean (observed: single probe 83.5 ms ≈ quiet
    pin, guest load 0.02, yet every 32-thread Spark metric ~2× slow) —
    the single-core probe structurally cannot see "the host will give
    this guest 1 fast core but not 32". On an un-stolen many-core box
    the pool finishes in ≈ one worker's time + fork/schedule overhead;
    under multi-core steal the wall stretches toward workers × single.
    Uses processes, not threads (the loop is pure Python — the GIL would
    serialize threads and measure nothing)."""
    import concurrent.futures as cf

    try:
        with cf.ProcessPoolExecutor(max_workers=workers) as ex:
            t0 = time.perf_counter()
            list(ex.map(_probe_work, [steps] * workers))
            return (time.perf_counter() - t0) * 1000.0
    except Exception:  # noqa: BLE001 — a sandboxed env without fork must
        # not take down the bench; the single-core probe still guards
        return float("nan")


def _cpu_probe_ms(reps: int = 3, steps: int = 300_000) -> float:
    """Fixed-work single-core probe (pure-Python xorshift), min of
    ``reps`` timings in ms. Guest loadavg CANNOT see hypervisor-level
    contention (CPU steal on a shared host): a run can report load≈0 and
    still execute 2× slower. This probe's work is constant, so its
    timing inflates in proportion to whatever is throttling the vCPU —
    two bench records are comparable by their cpu_ms ratio even when
    both look idle, which is the adjudication the loadavg field alone
    could not close (observed this round: load 0.06 at start, every
    metric 2-2.5× slower, nothing in the guest process table)."""
    return min(_probe_work(steps) for _ in range(reps))


def _sample_host() -> tuple[float, float, float, bool]:
    """One (loadavg, cpu_probe_ms, mc_probe_ms, degraded?) sample. The
    degraded predicate ORs three independent views: guest load (our own
    processes / other guests' visible load), single-core fixed work
    (per-core steal/throttle), and 8-worker fixed work (AGGREGATE-cpu
    steal — the r12 storm ran the single probe at 83.5 ms ≈ quiet while
    32-thread Spark throughput halved)."""
    load1 = os.getloadavg()[0]
    cpu_ms = _cpu_probe_ms()
    mc_ms = _mc_probe_ms()
    degraded = bool(
        load1 > DEGRADED_LOAD
        or cpu_ms > DEGRADED_CPU_RATIO * QUIET_CPU_MS
        or (mc_ms == mc_ms and mc_ms > DEGRADED_MC_RATIO * QUIET_MC_MS)
    )
    return load1, cpu_ms, mc_ms, degraded


def wait_for_quiet(
    budget_s: float | None = None,
    poll_s: float | None = None,
    sleep=time.sleep,
    sample=_sample_host,
) -> tuple[float, float, float, float]:
    """Bounded wait for the host to go quiet BEFORE the timed run starts —
    the manual procedure every builder round used (this box shows phantom
    load/steal storms with ~10-minute quiet windows), automated so the
    OFFICIAL recorded line stops being contention-contaminated (it was,
    two driver rounds running). Polls the same (loadavg, single-core and
    multi-core fixed-work probes) triple the degraded flag judges;
    returns the LAST sample plus the seconds spent waiting. If the budget
    exhausts while still noisy, the run proceeds and the line carries
    ``degraded: true`` WITH the recorded wait — explicitly "best of
    exhausted retries", never a silent noisy record. Budget/poll via
    SPARK_GRAFT_QUIET_WAIT_S (default 420) / SPARK_GRAFT_QUIET_POLL_S
    (default 30); set the budget to 0 to opt out (e.g. iterating locally
    on a deliberately busy box)."""
    if budget_s is None:
        budget_s = float(os.environ.get("SPARK_GRAFT_QUIET_WAIT_S", "420"))
    if poll_s is None:
        poll_s = float(os.environ.get("SPARK_GRAFT_QUIET_POLL_S", "30"))
    waited = 0.0  # only sleep time counts: a clean first sample returns 0
    load1, cpu_ms, mc_ms, degraded = sample()
    while degraded and waited + poll_s <= budget_s:
        print(
            f"  host busy (load {load1:.2f}, cpu probe {cpu_ms:.1f} ms, "
            f"mc probe {mc_ms:.1f} ms) — waiting {poll_s:.0f}s for quiet "
            f"({waited:.0f}/{budget_s:.0f}s used)",
            file=sys.stderr,
        )
        sleep(poll_s)
        waited += poll_s
        load1, cpu_ms, mc_ms, degraded = sample()
    return load1, cpu_ms, mc_ms, waited


#: how many committed non-degraded snapshots the host band aggregates
#: over — a single best-window snapshot would make every future run read
#: "environment"; banding the per-query reference across snapshots taken
#: at different hours is what makes the comparator robust (r12 verdict
#: item 2)
HOST_BAND_SNAPSHOTS = 3


def host_band(
    times: dict[str, dict], ref_dir: str | None = None
) -> dict | None:
    """Self-reported host band: this run's per-query medians vs the BAND
    of the last ``HOST_BAND_SNAPSHOTS`` committed NOT-degraded
    BENCH_DETAIL_r*.json snapshots — per query, the reference is the
    MEDIAN across snapshots (one lucky or unlucky window cannot anchor
    the comparator), and the cross-check turns "every number moved 1.3x"
    from a phantom regression into an environment read without hand
    archaeology. The probe trio (load / single-core / 8-worker mc)
    structurally tolerates a steal band that still depresses 32-thread
    wall-clock 1.1-1.8x (calibrated quiet max 166.6 ms caps how tight
    the mc flag can be); comparing against the snapshot band catches
    exactly that. Returns {vs, n_snapshots, median_ratio, p90_ratio, n}
    or None (no usable snapshot). Informational — detail file only,
    never the line, never the degraded flag (a genuinely faster round
    would read <1.0)."""
    import glob
    import statistics as _stats

    ref_dir = ref_dir or os.path.dirname(os.path.abspath(__file__))
    snaps = sorted(glob.glob(os.path.join(ref_dir, "BENCH_DETAIL_r*.json")))
    refs: list[tuple[str, dict]] = []
    for snap in reversed(snaps):
        try:
            with open(snap) as f:
                ref = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        if ref.get("degraded"):
            continue
        refs.append((os.path.basename(snap), ref.get("queries", {})))
        if len(refs) >= HOST_BAND_SNAPSHOTS:
            break
    if not refs:
        return None
    # per query: median of the snapshot medians that carry it
    band: dict[str, float] = {}
    for name in times:
        vals = [
            q[name]["median"]
            for _, q in refs
            if name in q and q[name].get("median")
        ]
        if vals:
            band[name] = _stats.median(vals)
    ratios = sorted(
        times[name]["median"] / band[name] for name in band
    )
    if len(ratios) < 5:  # too few shared queries to mean anything
        return None
    return {
        "vs": [n for n, _ in refs],
        "n_snapshots": len(refs),
        "median_ratio": round(_stats.median(ratios), 2),
        "p90_ratio": round(ratios[int(0.9 * (len(ratios) - 1))], 2),
        "n": len(ratios),
    }


#: streaming entries measured every round and recorded IN FULL in the
#: detail file, but kept OFF the printed line (the ~1.8K driver-buffer
#: budget, the r11 verdict's "budget the overflow first" instruction):
#: the semdup batch-economics curve is bounded by its 1x and 16x
#: endpoints — the 4x midpoint is adjudication data, not a
#: round-over-round signal (the slot freed pays for stream_substr_gate);
#: the perplexity gate is one token join + aggregate whose cost the
#: t_ppl ladder already tracks on the line — its per-batch rate stays
#: measured every round in the detail artifact.
LINE_DETAIL_ONLY_STREAMING = {"stream_semdup_gate_4x", "stream_ppl_gate"}

#: ladder slopes measured every round but folded OUT of the printed line
#: (r14 budget surgery: the line hit 1779 of its ~1800-char contract
#: when t_kn5 joined): the r12 operators' slopes have been near-linear
#: and byte-stable for three rounds — the detail artifact keeps their
#: full {sec, rows, slope, slope_last} series every round.
#: r15: dedup_minhash_lsh retires from the PRINTED payload (slope_last
#: −0.03/−0.04/0.03 over r12–r14 — three rounds flat at zero; its 1×
#: median stays a headline query on the line) to fund t_crawl.
LINE_DETAIL_ONLY_LADDER = {"t_qmodel", "t_dstore", "dedup_minhash_lsh"}


def compact_line(
    total: float,
    times: dict[str, dict],
    streaming: dict[str, dict],
    ladder: dict | None,
    sf_val,
    n_failed: int,
    detail_name: str,
    load: float | None = None,
    cpu_ms: float | None = None,
    quiet_wait_s: float | None = None,
    degraded: bool | None = None,
    sentinel_flags: int = 0,
) -> str:
    """The ONE printed line, kept deliberately small: plain float medians
    per query (the r4 shape the recording driver demonstrably parses),
    streaming folded to rows/s, ladder folded to slope_last, the skew
    ladder folded to slope_last + the AQE-engagement bit. ``load`` is the
    1-minute host loadavg sampled BEFORE the run — the field that lets a
    reviewer adjudicate a round-over-round swing as host noise instead of
    re-running archaeology (three rounds of 20-30% phantom warehouse
    swings were exactly this). Everything else lives in the detail file."""
    payload: dict = {
        "metric": "headline_suite_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {name: round(t["median"], 2) for name, t in times.items()},
        "streaming": {
            k: v["rows_per_s"] for k, v in streaming.items()
            if k not in LINE_DETAIL_ONLY_STREAMING
        },
        "sf": sf_val,
        # NB: detail_name is deliberately NOT a payload field any more —
        # the "detail written to …" stderr note travels in the driver
        # record's tail, and the 31 chars buy line headroom at the full
        # 19-slope inventory (the r12 budget surgery)
    }
    if load is not None:
        payload["load"] = round(load, 2)
    if cpu_ms is not None:
        payload["cpu_ms"] = round(cpu_ms, 1)
    # the record judges itself: a run started on a contended host (prior
    # loadavg past DEGRADED_LOAD, or the fixed-work CPU probe more than
    # DEGRADED_CPU_RATIO over its pinned quiet-host value) is flagged in
    # the artifact, so a reader never needs a second file to know these
    # timings carry contention noise (r9: the driver's own bench ran at
    # load 2.25 and produced four phantom regressions)
    # the caller may pass the FULL verdict (start + mc probe + end-of-run
    # re-sample); the load/cpu fallback keeps old callers honest
    if degraded is None:
        degraded = bool(
            (load is not None and load > DEGRADED_LOAD)
            or (cpu_ms is not None
                and cpu_ms > DEGRADED_CPU_RATIO * QUIET_CPU_MS)
        )
    if degraded:
        payload["degraded"] = True
    # r14: how many headline queries finished with degraded per-query
    # environment evidence (sentinel re-trial ratio > 1.5 or mc probe
    # over band) — ONE short field; the per-query {sentinel_s, ratio,
    # mc_ms} records live in the detail file
    if sentinel_flags:
        payload["sentinel_flags"] = sentinel_flags
    # NB: quiet_wait_s no longer rides the line (r12 budget surgery —
    # at the full 19-slope inventory the worst case overflowed ~1.8K):
    # the "waited Ns for quiet" stderr note travels in the driver
    # record's tail and the detail file carries the field, so the
    # exhausted-vs-worked read survives without the 23 chars. The
    # parameter stays accepted so callers need not change.
    del quiet_wait_s
    # line slopes fold at 2 dp — the ≤1.2 near-linear bar needs no third
    # decimal, and at the full 19-slope inventory the third digit alone
    # is ~20 chars of the ~1.8K budget (the r12 line measured 1810 with
    # 3 dp reals — the fixture's 3-char "0.5" placeholders had underpriced
    # it); the detail file keeps slope AND slope_last at 3 dp
    def _fold(e: dict):
        if "error" in e:
            return "err"
        s = e.get("slope_last")
        return round(s, 2) if isinstance(s, float) else s

    if ladder is not None:
        payload["ladder"] = {
            name: _fold(e) for name, e in ladder["queries"].items()
            if name not in LINE_DETAIL_ONLY_LADDER
        }
        skew = ladder.get("skew")
        if skew:
            payload["skew"] = {
                name: _fold(e) for name, e in skew["queries"].items()
            }
            payload["skew"]["aqe"] = skew.get("aqe_skew_join")
    # a partially failed build must not masquerade as a fast one: annotate
    # the JSON (main() also exits non-zero) so the record is visibly invalid
    if n_failed:
        payload["warehouse_build_failed_transforms"] = n_failed
    return json.dumps(payload)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # sampled BEFORE the JVM spins up: the host's pre-existing load is the
    # noise source the record needs to carry (our own run inflates the
    # 1-minute average within seconds). A degraded sample first waits —
    # bounded — for the host to go quiet; see wait_for_quiet.
    load1, cpu_ms, mc_ms, quiet_wait_s = wait_for_quiet()
    print(
        f"  host loadavg(1m) at start: {load1:.2f}; "
        f"cpu probe: {cpu_ms:.1f} ms; mc probe: {mc_ms:.1f} ms"
        + (f"; waited {quiet_wait_s:.0f}s for quiet" if quiet_wait_s >= 1
           else ""),
        file=sys.stderr,
    )
    registry.load_all()
    spark = get_spark(app_name="trialsync-bench")

    # MID-RUN host sampling at section boundaries: the r13d record
    # sampled quiet at BOTH endpoints while every wall-clock number sat
    # 1.8× the committed band — the steal band lived entirely between
    # the two probe instants. Probes only (the loadavg carries our own
    # just-finished stages); any flagged section marks the record
    # degraded, and the per-section trace rides the detail file so a
    # reviewer can see WHICH sections the storm touched.
    midrun: list[dict] = []

    def note_host(tag: str) -> None:
        cpu = _cpu_probe_ms()
        mc = _mc_probe_ms()
        deg = bool(
            cpu > DEGRADED_CPU_RATIO * QUIET_CPU_MS
            or (mc == mc and mc > DEGRADED_MC_RATIO * QUIET_MC_MS)
        )
        midrun.append(
            {"at": tag, "cpu_ms": round(cpu, 1), "mc_ms": round(mc, 1),
             "degraded": deg}
        )
        if deg:
            print(
                f"  host after {tag}: cpu probe {cpu:.1f} ms, mc probe "
                f"{mc:.1f} ms — DEGRADED section",
                file=sys.stderr,
            )

    # warm the JVM + parquet footers so per-query times measure the plans
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    # PER-QUERY storm attribution (r14): section-boundary sampling can
    # bracket a storm to a section but not to a query — the judge's r13
    # run watched the host swing 4× BETWEEN sections of one run. After
    # every headline query, re-run ONE trial of the byte-stable sentinel
    # (a1 — unchanged for 3+ rounds) and one mc probe, and record
    # {sentinel_s, sentinel_ratio, mc_ms} on the query's entry:
    # sentinel_ratio prices the environment AT THE MOMENT the query
    # finished, in units of this run's own noise floor (a1's min). A
    # query whose wall-clock looks regressed while its sentinel_ratio
    # reads ≫1 carries its own environment evidence. The sentinel runs
    # OUTSIDE the timed trials — medians stay comparable across rounds.
    times: dict[str, dict] = {}
    sentinel_name = "a1_pricing_summary"
    sentinel_fn = registry.QUERIES[sentinel_name]
    sentinel_base: float | None = None
    for name in HEADLINE:
        fn = registry.QUERIES[name]
        times[name] = _trials(lambda: fn(spark, sf_dir).count(), QUERY_TRIALS)
        extra = ""
        if name == sentinel_name:
            sentinel_base = times[name]["min"]
        else:
            t0 = time.perf_counter()
            sentinel_fn(spark, sf_dir).count()
            s_t = time.perf_counter() - t0
            mc = _mc_probe_ms()
            entry = times[name]
            entry["sentinel_s"] = round(s_t, 3)
            entry["mc_ms"] = round(mc, 1)
            if sentinel_base:
                # provisional (vs a1's own min); the post-pass below
                # renormalizes every ratio against the run's floor
                ratio = round(s_t / sentinel_base, 2)
                extra = f" [sentinel {ratio}x, mc {mc:.0f} ms]"
        print(f"  {name}: {times[name]['median']}s median "
              f"(min {times[name]['min']}, n={times[name]['trials']})"
              + extra,
              file=sys.stderr)
    # normalize ratios against the RUN's observed sentinel floor: a1's
    # own first trials carry JVM warm-up (codegen compilation), so the
    # live ratio above reads ~0.6-0.7 on a quiet host and a 1.5x flag
    # threshold against that inflated base UNDER-flags; the floor is the
    # fastest sentinel the run ever saw — the honest quiet reference
    floors = [
        e["sentinel_s"] for e in times.values() if "sentinel_s" in e
    ]
    sentinel_floor = min(floors) if floors else None
    sentinel_flags = 0
    for e in times.values():
        if "sentinel_s" not in e or not sentinel_floor:
            continue
        e["sentinel_ratio"] = round(e["sentinel_s"] / sentinel_floor, 2)
        flagged = bool(
            e["sentinel_ratio"] > 1.5
            or e["mc_ms"] > DEGRADED_MC_RATIO * QUIET_MC_MS
        )
        e.pop("env_degraded", None)
        if flagged:
            e["env_degraded"] = True
            sentinel_flags += 1
    note_host("headline")

    import shutil
    import tempfile

    # persisted-ANN probe: the index is an artifact — built once (outside
    # the timed region, like the warehouse dims it resembles), probed per
    # trial. The timed number is the retrieval path a 100 TB deployment
    # pays per batch: partition-pruned coarse scan + rerank.
    from trialsync_etl_spark.operators.ann_store import build_ann_index, query_ann_index

    idx_dir = tempfile.mkdtemp(prefix="bench_ann_")
    try:
        emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
        build_ann_index(emb, os.path.join(idx_dir, "idx"), n_lists=16,
                        id_col="vec_id", vec_col="embedding")
        probes = emb.limit(32).select("vec_id", "embedding").localCheckpoint()
        times["ann_index_probe"] = _trials(
            lambda: query_ann_index(
                spark, os.path.join(idx_dir, "idx"), probes, k=10, n_probe=4
            ).count(),
            QUERY_TRIALS,
        )
        print(f"  ann_index_probe: {times['ann_index_probe']['median']}s median",
              file=sys.stderr)
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)

    # sketch rollup store: the fold is the per-ingest cost (one hash
    # aggregate over the slice), the estimate is the query-time cost a
    # dashboard pays (kilobyte sketch rows, never the raw table)
    from trialsync_etl_spark.operators.sketch_store import (
        append_sketch_rollup,
        estimate_rollup,
    )

    sk_dir = tempfile.mkdtemp(prefix="bench_sk_")
    try:
        ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        fold_n = [0]

        def fold():
            fold_n[0] += 1
            append_sketch_rollup(
                ev, os.path.join(sk_dir, "store"), ["event_type"],
                ["user_id", "event_id"], batch_id=f"bench-{fold_n[0]}",
            )

        times["sketch_rollup_fold"] = _trials(fold, QUERY_TRIALS)
        times["sketch_estimate"] = _trials(
            lambda: estimate_rollup(
                spark, os.path.join(sk_dir, "store"), ["event_type"]
            ).count(),
            QUERY_TRIALS,
        )
        print(
            f"  sketch_rollup_fold: {times['sketch_rollup_fold']['median']}s "
            f"median; sketch_estimate: {times['sketch_estimate']['median']}s",
            file=sys.stderr,
        )
    finally:
        shutil.rmtree(sk_dir, ignore_errors=True)

    # The BASELINE-equivalent metric: the full warehouse build (10-dim +
    # 6-fact master chains, transformation_procedures.txt:3-275 analog).
    # The reference's recoverable baseline is ~5.8M Bronze rows through its
    # dim/fact procedures in ~45 min; this is the same work shape at the
    # bench SF. Dim and fact chains are timed separately per trial (the
    # round-4 review couldn't attribute a total swing to either chain).
    from trialsync_etl_spark import transforms
    from trialsync_etl_spark.transforms import WarehouseContext, run_chain

    transforms.load_all()
    wh = tempfile.mkdtemp(prefix="bench_wh_")
    n_failed = 0
    try:
        ctx = WarehouseContext(sf_dir=sf_dir, warehouse_dir=wh)
        dim_s, fact_s, total_s = [], [], []
        for _ in range(CHAIN_TRIALS):
            t0 = time.perf_counter()
            res = run_chain(spark, "load_all_new_dimensions", ctx)
            t1 = time.perf_counter()
            res += run_chain(spark, "load_all_new_facts", ctx)
            t2 = time.perf_counter()
            dim_s.append(t1 - t0)
            fact_s.append(t2 - t1)
            total_s.append(t2 - t0)
            n_failed += sum(1 for r in res if r.status != "success")
        for key, samples in (("warehouse_build_dim_chain", dim_s),
                             ("warehouse_build_fact_chain", fact_s),
                             ("warehouse_build_total", total_s)):
            times[key] = {
                "median": round(statistics.median(samples), 3),
                "min": round(min(samples), 3),
                "trials": CHAIN_TRIALS,
            }
        # the same build with an explicit 4-wide worker pool — wall
        # approaches the longest member
        par_res: list = []
        times["warehouse_build_parallel"] = _trials(
            lambda: par_res.extend(
                run_chain(spark, "load_all_new_dimensions", ctx, max_parallel=4)
                + run_chain(spark, "load_all_new_facts", ctx, max_parallel=4)
            ),
            CHAIN_TRIALS,
        )
        n_failed += sum(1 for r in par_res if r.status != "success")

        # post-load DQ suite (verify_warehouse chain) on the built tables
        verify_res: list = []
        verify = _trials(
            lambda: verify_res.extend(run_chain(spark, "verify_warehouse", ctx)),
            CHAIN_TRIALS,
        )
        n_failed += sum(1 for r in verify_res if r.status != "success")
        times["warehouse_verify_chain"] = verify
        print(
            f"  warehouse_build_total: {times['warehouse_build_total']['median']}s "
            f"median (dims {times['warehouse_build_dim_chain']['median']}s + "
            f"facts {times['warehouse_build_fact_chain']['median']}s; "
            f"parallel {times['warehouse_build_parallel']['median']}s; "
            f"verify {verify['median']}s; {n_failed} failed)",
            file=sys.stderr,
        )
    finally:
        shutil.rmtree(wh, ignore_errors=True)
    note_host("warehouse")

    # streaming gate throughput (rows/s) — bounded, availableNow batches
    streaming = _streaming_bench(spark, sf_dir)
    note_host("streaming")

    # measured wall-vs-rows slopes at 1×/4×/16× the bench volume — the
    # empirical backing for the plan-shape scale claims
    ladder = _scale_ladder(spark, sf_dir)
    note_host("ladder")

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # the suite total stays the sum of the HEADLINE query medians so it is
    # comparable round-over-round; warehouse/ann entries are their own
    # named metrics, not folded in
    total = sum(times[n]["median"] for n in HEADLINE)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # Full detail ({median,min,trials} per query, per-point ladder secs,
    # streaming rows) goes to a FILE; the printed line stays COMPACT. The
    # driver that records the one-line JSON failed to parse it for two
    # rounds once the payload grew past ~2K chars (r4's 714-char line of
    # plain floats parsed; r5/r6's nested dicts did not), so the printed
    # contract is back to the original shape — ``queries`` as plain float
    # medians — with streaming folded to rows/s and the ladder to its
    # slope_last exponents.
    # END-of-run host re-sample: the r12 storm PASSED the start gate
    # (probe 83.5 ms) and intensified mid-run (100+ ms by the end) — a
    # record is only trustworthy when BOTH endpoints sampled quiet. The
    # end predicate uses the PROBES only: the 1-minute loadavg still
    # carries the bench's own just-finished Spark stages (recorded for
    # the reader, never flagged on), while the fixed-work probes measure
    # this instant.
    load_end, cpu_ms_end, mc_ms_end, _ = _sample_host()
    end_degraded = bool(
        cpu_ms_end > DEGRADED_CPU_RATIO * QUIET_CPU_MS
        or (mc_ms_end == mc_ms_end
            and mc_ms_end > DEGRADED_MC_RATIO * QUIET_MC_MS)
    )
    print(
        f"  host at end: load {load_end:.2f}; cpu probe {cpu_ms_end:.1f} ms;"
        f" mc probe {mc_ms_end:.1f} ms"
        + (" — DEGRADED mid-run" if end_degraded else ""),
        file=sys.stderr,
    )
    detail = {
        "metric": "headline_suite_total",
        "value": round(total, 3),
        "unit": "sec",
        "load": round(load1, 2),
        "cpu_ms": round(cpu_ms, 1),
        "mc_ms": round(mc_ms, 1),
        "load_end": round(load_end, 2),
        "cpu_ms_end": round(cpu_ms_end, 1),
        "mc_ms_end": round(mc_ms_end, 1),
        "quiet_wait_s": round(quiet_wait_s, 1),
        "sentinel_base_s": sentinel_base,
        "sentinel_floor_s": sentinel_floor,
        "queries": times,
        "streaming": streaming,
        "sf": sf_val,
    }
    if sentinel_flags:
        detail["sentinel_flags"] = sentinel_flags
    start_degraded = bool(
        load1 > DEGRADED_LOAD
        or cpu_ms > DEGRADED_CPU_RATIO * QUIET_CPU_MS
        or (mc_ms == mc_ms and mc_ms > DEGRADED_MC_RATIO * QUIET_MC_MS)
    )
    mid_degraded = any(s["degraded"] for s in midrun)
    detail["host_midrun"] = midrun
    if start_degraded or end_degraded or mid_degraded:
        detail["degraded"] = True
    band = host_band(times)
    if band is not None:
        detail["host_band"] = band
    if ladder is not None:
        detail["scale_ladder"] = ladder
    if n_failed:
        detail["warehouse_build_failed_transforms"] = n_failed
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_DETAIL.json"),
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    print(f"  detail written to {detail_path}", file=sys.stderr)

    line = compact_line(
        total, times, streaming, ladder, sf_val, n_failed,
        os.path.basename(detail_path), load=load1, cpu_ms=cpu_ms,
        quiet_wait_s=quiet_wait_s,
        degraded=(start_degraded or end_degraded or mid_degraded) or None,
        sentinel_flags=sentinel_flags,
    )
    if len(line) > 1800:  # the practical driver-buffer contract is ~2K
        print(f"  WARNING: bench line is {len(line)} chars — the driver "
              "failed to parse lines past ~2K; trim the payload",
              file=sys.stderr)
    print(line)
    spark.stop()
    if n_failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
