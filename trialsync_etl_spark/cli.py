"""CLI control plane (C7): run / status / history / list-jobs / transform.

Mirrors the reference CLI surface (ref: src/cli/main.py:42-427) over the
engine's job catalog, orchestrator, run log, and transformation registry.
Built on argparse (no external CLI dependency); every command is a plain
function so the REST layer can reuse them.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from trialsync_etl_spark import jobs as jobs_mod
from trialsync_etl_spark.jobs import DEMO_CATALOG, JobSpec, load_catalog, to_graph
from trialsync_etl_spark.metrics import MetricsRegistry
from trialsync_etl_spark.orchestrator import execute_dag
from trialsync_etl_spark.runs import RunLog


def _catalog(args) -> list[JobSpec]:
    if getattr(args, "catalog", None):
        return load_catalog(args.catalog)
    return list(DEMO_CATALOG)


def _noop_runner(job):  # default runner: real deployments inject ingestion
    return {"job": job.name, "records": 0}


def cmd_list_jobs(args, out=sys.stdout) -> int:
    catalog = _catalog(args)
    for j in catalog:
        flag = "*" if j.active else " "
        param = f" param={j.parameterized_by}" if j.parameterized_by else ""
        out.write(f"{flag} [{j.job_id:>4}] {j.name:<24} -> {j.target_table}{param}\n")
    out.write(json.dumps(jobs_mod.stats(catalog)) + "\n")
    return 0


def cmd_run(args, out=sys.stdout, runner=_noop_runner) -> int:
    catalog = _catalog(args)
    run_log = RunLog(args.run_log)
    metrics = MetricsRegistry()

    if args.job_id is not None:
        catalog = [j for j in catalog if j.job_id == args.job_id]
        if not catalog:
            out.write(f"job {args.job_id} not found\n")
            return 2
        if not catalog[0].active:
            out.write(f"job {args.job_id} is inactive\n")
            return 2

    graph = to_graph(tuple(catalog))
    by_id = {j.job_id: j for j in catalog}

    def run_one(node):
        spec = by_id[node.job_id]
        rec = run_log.create(spec.name)
        t0 = time.monotonic()
        try:
            result = runner(spec)
            records = int(result.get("records", 0)) if isinstance(result, dict) else 0
            run_log.update(rec, "success", records_loaded=records)
            metrics.record_job(spec.name, "success", time.monotonic() - t0, records)
            return result
        except Exception as exc:
            run_log.update(rec, "failed", error=str(exc))
            metrics.record_job(spec.name, "failed", time.monotonic() - t0)
            raise

    results = execute_dag(graph, run_one, max_parallel=args.max_parallel)
    summary = {
        "success": sum(1 for r in results.values() if r.status == "success"),
        "failed": sum(1 for r in results.values() if r.status == "failed"),
        "skipped": sum(1 for r in results.values() if r.status == "skipped"),
    }
    out.write(json.dumps(summary) + "\n")
    return 0 if summary["failed"] == 0 else 1


def cmd_status(args, out=sys.stdout) -> int:
    run_log = RunLog(args.run_log)
    for row in run_log.success_rate():
        out.write(json.dumps(row) + "\n")
    return 0


def cmd_history(args, out=sys.stdout) -> int:
    run_log = RunLog(args.run_log)
    for row in run_log.history(job_name=args.job, limit=args.limit):
        out.write(json.dumps(row) + "\n")
    return 0


def cmd_transform(args, out=sys.stdout) -> int:
    from trialsync_etl_spark import transforms
    from trialsync_etl_spark.session import get_spark
    from trialsync_etl_spark.transforms import (
        WarehouseContext,
        run_chain,
        run_transform,
    )

    transforms.load_all()
    # safety rail BEFORE the SparkSession spins up: --max-parallel on a
    # dependency-ordered chain would silently race cross-step
    # dependencies (verify reads what load wrote; maintenance steps
    # share fact_orders) — refuse with a distinct exit code instead of
    # relying on help text
    if (
        args.chain
        and args.max_parallel > 1
        and args.name in transforms.CHAINS
        and args.name not in transforms.PARALLEL_SAFE_CHAINS
    ):
        out.write(
            f"chain {args.name!r} has cross-step dependencies and is not "
            "parallel-safe; drop --max-parallel (sequential) or run an "
            "explicit independent subset\n"
        )
        return 2
    spark = get_spark(app_name="trialsync-cli")
    ctx = WarehouseContext(sf_dir=args.sf_dir, warehouse_dir=args.warehouse_dir)
    if args.chain:
        # the default width 1 keeps the runner's own policy
        results = run_chain(
            spark, args.name, ctx,
            max_parallel=args.max_parallel if args.max_parallel > 1 else None,
        )
    else:
        results = [run_transform(spark, args.name, ctx)]
    ok = True
    for r in results:
        out.write(
            json.dumps(
                {"name": r.name, "status": r.status, "rows": r.rows,
                 "duration_s": round(r.duration_s, 3), "error": r.error}
            )
            + "\n"
        )
        ok = ok and r.status == "success"
    return 0 if ok else 1


def cmd_compact(args, out=sys.stdout) -> int:
    """Maintenance: size-targeted small-file compaction of one table."""
    from trialsync_etl_spark.session import get_spark
    from trialsync_etl_spark.storage import compact_table

    spark = get_spark(app_name="trialsync-cli")
    stats = compact_table(
        spark,
        args.path,
        target_file_bytes=args.target_mb << 20,
        partition_by=tuple(args.partition_by.split(",")) if args.partition_by else (),
    )
    out.write(json.dumps(stats) + "\n")
    return 0


def cmd_explain(args, out=sys.stdout) -> int:
    """Print a registry query's formatted physical plan plus the summary
    counters PLANS.md tracks (exchanges, broadcasts, scans, python
    stages) — plan quality as a first-class ops surface."""
    from trialsync_etl_spark.plans import registry
    from trialsync_etl_spark.plans.explain import plan_text, summarize
    from trialsync_etl_spark.session import get_spark

    registry.load_all()
    if args.query not in registry.QUERIES:
        out.write(f"unknown query: {args.query}\n")
        close = [n for n in sorted(registry.QUERIES) if args.query in n]
        if close:
            out.write("did you mean: " + ", ".join(close[:8]) + "\n")
        return 2
    spark = get_spark(app_name="trialsync-cli")
    df = registry.QUERIES[args.query](spark, args.sf_dir)
    # the SAME helpers dump_plans.py uses for PLANS.md — the CLI's counters
    # and the recorded plan audits can't diverge
    plan = plan_text(df)
    out.write(plan)
    out.write(json.dumps({"query": args.query, **summarize(plan)}) + "\n")
    return 0


def cmd_release(args, out=sys.stdout) -> int:
    """One-command training-data release: curation funnel (clean → quality
    filter → exact + near dedup → optional decontamination) → hash-sharded
    JSONL export with manifest → transfer-integrity verify → per-source
    dataset card. Everything lands under OUT: `shards/` + `_manifest.json`,
    `card.json`, `funnel.json`. Exit 1 if the written shards fail the
    manifest re-verify — a release that can't prove its own integrity is
    not a release.

    ``--warehouse DIR --sf-dir DIR`` turns the release into a full
    REHEARSAL: after the corpus artifacts land, the warehouse chains
    build from cold into DIR (dims → facts → verify, landing the
    dq_report), and the alert rules are evaluated over the run log + the
    fresh report. The exit code then demands everything green — the
    one-command answer to "could we ship today from scratch".

    ``--drift-check PATH=ENTITY`` (repeatable) gates the rehearsal on the
    Bronze contract: any payload key unknown to the pinned entity schema
    is a red release (the drift the reference's loaders would silently
    drop). ``--maintain`` runs the nightly `maintain_warehouse` chain
    after the build and re-verifies — shipping also rehearses the storage
    upkeep the warehouse will live under."""
    import os

    from trialsync_etl_spark.operators.curate import curate_corpus
    from trialsync_etl_spark.operators.datacard import dataset_card
    from trialsync_etl_spark.operators.export import (
        export_jsonl_shards,
        verify_manifest,
    )
    from trialsync_etl_spark.operators.sampling import hash_sample
    from trialsync_etl_spark.session import get_spark

    if args.warehouse and not args.sf_dir:
        # usage error BEFORE spinning up Spark (cf. cmd_sketch)
        out.write("release --warehouse requires --sf-dir\n")
        return 2
    if args.maintain and not args.warehouse:
        out.write("release --maintain requires --warehouse\n")
        return 2
    perplexity_band = None
    if args.perplexity_band:
        try:
            lo, hi = (float(x) for x in args.perplexity_band.split(":"))
        except ValueError:
            # usage error BEFORE spinning up Spark (cf. cmd_sketch)
            out.write("release --perplexity-band expects LO:HI floats\n")
            return 2
        perplexity_band = (lo, hi)
    if args.perplexity_store:
        # store-backed band (operators/lm_store.py): usage errors BEFORE
        # spinning up Spark, matching the other release rails
        if not args.perplexity_model or perplexity_band is None:
            out.write(
                "release --perplexity-store requires --perplexity-model "
                "and --perplexity-band\n"
            )
            return 2
        if args.perplexity_ref:
            out.write(
                "release: pass --perplexity-ref (train this run) OR "
                "--perplexity-store (persisted model), not both\n"
            )
            return 2
    spark = get_spark(app_name="trialsync-cli")
    if args.input_format == "warc":
        # the crawl path end-to-end: WARC container → (doc_id, url,
        # html); implies the HTML stage zero (there is no text column
        # to curate otherwise)
        from trialsync_etl_spark.sources.warc import read_warc

        docs = read_warc(spark, args.input).select(
            "doc_id", "url", "html"
        )
        args.html_extract = True
    else:
        docs = spark.read.parquet(args.input)
    benchmark = (
        hash_sample(docs, "doc_id", args.benchmark_fraction,
                    salt="release-benchmark")
        if args.benchmark_fraction
        else None
    )
    if benchmark is not None and args.html_extract and (
        "text" not in benchmark.columns
    ):
        # the slice was sampled BEFORE the funnel's HTML stage zero
        # (warc input, or any corpus carrying html instead of text):
        # decontamination shingles the benchmark's text column, so run
        # the same extraction on the sample first
        from pyspark.sql import functions as F

        from trialsync_etl_spark.operators import htmlextract

        benchmark = (
            benchmark.withColumn(
                "text", htmlextract.extract_main_text(F.col("html"))
            )
            .drop("html")
            .filter(F.length("text") > 0)
        )
    embeddings = spark.read.parquet(args.embeddings) if args.embeddings else None
    quality_model = None
    if args.quality_model:
        from trialsync_etl_spark.operators.quality_model import (
            DEFAULT_QUALITY_MODEL,
            QualityModel,
        )

        quality_model = (
            DEFAULT_QUALITY_MODEL
            if args.quality_model == "default"
            else QualityModel.load(args.quality_model)
        )
    langid_model = None
    if args.langid_model and args.langid_model != "default":
        from trialsync_etl_spark.operators.langid import LangIdModel

        langid_model = LangIdModel.load(args.langid_model)
    url_blocklist = None
    if args.url_blocklist:
        from trialsync_etl_spark.operators.urlcurate import (
            DEFAULT_BLOCKLIST,
            load_blocklist_file,
        )

        url_blocklist = (
            DEFAULT_BLOCKLIST
            if args.url_blocklist == "default"
            else load_blocklist_file(args.url_blocklist)
        )
    result = curate_corpus(
        docs, benchmark=benchmark, embeddings=embeddings,
        url_blocklist=url_blocklist,
        max_per_domain=args.max_per_domain,
        html_extract=args.html_extract,
        script_aware=args.script_aware,
        c4_clean=args.c4_clean,
        gopher_rules=args.gopher_rules,
        allowed_langs=(
            tuple(args.langs.split(",")) if args.langs else None
        ),
        langid_model=langid_model,
        quality_model=quality_model,
        min_quality_score=args.min_quality_score,
        perplexity_band=perplexity_band,
        perplexity_ref=(
            spark.read.parquet(args.perplexity_ref)
            if args.perplexity_ref else None
        ),
        perplexity_store=(
            (args.perplexity_store, args.perplexity_model)
            if args.perplexity_store else None
        ),
        perplexity_lam=args.perplexity_lam,
        substring_dedup=args.substring_dedup,
        substring_min_len=args.substring_min_len,
    )
    funnel = result.funnel_counts()

    os.makedirs(args.out, exist_ok=True)
    shards_dir = os.path.join(args.out, "shards")
    manifest = export_jsonl_shards(result.corpus, shards_dir, args.n_shards)
    n_docs = int(sum(r["n_docs"] for r in manifest.collect()))
    bad = verify_manifest(spark, shards_dir).count()

    card_rows = []
    if "source" in result.corpus.columns and "lang" in result.corpus.columns:
        card_rows = [r.asDict() for r in
                     dataset_card(result.corpus,
                                  script_aware=args.script_aware)
                     .orderBy("source").collect()]
        with open(os.path.join(args.out, "card.json"), "w") as f:
            json.dump(card_rows, f)
    if "url" in result.corpus.columns:
        # the domain-level complement of the per-source card: which
        # registrable domains dominate the released corpus (top 50)
        from pyspark.sql import functions as F

        from trialsync_etl_spark.operators.urlcurate import domain_mix

        mix_rows = [
            r.asDict()
            for r in domain_mix(result.corpus)
            .orderBy(F.col("n_docs").desc(), "domain")
            .limit(50)
            .collect()
        ]
        with open(os.path.join(args.out, "domain_mix.json"), "w") as f:
            json.dump(mix_rows, f)
    with open(os.path.join(args.out, "funnel.json"), "w") as f:
        json.dump(funnel, f)
    result.unpersist()

    payload = {
        "funnel": funnel, "n_docs_exported": n_docs,
        "n_shards": args.n_shards, "verified": bad == 0,
        "card_sources": len(card_rows),
    }
    red = bad != 0
    if args.warehouse:
        from trialsync_etl_spark import transforms
        from trialsync_etl_spark.alerts import evaluate_alerts
        from trialsync_etl_spark.runs import RunLog
        from trialsync_etl_spark.storage import read_published_pylist
        from trialsync_etl_spark.transforms import WarehouseContext, run_chain

        transforms.load_all()
        # a release configured with the stored-LM band also hands the
        # model to the maintenance chain, so a --maintain rehearsal runs
        # check_perplexity_drift against the SAME model the funnel
        # banded with (otherwise the member is its documented no-op)
        ctx_options = {}
        if args.perplexity_store:
            ctx_options = {
                "lm_store": args.perplexity_store,
                "lm_model_id": args.perplexity_model,
            }
        ctx = WarehouseContext(
            sf_dir=args.sf_dir, warehouse_dir=args.warehouse,
            options=ctx_options,
        )
        res = []
        n_parallel = getattr(args, "parallel", 1) or 1
        # --parallel N sets the load chains' pool width (both are in
        # PARALLEL_SAFE_CHAINS); the verify chain that follows reads
        # every built table, so a thread-unsafe transform surfaces here,
        # in rehearsal, not in production
        for chain in ("load_all_new_dimensions", "load_all_new_facts"):
            res += run_chain(
                spark, chain, ctx,
                max_parallel=n_parallel if n_parallel > 1 else None,
            )
        res += run_chain(spark, "verify_warehouse", ctx)
        n_failed = sum(1 for r in res if r.status != "success")
        dq_missing = False
        try:
            dq = read_published_pylist(os.path.join(args.warehouse, "dq_report"))
        except FileNotFoundError:
            # a failed dims/facts transform can abort the chain before
            # verify_warehouse lands dq_report; the rehearsal must still
            # emit its JSON verdict (a missing report is itself red, on
            # top of whatever n_failed flags) rather than traceback
            dq = []
            dq_missing = True
        dq_red = [r for r in dq if not r.get("passed", True)]
        alerts = evaluate_alerts(
            RunLog(args.run_log), warehouse_dir=args.warehouse
        )
        payload["warehouse"] = {
            "transforms": len(res),
            "parallel": n_parallel,
            "failed_transforms": n_failed,
            "dq_checks": len(dq),
            "dq_failed": len(dq_red),
            "dq_report_missing": dq_missing,
            "alerts_quiet": not alerts,
        }
        red = red or n_failed or dq_red or dq_missing or alerts
        if args.maintain:
            # the warehouse will live under the nightly maintenance chain
            # — rehearse that too: compaction/z-order/store folds must
            # leave the freshly-verified warehouse verifiable
            maint = run_chain(spark, "maintain_warehouse", ctx)
            m_failed = sum(1 for r in maint if r.status != "success")
            post = run_chain(spark, "verify_warehouse", ctx)
            p_failed = sum(1 for r in post if r.status != "success")
            try:
                dq2 = read_published_pylist(
                    os.path.join(args.warehouse, "dq_report")
                )
            except FileNotFoundError:
                dq2 = []
                p_failed = p_failed or 1
            dq2_red = [r for r in dq2 if not r.get("passed", True)]
            payload["maintenance"] = {
                "transforms": len(maint),
                "failed_transforms": m_failed,
                "post_verify_failed": p_failed,
                "post_dq_failed": len(dq2_red),
            }
            red = red or m_failed or p_failed or dq2_red
    if args.drift_check:
        from trialsync_etl_spark.operators.drift import schema_drift_report

        drift: dict[str, list[str]] = {}
        for spec in args.drift_check:
            path, _, entity = spec.partition("=")
            if not entity:
                out.write(f"--drift-check wants PATH=ENTITY, got {spec!r}\n")
                return 2
            rows = schema_drift_report(
                spark.read.parquet(path), entity
            ).collect()
            drift[entity] = sorted(
                r.key for r in rows if r.status == "unknown"
            )
        payload["drift"] = drift
        # an unknown Bronze payload key is data the pinned schema would
        # silently drop — a red release, same as a failed DQ check
        red = red or any(drift.values())
    out.write(json.dumps(payload) + "\n")
    return 0 if not red else 1


def cmd_ann(args, out=sys.stdout) -> int:
    """Persisted ANN index (operators/ann_store.py) from the command
    line: `build` trains + publishes, `append` ingests a batch under the
    existing centroids, `query` retrieves top-k neighbors, `ingest` runs
    the semantic near-dup gate (probe history + within batch, then
    append — `incremental_semantic_dups`), `compact` heals replayed
    appends, `rebuild` retrains at √N lists if appends drifted the
    index past balance (`rebuild_ann_index_if_oversized` — the nightly
    maintain step, exposed for manual runs). The embedding-side analog
    of the `sketch` store commands."""
    import math

    from trialsync_etl_spark.operators.ann_store import (
        append_to_ann_index,
        build_ann_index,
        compact_ann_index,
        incremental_semantic_dups,
        query_ann_index_with_retry,
        rebuild_ann_index_if_oversized,
    )
    from trialsync_etl_spark.session import get_spark

    needs_input = args.action in ("build", "append", "query", "ingest")
    missing = []
    if needs_input and not args.input:
        missing.append("--input")
    if args.action in ("append", "ingest") and not args.batch_id:
        missing.append("--batch-id")
    if missing:
        out.write(f"ann {args.action} requires {', '.join(missing)}\n")
        return 2
    spark = get_spark(app_name="trialsync-cli")
    if args.action == "build":
        emb = spark.read.parquet(args.input)
        n_lists = args.n_lists or max(4, int(math.sqrt(emb.count())))
        meta = build_ann_index(
            emb, args.index, n_lists=n_lists,
            id_col=args.id_col, vec_col=args.vec_col,
        )
        out.write(json.dumps(meta) + "\n")
    elif args.action == "append":
        meta = append_to_ann_index(
            spark.read.parquet(args.input), args.index,
            batch_id=args.batch_id, id_col=args.id_col, vec_col=args.vec_col,
        )
        out.write(json.dumps(meta) + "\n")
    elif args.action == "query":
        # the retrying probe: the terminal action runs INSIDE the retry
        # loop, so a generation retired mid-read (two publishes) means
        # one re-resolve and re-run, never a stale-file failure
        if args.out:
            # large query batches stay distributed — results land as
            # parquet straight from the probe plan (no checkpoint pin
            # doubling the materialization); only the count crosses the
            # driver
            query_ann_index_with_retry(
                spark, args.index, spark.read.parquet(args.input),
                k=args.k, n_probe=args.n_probe,
                id_col=args.id_col, vec_col=args.vec_col,
                consume=lambda df: df.write.mode("overwrite").parquet(
                    args.out
                ),
            )
            out.write(json.dumps(
                {"out": args.out, "n_rows": spark.read.parquet(args.out).count()}
            ) + "\n")
        else:
            hits = query_ann_index_with_retry(
                spark, args.index, spark.read.parquet(args.input),
                k=args.k, n_probe=args.n_probe,
                id_col=args.id_col, vec_col=args.vec_col,
            )
            rows = [r.asDict() for r in hits.collect()]
            out.write(json.dumps(rows, default=str) + "\n")
    elif args.action == "ingest":
        pairs = incremental_semantic_dups(
            spark, spark.read.parquet(args.input), args.index,
            args.threshold, batch_id=args.batch_id,
            id_col=args.id_col, vec_col=args.vec_col, n_probe=args.n_probe,
            n_lists=args.n_lists,
        )
        summary = {"batch_id": args.batch_id, "n_dups": pairs.count()}
        if args.out:
            pairs.write.mode("overwrite").parquet(args.out)
            summary["out"] = args.out
        else:
            # no report sink: inline the verdicts (small-batch usage)
            summary["pairs"] = [r.asDict() for r in pairs.collect()]
        out.write(json.dumps(summary, default=str) + "\n")
    elif args.action == "rebuild":
        out.write(
            json.dumps(rebuild_ann_index_if_oversized(spark, args.index))
            + "\n"
        )
    else:  # compact
        out.write(json.dumps(compact_ann_index(spark, args.index)) + "\n")
    return 0


def cmd_drift(args, out=sys.stdout) -> int:
    """Bronze contract check: diff a landed table's payload keys against
    the pinned entity schema; exit 1 when unknown (silently-dropped)
    fields are present."""
    from trialsync_etl_spark.operators.drift import schema_drift_report
    from trialsync_etl_spark.session import get_spark

    spark = get_spark(app_name="trialsync-cli")
    bronze = spark.read.parquet(args.path)
    rows = sorted(
        (r.asDict() for r in schema_drift_report(
            bronze, args.entity, data_col=args.data_col,
            sample_fraction=args.sample,
        ).collect()),
        key=lambda r: (r["status"], r["key"]),
    )
    out.write(json.dumps({"entity": args.entity, "findings": rows}) + "\n")
    return 1 if any(r["status"] == "unknown" for r in rows) else 0


def cmd_zorder(args, out=sys.stdout) -> int:
    """Maintenance: rewrite a table z-ordered on the given columns so
    parquet min/max stats prune on every clustering column."""
    from trialsync_etl_spark.operators.layout import zorder_table
    from trialsync_etl_spark.session import get_spark

    spark = get_spark(app_name="trialsync-cli")
    stats = zorder_table(
        spark,
        args.path,
        cols=args.cols.split(","),
        target_file_bytes=args.target_mb << 20,
    )
    out.write(json.dumps(stats) + "\n")
    return 0


def cmd_sketch(args, out=sys.stdout) -> int:
    """Mergeable HLL rollup store: `append` folds a table's slice into
    per-key sketches once; `estimate` answers distinct-count questions
    from the kilobyte sketch rows (never rescanning raw data); `compact`
    folds finished batches into one base partition."""
    from trialsync_etl_spark.operators.sketch_store import (
        append_sketch_rollup,
        compact_sketch_store,
        estimate_rollup,
    )
    from trialsync_etl_spark.session import get_spark

    keys = [k for k in args.keys.split(",") if k] if args.keys else []
    if args.action == "append":
        # validate BEFORE spinning up Spark — a missing flag should be an
        # exit-2 usage error, not a traceback out of spark.read
        missing = [
            flag
            for flag, val in (("--input", args.input), ("--cols", args.cols),
                              ("--batch-id", args.batch_id))
            if not val
        ]
        if missing:
            out.write(f"sketch append requires {', '.join(missing)}\n")
            return 2
    spark = get_spark(app_name="trialsync-cli")
    if args.action == "append":
        append_sketch_rollup(
            spark.read.parquet(args.input), args.store, keys,
            [c for c in args.cols.split(",") if c], args.batch_id,
        )
        out.write(json.dumps({"store": args.store, "batch_id": args.batch_id})
                  + "\n")
    elif args.action == "estimate":
        rows = [
            r.asDict()
            for r in estimate_rollup(
                spark, args.store, keys or None, where=args.where
            ).collect()
        ]
        out.write(json.dumps(rows, default=str) + "\n")
    else:  # compact — keys come from the store's own schema
        out.write(json.dumps(compact_sketch_store(spark, args.store)) + "\n")
    return 0


def cmd_freq(args, out=sys.stdout) -> int:
    """Count-min frequency rollups + heavy hitters (operators/freq.py):
    `append` folds a table's key frequencies into the persisted cell
    store; `estimate` answers point-frequency questions from the cells
    (never rescanning raw data); `hot` runs the exact bounded-pass
    heavy-hitter detector straight on a table; `drift` compares two
    store windows' key shares (which key went hot — see
    freq.hot_key_drift; windows exclude the compacted '__base' partition
    unless --include-base-a/-b says otherwise); `compact` folds batches
    (shared sketch-store maintenance)."""
    from trialsync_etl_spark.operators.freq import (
        DEFAULT_DEPTH,
        DEFAULT_WIDTH,
        append_cm_rollup,
        cm_store_estimate,
        heavy_hitters,
        hot_key_drift,
    )
    from trialsync_etl_spark.operators.sketch_store import (
        compact_sketch_store,
    )
    from trialsync_etl_spark.session import get_spark

    required = {
        "append": ("--input", "--key", "--batch-id"),
        "estimate": ("--input", "--key"),
        "hot": ("--input", "--key"),
        "drift": ("--input", "--key", "--where-a", "--where-b"),
        "compact": (),
    }[args.action]
    vals = {
        "--input": args.input, "--key": args.key, "--batch-id": args.batch_id,
        "--where-a": args.where_a, "--where-b": args.where_b,
    }
    missing = [flag for flag in required if not vals[flag]]
    if missing:
        out.write(f"freq {args.action} requires {', '.join(missing)}\n")
        return 2
    if args.action != "hot" and not args.store:
        out.write(f"freq {args.action} requires a store path\n")
        return 2
    if args.action == "hot" and not (0.0 < args.phi <= 1.0):
        out.write(f"freq hot requires 0 < --phi <= 1 (got {args.phi})\n")
        return 2
    spark = get_spark(app_name="trialsync-cli")
    if args.action == "append":
        append_cm_rollup(
            spark.read.parquet(args.input), args.store, args.key,
            args.batch_id,
            args.depth or DEFAULT_DEPTH, args.width or DEFAULT_WIDTH,
        )
        out.write(json.dumps({"store": args.store, "batch_id": args.batch_id})
                  + "\n")
    elif args.action == "estimate":
        rows = [
            r.asDict()
            for r in cm_store_estimate(
                spark, args.store, spark.read.parquet(args.input), args.key,
                args.depth, args.width, where=args.where,
            ).collect()
        ]
        out.write(json.dumps(rows, default=str) + "\n")
    elif args.action == "hot":
        rows = [
            r.asDict()
            for r in heavy_hitters(
                spark.read.parquet(args.input), args.key, phi=args.phi
            ).collect()
        ]
        out.write(json.dumps(rows, default=str) + "\n")
    elif args.action == "drift":
        rows = [
            r.asDict()
            for r in hot_key_drift(
                spark, args.store, spark.read.parquet(args.input), args.key,
                where_a=args.where_a, where_b=args.where_b,
                include_base_a=args.include_base_a,
                include_base_b=args.include_base_b,
                min_share_delta=args.min_delta,
            ).collect()
        ]
        out.write(json.dumps(rows, default=str) + "\n")
    else:  # compact
        out.write(json.dumps(compact_sketch_store(spark, args.store)) + "\n")
    return 0


def cmd_decontam(args, out=sys.stdout) -> int:
    """Persisted benchmark store (operators/decontam_store.py):
    `build` shingles one benchmark version into the store (once per
    version — never per corpus batch); `build-emb` lands one benchmark's
    EMBEDDINGS (the semantic/paraphrase axis, pinned dim); `benchmarks`
    lists both families' built ids and pinned params; `profile` /
    `profile-semantic` write a corpus batch's per-doc contamination
    profile as parquet; `gate` / `gate-semantic` write the survivors
    (the semantic actions take --emb for the batch's embedding table)."""
    from trialsync_etl_spark.operators import decontam_store as DS
    from trialsync_etl_spark.session import get_spark

    semantic = args.action in ("profile-semantic", "gate-semantic")
    required = {
        "build": ("--input", "--benchmark-id"),
        "build-emb": ("--input", "--benchmark-id"),
        "benchmarks": (),
        "profile": ("--input", "--output"),
        "gate": ("--input", "--output"),
        "profile-semantic": ("--input", "--output"),
        "gate-semantic": ("--input", "--output", "--emb"),
    }[args.action]
    vals = {
        "--input": args.input, "--benchmark-id": args.benchmark_id,
        "--output": args.output, "--emb": args.emb,
    }
    missing = [flag for flag in required if not vals[flag]]
    if missing:
        out.write(f"decontam {args.action} requires {', '.join(missing)}\n")
        return 2
    if args.action == "benchmarks":
        out.write(json.dumps({
            "benchmarks": DS.list_benchmarks(args.store),
            "params": DS.read_store_params(args.store),
            "emb_benchmarks": DS.list_embedding_benchmarks(args.store),
            "emb_params": DS.read_emb_params(args.store),
        }) + "\n")
        return 0
    spark = get_spark(app_name="trialsync-cli")
    ids = args.benchmark_ids.split(",") if args.benchmark_ids else None
    if args.action == "build":
        n = DS.build_benchmark_store(
            spark.read.parquet(args.input), args.store, args.benchmark_id,
            k=args.k, id_col=args.id_col, text_col=args.text_col,
            hash_fn=args.hash_fn,
        )
        out.write(json.dumps({
            "store": args.store, "benchmark_id": args.benchmark_id,
            "n_shingles": n,
        }) + "\n")
    elif args.action == "build-emb":
        n = DS.build_benchmark_embeddings(
            spark.read.parquet(args.input), args.store, args.benchmark_id,
            id_col=args.id_col, vec_col=args.vec_col,
        )
        out.write(json.dumps({
            "store": args.store, "benchmark_id": args.benchmark_id,
            "n_vectors": n,
        }) + "\n")
    elif args.action == "profile":
        DS.contamination_profile_store(
            spark, spark.read.parquet(args.input), args.store, ids,
            min_overlap_frac=args.min_overlap,
            id_col=args.id_col, text_col=args.text_col,
        ).write.mode("overwrite").parquet(args.output)
        out.write(json.dumps({"profile": args.output}) + "\n")
    elif args.action == "profile-semantic":
        DS.semantic_contamination_profile_store(
            spark, spark.read.parquet(args.input), args.store, ids,
            threshold=args.threshold,
            id_col=args.id_col, vec_col=args.vec_col,
        ).write.mode("overwrite").parquet(args.output)
        out.write(json.dumps({"profile": args.output}) + "\n")
    elif args.action == "gate-semantic":
        DS.decontaminate_semantic_incremental(
            spark, spark.read.parquet(args.input),
            spark.read.parquet(args.emb), args.store, ids,
            threshold=args.threshold, id_col=args.id_col,
            emb_id_col=args.emb_id_col, emb_vec_col=args.vec_col,
        ).write.mode("overwrite").parquet(args.output)
        out.write(json.dumps({"survivors": args.output}) + "\n")
    else:  # gate
        DS.decontaminate_incremental(
            spark, spark.read.parquet(args.input), args.store, ids,
            min_overlap_frac=args.min_overlap,
            id_col=args.id_col, text_col=args.text_col,
        ).write.mode("overwrite").parquet(args.output)
        out.write(json.dumps({"survivors": args.output}) + "\n")
    return 0


def cmd_alerts(args, out=sys.stdout) -> int:
    """Evaluate failure/DQ alert rules over the run log (+ optional
    warehouse dq_report); optionally POST the consolidated payload to a
    webhook. Exit 1 when anything fires — cron-able as the reference's
    missing error-notification hook."""
    from trialsync_etl_spark.alerts import (
        evaluate_alerts,
        notify,
        webhook_transport,
    )
    from trialsync_etl_spark.runs import RunLog

    alerts = evaluate_alerts(
        RunLog(args.run_log),
        warehouse_dir=args.warehouse,
        consecutive_failures=args.consecutive,
        min_success_rate=args.min_rate,
        window=args.window,
    )
    result = {"all_quiet": not alerts, "n_alerts": len(alerts), "alerts": alerts}
    if args.webhook:
        result["delivery"] = notify(alerts, webhook_transport(args.webhook))
    out.write(json.dumps(result) + "\n")
    return 1 if alerts else 0


def cmd_versions(args, out=sys.stdout) -> int:
    """List a table's retained versions (time-travel window) — Spark-free,
    reads only the publish pointer and the history manifest."""
    from trialsync_etl_spark.storage import list_versions

    out.write(json.dumps(list_versions(args.path)) + "\n")
    return 0


def cmd_export(args, out=sys.stdout) -> int:
    """Export a parquet table as deterministic JSONL shards + manifest."""
    from trialsync_etl_spark.operators.export import export_jsonl_shards
    from trialsync_etl_spark.session import get_spark

    import os

    spark = get_spark(app_name="trialsync-cli")
    df = spark.read.parquet(args.table)
    export_jsonl_shards(df, args.out_dir, args.n_shards, id_col=args.id_col)
    # the exporter already computed and persisted the manifest; re-reading
    # the json avoids a second full scan+checksum of every shard
    with open(os.path.join(args.out_dir, "_manifest.json")) as f:
        out.write(json.dumps({"shards": json.load(f)["shards"]}) + "\n")
    return 0


def cmd_quality(args, out=sys.stdout) -> int:
    """Run the declared post-load DQ suite over a built warehouse and
    print the landed report (one JSON line per check). Exit 1 if any
    check failed — the CI-gate shape."""
    from trialsync_etl_spark import transforms
    from trialsync_etl_spark.session import get_spark
    from trialsync_etl_spark.transforms import WarehouseContext, run_transform

    transforms.load_all()
    spark = get_spark(app_name="trialsync-cli")
    ctx = WarehouseContext(sf_dir=args.sf_dir, warehouse_dir=args.warehouse_dir)
    res = run_transform(spark, "run_quality_checks", ctx)
    if res.status != "success":
        out.write(json.dumps({"status": "failed", "error": res.error}) + "\n")
        return 1
    report = (
        spark.read.parquet(f"{args.warehouse_dir}/dq_report")
        .orderBy("table", "check", "column")
        .collect()
    )
    ok = True
    for r in report:
        out.write(
            json.dumps(
                {"table": r["table"], "check": r["check"], "column": r["column"],
                 "n_violations": r["n_violations"], "passed": r["passed"]}
            )
            + "\n"
        )
        ok = ok and r["passed"]
    return 0 if ok else 1


def cmd_substring(args, out=sys.stdout) -> int:
    """Persisted first-occurrence gram store (operators/substring_store.py)
    — incremental exact substring dedup at arbitrary word offsets:
    `status` lists the pinned params (Spark-free); `spans` writes one
    batch's duplicated-span profile as parquet; `trim` writes the
    trimmed batch; `fold` appends a batch's new gram firsts (run AFTER
    trim — the next batch then sees it as history); `compact` folds the
    batch partitions into __base."""
    from trialsync_etl_spark.operators import substring_store as SS

    if args.action == "status":
        out.write(json.dumps({
            "store": args.store,
            "params": SS.read_substring_params(args.store),
        }) + "\n")
        return 0
    required = {
        "spans": ("--input", "--output"),
        "trim": ("--input", "--output"),
        "fold": ("--input", "--batch-id"),
        "compact": (),
    }[args.action]
    vals = {
        "--input": args.input, "--output": args.output,
        "--batch-id": args.batch_id,
    }
    missing = [flag for flag in required if not vals[flag]]
    if missing:
        out.write(f"substring {args.action} requires {', '.join(missing)}\n")
        return 2

    from trialsync_etl_spark.session import get_spark

    spark = get_spark(app_name="trialsync-cli")
    if args.action == "compact":
        n = SS.compact_gram_store(spark, args.store)
        out.write(json.dumps({"store": args.store, "grams_kept": n}) + "\n")
        return 0
    if args.action == "fold":
        n = SS.append_gram_firsts(
            spark.read.parquet(args.input), args.store, args.batch_id,
            k=args.k, id_col=args.id_col, text_col=args.text_col,
            hash_fn=args.hash_fn,
        )
        out.write(json.dumps({
            "store": args.store, "batch_id": args.batch_id, "new_grams": n,
        }) + "\n")
        return 0
    fn = (
        SS.duplicate_spans_incremental
        if args.action == "spans"
        else SS.substring_dedup_incremental
    )
    fn(
        spark, spark.read.parquet(args.input), args.store,
        min_len=args.min_len, id_col=args.id_col, text_col=args.text_col,
    ).write.mode("overwrite").parquet(args.output)
    out.write(json.dumps({args.action: args.output}) + "\n")
    return 0


def cmd_quality_model(args, out=sys.stdout) -> int:
    """Operational lifecycle of the trained quality filter
    (operators/quality_model.py): `train` fits the logistic classifier on
    a labeled parquet (label 1 = keep) and saves the plain-float model
    JSON; `show` prints a model's constants (the committed default when
    no --model is given); `apply` scores a docs parquet with the
    literal-inlined sigmoid — full scores parquet with --scores, and/or
    the ≥ --min-score survivors with --output. Exit 2 on usage errors
    before any Spark startup (cf. cmd_sketch)."""
    from trialsync_etl_spark.operators.quality_model import (
        DEFAULT_QUALITY_MODEL,
        QualityModel,
    )

    def _load_model():
        return (
            QualityModel.load(args.model) if args.model
            else DEFAULT_QUALITY_MODEL
        )

    if args.action == "show":
        m = _load_model()
        out.write(json.dumps({
            "model": args.model or "<default constants>",
            "weights": m.weights, "intercept": m.intercept,
        }) + "\n")
        return 0

    required = {
        "train": ("--input", "--out-model"),
        "apply": ("--input",),
    }[args.action]
    vals = {"--input": args.input, "--out-model": args.out_model}
    missing = [flag for flag in required if not vals.get(flag)]
    if args.action == "apply" and not (args.scores or args.output):
        missing.append("--scores or --output")
    if missing:
        out.write(
            f"quality-model {args.action} requires {', '.join(missing)}\n"
        )
        return 2

    from pyspark.sql import functions as F

    from trialsync_etl_spark.session import get_spark

    spark = get_spark(app_name="trialsync-cli")
    if args.action == "train":
        from trialsync_etl_spark.operators.quality_model import (
            train_quality_model,
        )

        model = train_quality_model(
            spark.read.parquet(args.input),
            label_col=args.label_col, text_col=args.text_col,
            max_iter=args.max_iter, reg_param=args.reg_param,
        )
        model.save(args.out_model)
        out.write(json.dumps({
            "model": args.out_model,
            "weights": model.weights, "intercept": model.intercept,
        }) + "\n")
        return 0

    # apply
    from trialsync_etl_spark.operators.quality_model import (
        quality_model_mask,
        quality_model_score,
    )

    model = _load_model()
    docs = spark.read.parquet(args.input)
    text = F.col(args.text_col)
    summary: dict = {"model": args.model or "<default constants>"}
    if args.scores:
        docs.withColumn(
            "quality_score", F.round(quality_model_score(text, model), 6)
        ).write.mode("overwrite").parquet(args.scores)
        summary["scores"] = args.scores
    if args.output:
        kept = docs.filter(
            quality_model_mask(text, args.min_score, model)
        )
        kept.write.mode("overwrite").parquet(args.output)
        n_in = docs.count()
        n_kept = spark.read.parquet(args.output).count()
        summary.update({
            "survivors": args.output, "min_score": args.min_score,
            "n_in": n_in, "n_kept": n_kept,
        })
    out.write(json.dumps(summary) + "\n")
    return 0


def cmd_langid(args, out=sys.stdout) -> int:
    """Operational lifecycle of the trained language-ID model
    (operators/langid.py — the fastText char-trigram recipe): `train`
    fits the multinomial classifier on a labeled parquet (lang column =
    class) and saves the plain-float model JSON; `show` prints a model's
    shape (the committed default when no --model is given); `apply`
    annotates a docs parquet with the predicted language — full
    annotations with --scores, and/or the docs whose prediction is in
    --langs with --output. Exit 2 on usage errors before any Spark
    startup (cf. cmd_quality_model)."""
    from trialsync_etl_spark.operators.langid import (
        LangIdModel,
        default_langid_model,
    )

    def _load_model():
        return (
            LangIdModel.load(args.model) if args.model
            else default_langid_model()
        )

    if args.action == "show":
        m = _load_model()
        out.write(json.dumps({
            "model": args.model or "<committed default>",
            "langs": list(m.langs), "n_buckets": m.n_buckets, "k": m.k,
            "intercepts": m.intercepts,
        }) + "\n")
        return 0

    required = {
        "train": ("--input", "--out-model"),
        "apply": ("--input",),
    }[args.action]
    vals = {"--input": args.input, "--out-model": args.out_model}
    missing = [flag for flag in required if not vals.get(flag)]
    if args.action == "apply" and not (args.scores or args.output):
        missing.append("--scores or --output")
    if args.action == "apply" and args.output and not args.langs:
        missing.append("--langs (which predictions --output keeps)")
    if missing:
        out.write(f"langid {args.action} requires {', '.join(missing)}\n")
        return 2

    from pyspark.sql import functions as F

    from trialsync_etl_spark.session import get_spark

    spark = get_spark(app_name="trialsync-cli")
    if args.action == "train":
        from trialsync_etl_spark.operators.langid import train_langid_model

        model = train_langid_model(
            spark.read.parquet(args.input),
            label_col=args.label_col, text_col=args.text_col,
            max_iter=args.max_iter, reg_param=args.reg_param,
        )
        model.save(args.out_model)
        out.write(json.dumps({
            "model": args.out_model, "langs": list(model.langs),
            "n_buckets": model.n_buckets, "k": model.k,
        }) + "\n")
        return 0

    # apply — routed by model size like the funnel/stream surfaces when
    # the input carries the standard doc_id column (the table path's
    # re-attach key): at the committed 21-language breadth the literal
    # plan costs ~19 s of query build and OOMs default-heap sessions,
    # while the broadcast weight-table join plans in milliseconds.
    # Without an id column the literal expression is the only exact
    # route, so it stays as the fallback.
    from trialsync_etl_spark.operators.langid import (
        annotate_language,
        detect_language_model,
        language_gate,
        language_mask,
    )

    model = _load_model()
    docs = spark.read.parquet(args.input)
    has_id = "doc_id" in docs.columns
    text = F.col(args.text_col)
    summary: dict = {"model": args.model or "<committed default>"}
    if has_id:
        # the table route re-attaches predictions with an equi-join on
        # doc_id: a NULL id never matches (its row would silently drop)
        # and a duplicated id would score the merged grams of all its
        # rows and fan ONE prediction back to each — so on arbitrary
        # input parquet the key must be proven non-null and unique
        # first (one cheap aggregate over the id column alone). Inputs
        # failing the check keep the exact literal-inlined route.
        s = docs.agg(
            F.count(F.lit(1)).alias("n"),
            F.count("doc_id").alias("n_nonnull"),
            F.countDistinct("doc_id").alias("n_distinct"),
        ).first()
        if not (s.n == s.n_nonnull == s.n_distinct):
            summary["doc_id_fallback"] = (
                f"doc_id unusable as a join key (rows={s.n}, "
                f"non-null={s.n_nonnull}, distinct={s.n_distinct}); "
                "routed through the inline expression"
            )
            has_id = False
    if args.scores:
        scored = (
            # re-select the input's column order: the USING join puts
            # doc_id first, and positional consumers of the scores
            # parquet must see the same layout whatever the model size
            annotate_language(docs, args.text_col, "lang_pred", model)
            .select(*docs.columns, "lang_pred")
            if has_id
            else docs.withColumn(
                "lang_pred", detect_language_model(text, model)
            )
        )
        scored.write.mode("overwrite").parquet(args.scores)
        summary["scores"] = args.scores
    if args.output:
        allowed = tuple(args.langs.split(","))
        kept = (
            language_gate(docs, allowed, model, text_col=args.text_col)
            if has_id
            else docs.filter(language_mask(text, allowed, model))
        )
        kept.write.mode("overwrite").parquet(args.output)
        summary.update({
            "survivors": args.output, "langs": list(allowed),
            "n_in": docs.count(),
            "n_kept": spark.read.parquet(args.output).count(),
        })
    out.write(json.dumps(summary) + "\n")
    return 0


def cmd_lm(args, out=sys.stdout) -> int:
    """Operational lifecycle of the persisted unigram-LM store
    (operators/lm_store.py — the CCNet perplexity signal's train-once /
    score-every-batch shape): `train` fits on a reference parquet and
    persists the model under --model-id; `list` prints the store's
    models with their pinned scalars; `score` writes per-doc perplexity
    for a docs parquet against a stored model; `band` writes the
    [LO, HI] band survivors (the curation gate). Exit 2 on usage errors
    before any Spark startup (cf. cmd_sketch)."""
    required = {
        "train": ("--input", "--model-id"),
        "list": (),
        "score": ("--input", "--model-id", "--output"),
        "band": ("--input", "--model-id", "--output", "--band"),
    }[args.action]
    vals = {
        "--input": args.input, "--model-id": args.model_id,
        "--output": args.output, "--band": args.band,
    }
    missing = [flag for flag in required if not vals.get(flag)]
    if missing:
        out.write(f"lm {args.action} requires {', '.join(missing)}\n")
        return 2
    band = None
    if args.band:
        try:
            lo, hi = (float(x) for x in args.band.split(":"))
        except ValueError:
            out.write("lm --band expects LO:HI floats\n")
            return 2
        band = (lo, hi)

    from trialsync_etl_spark.operators import lm_store

    if args.action == "list":
        meta = lm_store.read_lm_meta(args.store)
        out.write(json.dumps({
            "store": args.store,
            "models": (meta or {"models": {}})["models"],
        }) + "\n")
        return 0

    from trialsync_etl_spark.session import get_spark

    spark = get_spark(app_name="trialsync-cli")
    if args.action == "train":
        params = lm_store.build_lm_model(
            spark.read.parquet(args.input), args.store, args.model_id,
            add_k=args.add_k, text_col=args.text_col, order=args.order,
            discount=args.discount,
        )
        out.write(json.dumps({
            "store": args.store, "model_id": args.model_id, **params,
        }) + "\n")
        return 0

    docs = spark.read.parquet(args.input)
    if args.action == "score":
        lm_store.score_perplexity_store(
            spark, docs, args.store, args.model_id,
            id_col=args.id_col, text_col=args.text_col, lam=args.lam,
        ).write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        out.write(json.dumps({
            "store": args.store, "model_id": args.model_id,
            "scores": args.output, "n_docs": n,
        }) + "\n")
        return 0

    # band
    lo, hi = band
    lm_store.perplexity_band_store(
        spark, docs, args.store, args.model_id, lo, hi,
        id_col=args.id_col, text_col=args.text_col, lam=args.lam,
    ).write.mode("overwrite").parquet(args.output)
    n_in = docs.count()
    n_kept = spark.read.parquet(args.output).count()
    out.write(json.dumps({
        "store": args.store, "model_id": args.model_id,
        "band": [lo, hi], "survivors": args.output,
        "n_in": n_in, "n_kept": n_kept,
    }) + "\n")
    return 0


def cmd_schedules(args, out=sys.stdout) -> int:
    """List / set / deactivate / delete persisted transformation schedules
    (the dw_transformation_schedules surface, shared with the REST plane)."""
    from datetime import datetime

    from trialsync_etl_spark.scheduler import CronError, ScheduleStore

    store = ScheduleStore(args.schedule_store)
    if args.set_cron:
        if not args.name:
            out.write('{"error": "schedules --set requires NAME"}\n')
            return 2
        try:
            spec = store.upsert(
                args.name, args.set_cron, description=args.description or ""
            )
        except CronError as exc:
            out.write(json.dumps({"error": str(exc)}) + "\n")
            return 2
        out.write(json.dumps(vars(spec)) + "\n")
        return 0
    if args.deactivate or args.delete:
        if not args.name:
            out.write('{"error": "NAME required"}\n')
            return 2
        if args.delete:
            ok = store.delete(args.name)
            out.write(json.dumps({"deleted": args.name if ok else None}) + "\n")
            return 0 if ok else 1
        if store.get(args.name) is None:
            out.write(json.dumps({"error": f"no schedule for {args.name}"}) + "\n")
            return 1
        spec = store.set_active(args.name, False)
        out.write(json.dumps(vars(spec)) + "\n")
        return 0
    now = datetime.now()
    for s in store.list():
        row = dict(vars(s))
        try:
            row["next_run_time"] = (
                s.next_run_time(now).isoformat() if s.is_active else None
            )
        except CronError:
            row["next_run_time"] = None
        out.write(json.dumps(row) + "\n")
    return 0


def cmd_serve(args, out=sys.stdout) -> int:
    from trialsync_etl_spark.api import ControlPlane, serve

    plane = ControlPlane(catalog=_catalog(args), run_log=RunLog(args.run_log))
    server = serve(plane, host=args.host, port=args.port)
    out.write(f"control plane listening on {server.server_address}\n")
    try:
        server.serve_forever()
    except KeyboardInterrupt:  # pragma: no cover
        server.shutdown()
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="trialsync-etl", description="PySpark ETL engine CLI")
    p.add_argument("--run-log", default=".etl/runs.jsonl")
    p.add_argument("--catalog", default=None, help="path to a JSON job catalog")
    sub = p.add_subparsers(dest="command", required=True)

    lp = sub.add_parser("list-jobs", help="show the job catalog")
    lp.set_defaults(fn=cmd_list_jobs)

    rp = sub.add_parser("run", help="run one job or the full DAG")
    rp.add_argument("--job-id", type=int, default=None)
    rp.add_argument("--max-parallel", type=int, default=5)
    rp.set_defaults(fn=cmd_run)

    sp = sub.add_parser("status", help="per-job success-rate summary")
    sp.set_defaults(fn=cmd_status)

    hp = sub.add_parser("history", help="recent runs, newest first")
    hp.add_argument("--job", default=None)
    hp.add_argument("--limit", type=int, default=20)
    hp.set_defaults(fn=cmd_history)

    tp = sub.add_parser("transform", help="execute a named transformation or chain")
    tp.add_argument("name")
    tp.add_argument("--chain", action="store_true", help="treat NAME as a chain")
    tp.add_argument("--max-parallel", type=int, default=1,
                    help="run a chain's independent members on N worker "
                         "threads (dim/fact chains only — members must "
                         "touch disjoint tables)")
    tp.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    tp.add_argument("--warehouse-dir", default=".etl/warehouse")
    tp.set_defaults(fn=cmd_transform)

    cp = sub.add_parser("compact", help="small-file compaction of a parquet table")
    cp.add_argument("path")
    cp.add_argument("--target-mb", type=int, default=128)
    cp.add_argument("--partition-by", default="")
    cp.set_defaults(fn=cmd_compact)

    xp = sub.add_parser("explain", help="physical plan of a registry query")
    xp.add_argument("query", help="registry query name (plans/)")
    xp.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    xp.set_defaults(fn=cmd_explain)

    rl = sub.add_parser("release", help="curate + export + verify + data card")
    rl.add_argument("input", help="documents parquet path (doc_id, text, ...)")
    rl.add_argument("out", help="release output directory")
    rl.add_argument("--n-shards", type=int, default=16)
    rl.add_argument("--benchmark-fraction", type=float, default=None,
                    help="hash-sampled eval split to decontaminate against")
    rl.add_argument("--embeddings", default=None,
                    help="embeddings parquet (vec_id, embedding) enabling "
                         "the SemDeDup semantic-dedup stage")
    rl.add_argument("--input-format", choices=("parquet", "warc"),
                    default="parquet",
                    help="'warc' reads the input path/glob as WARC web "
                         "archives (ISO 28500 / Common Crawl; plain or "
                         "per-record-gzip) and implies --html-extract")
    rl.add_argument("--html-extract", action="store_true",
                    help="enable the HTML -> main-text extraction stage "
                         "(the pipeline's stage zero: chrome pruning + "
                         "jusText-style block keep rules; the input "
                         "needs an 'html' column)")
    rl.add_argument("--script-aware", action="store_true",
                    help="judge unsegmented-script docs (CJK/Thai) by "
                         "char-count twins of the word-based quality/"
                         "Gopher rules instead of dropping them as "
                         "'one word'")
    rl.add_argument("--c4-clean", action="store_true",
                    help="enable the published C4 line-retention + "
                         "page-drop cleaning stage (runs first, on the "
                         "raw line structure)")
    rl.add_argument("--gopher-rules", action="store_true",
                    help="enable the full published Gopher quality rule "
                         "set (word/length bands, symbol + bullet + "
                         "ellipsis ratios, alpha floor, stopwords)")
    rl.add_argument("--quality-model", default=None, metavar="PATH|default",
                    help="enable the trained quality-filter stage: a "
                         "model JSON from `quality-model train`, or "
                         "'default' for the committed constants")
    rl.add_argument("--url-blocklist", default=None, metavar="FILE|default",
                    help="enable the URL blocklist stage (runs first): a "
                         "file of one registrable domain per line, or "
                         "'default' for the committed placeholder list")
    rl.add_argument("--max-per-domain", type=int, default=None,
                    help="enable the per-domain document cap: keep the N "
                         "lowest-id docs per registrable domain")
    rl.add_argument("--langs", default=None, metavar="L1,L2",
                    help="enable the trained language gate: keep only "
                         "docs the language-ID model predicts in this "
                         "comma list (e.g. en or en,es)")
    rl.add_argument("--langid-model", default=None, metavar="PATH|default",
                    help="language-ID model JSON from `langid train` "
                         "(default: the committed constants)")
    rl.add_argument("--min-quality-score", type=float, default=0.5,
                    help="keep threshold for the trained filter stage")
    rl.add_argument("--substring-dedup", action="store_true",
                    help="enable exact substring dedup at arbitrary "
                         "offsets (suffix-array recipe) after exact dedup")
    rl.add_argument("--substring-min-len", type=int, default=50,
                    help="minimum duplicated span length in words")
    rl.add_argument("--perplexity-band", default=None, metavar="LO:HI",
                    help="enable the unigram-LM statistical quality band "
                         "(drop perplexity < LO boilerplate and > HI "
                         "gibberish)")
    rl.add_argument("--perplexity-ref", default=None,
                    help="reference corpus parquet the LM trains on "
                         "(default: the quality-filtered corpus itself)")
    rl.add_argument("--perplexity-store", default=None,
                    help="persisted LM store path (`lm train`): score "
                         "the band against a stored model instead of "
                         "training this run; needs --perplexity-model "
                         "and --perplexity-band")
    rl.add_argument("--perplexity-model", default=None,
                    help="model_id within --perplexity-store")
    rl.add_argument("--perplexity-lam", type=float, default=0.5,
                    help="bigram interpolation weight when the stored "
                         "model is order 2 (ignored for unigrams)")
    rl.add_argument("--warehouse", default=None,
                    help="rehearsal mode: ALSO build the warehouse chains "
                         "cold into this dir (dims, facts, verify) and "
                         "evaluate alerts; exit 1 unless everything is green")
    rl.add_argument("--drift-check", action="append", default=None,
                    metavar="PATH=ENTITY",
                    help="gate the release on Bronze contract drift: red "
                         "if PATH holds payload keys unknown to the "
                         "pinned ENTITY schema (repeatable)")
    rl.add_argument("--maintain", action="store_true",
                    help="after the warehouse rehearsal, run the nightly "
                         "maintain_warehouse chain and re-verify")
    rl.add_argument("--parallel", type=int, default=1, metavar="N",
                    help="build the (independent-member) dim and fact "
                         "chains via the parallel runner with N workers; "
                         "verify stays sequential")
    rl.add_argument("--sf-dir", default=None,
                    help="warehouse input tables dir (required with "
                         "--warehouse)")
    rl.set_defaults(fn=cmd_release)

    dp = sub.add_parser("drift", help="payload-vs-pinned-schema drift report")
    dp.add_argument("path", help="landed Bronze parquet path")
    dp.add_argument("entity", help="pinned entity name (entities.py)")
    dp.add_argument("--data-col", default="data")
    dp.add_argument("--sample", type=float, default=None,
                    help="deterministic hash-sample fraction")
    dp.set_defaults(fn=cmd_drift)

    zp = sub.add_parser("zorder", help="z-order a table on multiple columns")
    zp.add_argument("path", help="published table path")
    zp.add_argument("cols", help="comma-separated clustering columns")
    zp.add_argument("--target-mb", type=int, default=128)
    zp.set_defaults(fn=cmd_zorder)

    skp = sub.add_parser("sketch", help="mergeable HLL distinct-count rollups")
    skp.add_argument("action", choices=["append", "estimate", "compact"])
    skp.add_argument("store", help="sketch store path")
    skp.add_argument("--input", help="parquet table to fold in (append)")
    skp.add_argument("--keys", default="",
                     help="comma-separated rollup keys (append/estimate; "
                          "compact derives them from the store schema)")
    skp.add_argument("--cols", default="", help="columns to sketch (append)")
    skp.add_argument("--batch-id", help="ingest id; re-append replaces it")
    skp.add_argument("--where", help="rollup-row filter (estimate)")
    skp.set_defaults(fn=cmd_sketch)

    fqp = sub.add_parser(
        "freq", help="count-min frequency rollups + exact heavy hitters"
    )
    fqp.add_argument(
        "action", choices=["append", "estimate", "hot", "drift", "compact"]
    )
    fqp.add_argument("store", nargs="?", default="",
                     help="cell store path (append/estimate/drift/compact)")
    fqp.add_argument("--input", help="parquet table (append/hot) or keys "
                                     "table (estimate/drift)")
    fqp.add_argument("--key", help="key column")
    fqp.add_argument("--batch-id", help="ingest id; re-append replaces it")
    fqp.add_argument("--depth", type=int, default=None,
                     help="CM depth (append; reads take the store's pin)")
    fqp.add_argument("--width", type=int, default=None,
                     help="CM width (append; reads take the store's pin)")
    fqp.add_argument("--phi", type=float, default=0.01,
                     help="heavy-hitter share threshold (hot)")
    fqp.add_argument("--where", help="cell-partition filter (estimate), "
                                     "e.g. \"batch_id >= 'b7'\"")
    fqp.add_argument("--where-a", help="history window filter (drift)")
    fqp.add_argument("--where-b", help="current window filter (drift)")
    fqp.add_argument("--include-base-a", action="store_true",
                     help="fold the compacted __base partition into "
                          "window A (drift; windows exclude it otherwise)")
    fqp.add_argument("--include-base-b", action="store_true",
                     help="fold the compacted __base partition into "
                          "window B (drift)")
    fqp.add_argument("--min-delta", type=float, default=0.05,
                     help="minimum share growth to report (drift)")
    fqp.set_defaults(fn=cmd_freq)

    dcp = sub.add_parser(
        "decontam", help="persisted benchmark-shingle store + corpus gating"
    )
    dcp.add_argument(
        "action", choices=["build", "build-emb", "benchmarks", "profile",
                           "gate", "profile-semantic", "gate-semantic"]
    )
    dcp.add_argument("store", help="benchmark store path")
    dcp.add_argument("--input", help="parquet input (benchmark docs for "
                                     "build, benchmark embeddings for "
                                     "build-emb; corpus batch otherwise)")
    dcp.add_argument("--output", help="output parquet dir (profile/gate)")
    dcp.add_argument("--emb", help="batch embedding parquet "
                                   "(gate-semantic: emb_id_col -> vector)")
    dcp.add_argument("--threshold", type=float, default=0.95,
                     help="semantic contamination cosine threshold")
    dcp.add_argument("--vec-col", default="embedding")
    dcp.add_argument("--emb-id-col", default="vec_id")
    dcp.add_argument("--benchmark-id", help="benchmark version tag (build)")
    dcp.add_argument("--benchmark-ids",
                     help="comma-separated subset to probe (default: all)")
    dcp.add_argument("--k", type=int, default=3,
                     help="shingle width (build; later builds must match)")
    dcp.add_argument("--hash-fn", default="md5",
                     choices=["md5", "xxhash64"],
                     help="shingle hash (build; pinned on first build)")
    dcp.add_argument("--min-overlap", type=float, default=0.2,
                     help="contamination threshold (profile/gate)")
    dcp.add_argument("--id-col", default="doc_id")
    dcp.add_argument("--text-col", default="text")
    dcp.set_defaults(fn=cmd_decontam)

    anp = sub.add_parser("ann", help="persisted ANN index over embeddings")
    anp.add_argument("action",
                     choices=["build", "append", "query", "ingest", "compact",
                              "rebuild"])
    anp.add_argument("index", help="index directory")
    anp.add_argument("--input",
                     help="embeddings parquet (build/append/query/ingest)")
    anp.add_argument("--n-lists", type=int, default=None,
                     help="IVF list count (build; default ~sqrt(N))")
    anp.add_argument("--batch-id", help="ingest id (append/ingest)")
    anp.add_argument("--k", type=int, default=5, help="neighbors (query)")
    anp.add_argument("--n-probe", type=int, default=2,
                     help="lists probed per query/ingest vector")
    anp.add_argument("--threshold", type=float, default=0.95,
                     help="cosine near-dup threshold (ingest)")
    anp.add_argument("--id-col", default="vec_id")
    anp.add_argument("--vec-col", default="embedding")
    anp.add_argument("--out", default=None,
                     help="write query/ingest results as parquet instead "
                          "of inlining them in the JSON (large batches)")
    anp.set_defaults(fn=cmd_ann)

    ap = sub.add_parser("alerts", help="evaluate failure/DQ alert rules")
    ap.add_argument("--warehouse", help="warehouse dir holding dq_report")
    ap.add_argument("--consecutive", type=int, default=1,
                    help="fire after N consecutive failed runs of a job")
    ap.add_argument("--min-rate", type=float, default=0.5,
                    help="success-rate floor over the window")
    ap.add_argument("--window", type=int, default=20)
    ap.add_argument("--webhook", help="POST the payload to this URL")
    ap.set_defaults(fn=cmd_alerts)

    vsp = sub.add_parser("versions", help="list a table's retained versions")
    vsp.add_argument("path", help="published table path")
    vsp.set_defaults(fn=cmd_versions)

    ep = sub.add_parser("export", help="export a table as JSONL shards + manifest")
    ep.add_argument("table")
    ep.add_argument("out_dir")
    ep.add_argument("--n-shards", type=int, default=8)
    ep.add_argument("--id-col", default="doc_id")
    ep.set_defaults(fn=cmd_export)

    ssp = sub.add_parser(
        "substring",
        help="incremental exact substring dedup vs the persisted gram store",
    )
    ssp.add_argument(
        "action", choices=["status", "spans", "trim", "fold", "compact"]
    )
    ssp.add_argument("store", help="gram store path")
    ssp.add_argument("--input", help="corpus batch parquet")
    ssp.add_argument("--output", help="output parquet dir (spans/trim)")
    ssp.add_argument("--batch-id", help="fold: partition tag for the batch")
    ssp.add_argument("--k", type=int, default=8,
                     help="gram width (fold; pinned on first fold)")
    ssp.add_argument("--min-len", type=int, default=50,
                     help="minimum duplicated span length in words")
    ssp.add_argument("--hash-fn", default="md5", choices=["md5", "xxhash64"])
    ssp.add_argument("--id-col", default="doc_id")
    ssp.add_argument("--text-col", default="text")
    ssp.set_defaults(fn=cmd_substring)

    qmp = sub.add_parser(
        "quality-model",
        help="train / inspect / apply the trained quality filter",
    )
    qmp.add_argument("action", choices=["train", "show", "apply"])
    qmp.add_argument("--input", help="parquet input (labeled set for "
                                     "train; docs table for apply)")
    qmp.add_argument("--model", default=None,
                     help="model JSON path (default: committed constants)")
    qmp.add_argument("--out-model", default=None,
                     help="where train writes the fitted model JSON")
    qmp.add_argument("--scores", default=None,
                     help="apply: write all docs + quality_score parquet")
    qmp.add_argument("--output", default=None,
                     help="apply: write the >= --min-score survivors")
    qmp.add_argument("--min-score", type=float, default=0.5)
    qmp.add_argument("--label-col", default="label")
    qmp.add_argument("--text-col", default="text")
    qmp.add_argument("--max-iter", type=int, default=100)
    qmp.add_argument("--reg-param", type=float, default=0.01)
    qmp.set_defaults(fn=cmd_quality_model)

    lip = sub.add_parser(
        "langid",
        help="train / inspect / apply the trained language-ID model",
    )
    lip.add_argument("action", choices=["train", "show", "apply"])
    lip.add_argument("--input", help="parquet input (labeled set for "
                                     "train; docs table for apply)")
    lip.add_argument("--model", default=None,
                     help="model JSON path (default: committed constants)")
    lip.add_argument("--out-model", default=None,
                     help="where train writes the fitted model JSON")
    lip.add_argument("--scores", default=None,
                     help="apply: write all docs + lang_pred parquet")
    lip.add_argument("--output", default=None,
                     help="apply: write the docs predicted in --langs")
    lip.add_argument("--langs", default=None, metavar="L1,L2",
                     help="apply --output: comma list of kept languages")
    lip.add_argument("--label-col", default="lang")
    lip.add_argument("--text-col", default="text")
    lip.add_argument("--max-iter", type=int, default=500)
    lip.add_argument("--reg-param", type=float, default=0.00001)
    lip.set_defaults(fn=cmd_langid)

    lmp = sub.add_parser(
        "lm",
        help="persisted unigram-LM store: train / list / score / band",
    )
    lmp.add_argument("action", choices=["train", "list", "score", "band"])
    lmp.add_argument("--store", default=".etl/lm_store",
                     help="LM store root (vocab partitions + meta)")
    lmp.add_argument("--input", default=None,
                     help="parquet input (reference corpus for train; "
                          "docs table for score/band)")
    lmp.add_argument("--model-id", default=None,
                     help="model version tag, e.g. wiki-2026-08")
    lmp.add_argument("--output", default=None,
                     help="score: per-doc perplexity parquet; band: "
                          "survivors parquet")
    lmp.add_argument("--band", default=None, metavar="LO:HI",
                     help="band: keep perplexity in [LO, HI]")
    lmp.add_argument("--add-k", type=float, default=1.0,
                     help="train: add-k smoothing constant")
    lmp.add_argument("--order", type=int, default=1, choices=[1, 2, 3],
                     help="train: 1 = unigram, 2 = interpolated bigram, "
                          "3 = interpolated Kneser-Ney trigram")
    lmp.add_argument("--discount", type=float, default=0.75,
                     help="train: absolute discount (order-3 only)")
    lmp.add_argument("--lam", type=float, default=0.5,
                     help="score/band: bigram interpolation weight "
                          "(order-2 models only)")
    lmp.add_argument("--id-col", default="doc_id")
    lmp.add_argument("--text-col", default="text")
    lmp.set_defaults(fn=cmd_lm)

    qp = sub.add_parser("quality", help="run the post-load DQ suite on a warehouse")
    qp.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    qp.add_argument("--warehouse-dir", default=".etl/warehouse")
    qp.set_defaults(fn=cmd_quality)

    scp = sub.add_parser("schedules", help="list/set transformation schedules")
    scp.add_argument("name", nargs="?", default=None)
    scp.add_argument("--set", dest="set_cron", default=None,
                     metavar="CRON", help='e.g. "0 2 * * *"')
    scp.add_argument("--description", default=None)
    scp.add_argument("--deactivate", action="store_true")
    scp.add_argument("--delete", action="store_true")
    scp.add_argument("--schedule-store", default=".etl/schedules.json")
    scp.set_defaults(fn=cmd_schedules)

    vp = sub.add_parser("serve", help="start the REST control plane")
    vp.add_argument("--host", default="127.0.0.1")
    vp.add_argument("--port", type=int, default=8787)
    vp.set_defaults(fn=cmd_serve)

    return p


def main(argv: list[str] | None = None, out=sys.stdout) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args, out=out)


if __name__ == "__main__":
    raise SystemExit(main())
