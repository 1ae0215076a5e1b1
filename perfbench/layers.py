"""Per-layer metrics of a traced run, computed from its span records.

Every metric is a per-cycle figure: the sum over the measured cycles'
spans divided by the number of measured cycles. A layer the workload
does not exercise reads 0.
"""

from __future__ import annotations

from collections import defaultdict

SILVER_MEMBERS = (
    "load_dim_customer", "load_dim_users", "load_dim_date", "load_dim_site",
    "load_dim_staff", "load_dim_sponsor", "load_dim_element", "load_dim_patient",
    "load_dim_study", "load_dim_visit", "load_fact_orders", "load_fact_daily_events",
    "load_fact_element_completions", "load_fact_subject_status_change",
    "load_fact_visit", "load_fact_subject_arm",
)
INCREMENTAL = (
    "load_dim_users_incremental",
    "load_fact_daily_events_incremental",
    "refresh_mv_enrollment_summary_incremental",
)
#: analyst read mix: one registry query per operator family the Gold and
#: analytics surface serves (Gold summary, star broadcast join, window
#: dedup, as-of join)
READ_MIX = (
    "gold_enrollment_summary", "j1_star_join_broadcast", "w1_lastwins_dedup",
    "j_asof_last_click",
)
GATES = ("near_dup", "semantic_dup", "quality")


def names() -> list[str]:
    """Every per-layer metric, in report order."""
    out = ["session.start_s",
           "odata.fetch_s", "odata.requests", "odata.bytes",
           "executor.execute_s", "executor.jobs", "executor.records",
           "bronze.bytes_written", "bronze.write_amp",
           "silver.dims_s", "silver.dims_jobs", "silver.facts_s", "silver.facts_jobs"]
    out += [f"silver.member_s.{m}" for m in SILVER_MEMBERS]
    out += ["gold.refresh_s", "gold.jobs", "gold.read_s",
            "quality.verify_s", "quality.verify_jobs", "quality.checks_failed"]
    for t in INCREMENTAL:
        out += [f"incremental.{t}.s", f"incremental.{t}.jobs", f"incremental.{t}.rows"]
    out += ["incremental.noop_s", "incremental.noop_jobs", "plans.build_s", "plans.exec_s", "plans.jobs"]
    for q in READ_MIX:
        out += [f"plans.{q}.s", f"plans.{q}.jobs"]
    for g in GATES:
        out += [f"structured.{g}.s", f"structured.{g}.batches",
                f"structured.{g}.jobs_per_batch", f"structured.{g}.keep_ratio"]
    out += ["spark.jobs", "spark.stages", "spark.tasks", "spark.tasks_failed", "trace.spans"]
    return out


def unit(name: str) -> str:
    if name.endswith(("_s", ".s")) or ".member_s." in name:
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "B"
    if name.endswith(("write_amp", "keep_ratio")):
        return "ratio"
    return "count"


def compute(spans: list[dict], session_s: float, extra: dict) -> dict[str, float]:
    """Per-layer metrics from the measured cycles' span records.

    ``extra`` carries figures read from outputs rather than spans:
    ``checks_failed`` (red DQ checks) and ``keep`` ({gate: (kept, in)})."""
    cycles = sorted({s["cycle"] for s in spans if s["cycle"] is not None})
    n = max(1, len(cycles))
    by = defaultdict(list)
    for s in spans:
        by[s["name"]].append(s)

    def tot(prefix: str, field: str = "dur") -> float:
        v = 0.0
        for name, rows in by.items():
            if name == prefix or name.startswith(prefix + "."):
                for r in rows:
                    v += r["end"] - r["start"] if field == "dur" else r.get(field, 0) or 0
        return v

    def one(name: str, field: str = "dur") -> float:
        return sum((r["end"] - r["start"]) if field == "dur" else (r.get(field, 0) or 0)
                   for r in by.get(name, ()))

    m = {k: 0.0 for k in names()}
    m["session.start_s"] = session_s
    m["odata.fetch_s"] = tot("executor", "fetch_s") / n
    m["odata.requests"] = tot("executor", "requests") / n
    m["odata.bytes"] = tot("executor", "served_bytes") / n
    m["executor.execute_s"] = tot("executor") / n
    m["executor.jobs"] = tot("executor", "jobs") / n
    m["executor.records"] = tot("executor", "records") / n
    m["bronze.bytes_written"] = tot("executor", "bronze_bytes") / n
    served = tot("executor", "served_bytes")
    m["bronze.write_amp"] = tot("executor", "bronze_bytes") / served if served else 0.0
    m["silver.dims_s"] = one("silver.dims") / n
    m["silver.dims_jobs"] = one("silver.dims", "jobs") / n
    m["silver.facts_s"] = one("silver.facts") / n
    m["silver.facts_jobs"] = one("silver.facts", "jobs") / n
    for chain in ("silver.dims", "silver.facts"):
        for r in by.get(chain, ()):
            for member, sec in (r.get("members") or {}).items():
                key = f"silver.member_s.{member}"
                if key in m:
                    m[key] += sec / n
    m["gold.refresh_s"] = one("gold.refresh") / n
    m["gold.jobs"] = (one("gold.refresh", "jobs") + one("gold.read", "jobs")) / n
    m["gold.read_s"] = one("gold.read") / n
    m["quality.verify_s"] = one("quality.verify") / n
    m["quality.verify_jobs"] = one("quality.verify", "jobs") / n
    m["quality.checks_failed"] = float(extra.get("checks_failed", 0))
    for t in INCREMENTAL:
        name = f"incremental.{t}"
        m[f"{name}.s"] = one(name) / n
        m[f"{name}.jobs"] = one(name, "jobs") / n
        m[f"{name}.rows"] = one(name, "rows") / n
    m["incremental.noop_s"] = one("incremental.noop") / n
    m["incremental.noop_jobs"] = one("incremental.noop", "jobs") / n
    n_queries = 0
    for q in READ_MIX:
        m[f"plans.{q}.s"] = one(f"plans.{q}") / n
        m[f"plans.{q}.jobs"] = one(f"plans.{q}", "jobs") / n
        m["plans.build_s"] += one(f"plans.{q}.build") / n
        m["plans.exec_s"] += one(f"plans.{q}.exec") / n
        n_queries += len(by.get(f"plans.{q}", ()))
    if n_queries:
        m["plans.jobs"] = sum(one(f"plans.{q}", "jobs") for q in READ_MIX) / n_queries
    for g in GATES:
        # the attach span is the whole stream (start, source listing,
        # checkpoints); each micro-batch body has its own ``.batch`` span
        batches = by.get(f"structured.{g}.batch", ())
        m[f"structured.{g}.s"] = one(f"structured.{g}") / n
        m[f"structured.{g}.batches"] = len(batches) / n
        if batches:
            m[f"structured.{g}.jobs_per_batch"] = one(f"structured.{g}.batch", "jobs") / len(batches)
        kept, seen = extra.get("keep", {}).get(g, (0, 0))
        m[f"structured.{g}.keep_ratio"] = kept / seen if seen else 0.0
    top = [s for s in spans if s["parent"] is None and s["cycle"] is not None]
    for f in ("jobs", "stages", "tasks", "tasks_failed"):
        m[f"spark.{f}"] = sum(s[f] for s in top) / n
    m["trace.spans"] = len([s for s in spans if s["cycle"] is not None]) / n
    return m


def table(spans: list[dict]) -> list[dict]:
    """One row per span name over the measured cycles: calls, wall and self
    seconds, and Spark jobs, stages, tasks and failed tasks."""
    agg: dict[str, dict] = {}
    for s in spans:
        if s["cycle"] is None:
            continue
        a = agg.setdefault(s["name"], {"span": s["name"], "calls": 0, "wall_s": 0.0, "self_s": 0.0,
                                       "jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0})
        a["calls"] += 1
        a["wall_s"] += s["end"] - s["start"]
        a["self_s"] += s["self_s"]
        for f in ("jobs", "stages", "tasks", "tasks_failed"):
            a[f] += s[f]
    return sorted(agg.values(), key=lambda a: -a["wall_s"])
