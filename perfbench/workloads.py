"""The benchmark's workloads: closed loops with one client.

Each workload prepares its state, then runs cycles back to back; the next
cycle starts when the previous one returns. Every call into the program
is one *operation* (a job, a transform, a query, a micro-batch): it is
timed, counted as attempted, and counted as failed when it raises or
reports failure. Output checks run outside the timed cycles and count a
wrong result as one more failed operation.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import time
import traceback

from pyspark.sql import functions as F
from pyspark.sql import types as T

from inputs import FEEDS, FeedServer, Inputs, stamp
from layers import GATES, INCREMENTAL, READ_MIX

from trialsync_etl_spark import transforms
from trialsync_etl_spark.executor import JobExecutor
from trialsync_etl_spark.gold import enrollment_summary, read_materialized
from trialsync_etl_spark.jobs import load_full_catalog
from trialsync_etl_spark.operators import quality as Q
from trialsync_etl_spark.operators.scd2 import current_view, read_scd2
from trialsync_etl_spark.plans import registry
from trialsync_etl_spark.runs import RunLog
from trialsync_etl_spark.sources.odata import ODataSource
from trialsync_etl_spark.streaming import structured
from trialsync_etl_spark.streaming.incremental import CheckpointStore, WatermarkStore
from trialsync_etl_spark.transforms import WarehouseContext, run_chain, run_transform

DIM_CHAIN = "load_all_new_dimensions"
FACT_CHAIN = "load_all_new_facts"
GOLD_CHAIN = "refresh_gold_views"
VERIFY_CHAIN = "verify_warehouse"
#: scale factor of the generated source tables; README, "Scale", has the
#: run times at 0.1 that rule it out
SCALE = 0.01
DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType()),
])
VEC_SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
])


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def tree_cpu_s(jvm_pid: int) -> float:
    """CPU seconds (user + system) used so far by the driver JVM, its
    Python workers and this process, exited and reaped children
    included."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            stats[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    keep = {os.getpid(), jvm_pid}
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _) in stats.items():
            if ppid in keep and pid not in keep:
                keep.add(pid)
                grew = True
    return sum(stats[p][1] for p in keep if p in stats) / tick


class TimedSource(ODataSource):
    """ODataSource that adds up the wall time spent producing pages: the
    OData layer's fetch, pagination and parse cost, transport included."""

    fetch_s = 0.0

    def pages(self, *a, **kw):
        it = super().pages(*a, **kw)
        while True:
            t0 = time.perf_counter()
            try:
                page = next(it)
            except StopIteration:
                self.fetch_s += time.perf_counter() - t0
                return
            self.fetch_s += time.perf_counter() - t0
            yield page


class Workload:
    name = ""
    #: untimed cycles before measuring
    warmup_cycles = 1

    def __init__(self, spark, tracer, work: str, seed: int) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.steps: list[tuple[str, str, float]] = []  # (kind, name, seconds)
        self.cycle_s: list[float] = []
        self.cycle_cpu_s: list[float] = []
        self.fresh_s: list[float] = []
        self.fresh_cpu_s: list[float] = []
        self.rows: list[int] = []
        self.measuring = False
        self._cycle_rows = 0
        self.catalog = {j.name: j for j in load_full_catalog()}
        self.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        transforms.load_all()
        registry.load_all()

    # -- operation accounting --------------------------------------------
    def op(self, kind: str, name: str, fn):
        """Run one operation; returns its value, or None when it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        with self.tracer.span(f"{kind}.{name}") as sp:
            try:
                value = fn()
                ok = True
            except Exception:  # noqa: BLE001 — one failed op must not end the run
                value, ok = None, False
                self.problem(f"{kind}.{name} raised:\n{traceback.format_exc(limit=4)}")
            if sp is not None:
                sp.attrs["ok"] = ok
        self.step(kind, name, time.perf_counter() - t0)
        if not ok:
            self.failed += 1
        return value

    def chain(self, kind: str, chain: str, ctx) -> list:
        """One chain call; each member is one operation with the member's
        own ``TransformResult.duration_s`` as its latency (``run_chain``
        catches a member's failure into its result)."""
        with self.tracer.span(kind, chain=chain) as sp:
            results = run_chain(self.spark, chain, ctx)
            if sp is not None:
                sp.attrs["members"] = {r.name: round(r.duration_s, 6) for r in results}
        for r in results:
            self.attempted += 1
            self.step(kind, r.name, r.duration_s)
            self._cycle_rows += r.rows
            if r.status != "success":
                self.failed += 1
                self.problem(f"{r.name} failed: {r.error}")
        return results

    def step(self, kind: str, name: str, seconds: float) -> None:
        if self.measuring:
            self.steps.append((kind, name, seconds))

    def problem(self, msg: str) -> None:
        self.problems.append(msg)
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    def wrong(self, msg: str) -> None:
        """A check found a wrong output: one more failed operation."""
        self.attempted += 1
        self.failed += 1
        self.problem(msg)

    # -- loop --------------------------------------------------------------
    def run_cycle(self, c: int) -> None:
        self._cycle_rows = 0
        self.tracer.cycle = c
        self.next_input(c)
        cpu0 = tree_cpu_s(self.jvm_pid)
        t0 = time.perf_counter()
        self.cycle(c)
        elapsed = time.perf_counter() - t0
        cpu = tree_cpu_s(self.jvm_pid) - cpu0
        self.tracer.cycle = None
        if self.measuring:
            self.cycle_s.append(elapsed)
            self.cycle_cpu_s.append(cpu)
            self.fresh_s.append(self._fresh[0] - t0)
            self.fresh_cpu_s.append(self._fresh[1] - cpu0)
            self.rows.append(self._cycle_rows)
        self.after_cycle(c)

    def prepare(self) -> None:
        raise NotImplementedError

    def next_input(self, c: int) -> None:
        """Make cycle ``c``'s input available (untimed: it is the input)."""
        raise NotImplementedError

    def cycle(self, c: int) -> None:
        """Run cycle ``c``, calling :meth:`fresh` once its input is visible."""
        raise NotImplementedError

    def fresh(self) -> None:
        """The cycle's input is now visible to readers: note the wall clock
        and CPU seconds for the freshness figures."""
        self._fresh = (time.perf_counter(), tree_cpu_s(self.jvm_pid))

    def after_cycle(self, c: int) -> None:
        """Untimed per-cycle checks and cleanup."""

    def final_checks(self) -> None:
        """Untimed end-of-run checks."""

    def warehouse_bytes(self) -> int:
        raise NotImplementedError

    def report(self) -> dict:
        """Workload-specific figures printed beside the metrics."""
        return {}

    def layer_extra(self) -> dict:
        """Per-layer figures read from outputs rather than spans."""
        return {}

    def generate_tables(self, root: str) -> dict[str, int]:
        """Generate the source tables; ``gen_s`` and ``gen_cpu_s`` are the
        wall and CPU seconds it took (the benchmark's own work, kept out of
        ``setup_s``)."""
        t0, cpu0 = time.perf_counter(), time.process_time()
        self.inputs = Inputs(self.seed, SCALE)
        rows = self.inputs.write_tables(root)
        self.gen_s = time.perf_counter() - t0
        self.gen_cpu_s = time.process_time() - cpu0
        return rows

    def executor(self, root: str, server: FeedServer) -> JobExecutor:
        return JobExecutor(
            spark=self.spark,
            source=TimedSource(server),
            bronze_root=os.path.join(root, "bronze"),
            run_log=RunLog(os.path.join(root, "runs.jsonl")),
            watermarks=WatermarkStore(os.path.join(root, "watermarks.json")),
            checkpoints=CheckpointStore(os.path.join(root, "checkpoints.json")),
        )

    def land(self, ex: JobExecutor, job: str, run_started_at: str):
        """One OData job through the executor, with the Bronze layer's
        bytes written read from the JVM's I/O counters when traced."""
        spec = self.catalog[job]
        io0 = self._jvm_write_bytes() if self.tracer.enabled else 0
        served0 = ex.source.transport.bytes
        fetch0 = ex.source.fetch_s
        requests0 = ex.source.transport.requests
        out = self.op("executor", job, lambda: ex.execute(spec, run_started_at=run_started_at))
        if self.tracer.enabled:
            sp = self.tracer.spans[-1]
            sp.attrs.update(
                bronze_bytes=self._jvm_write_bytes() - io0,
                served_bytes=ex.source.transport.bytes - served0,
                fetch_s=ex.source.fetch_s - fetch0,
                requests=ex.source.transport.requests - requests0,
                records=out.records_loaded if out else 0,
            )
        if out is not None:
            self._cycle_rows += out.records_loaded
            if out.status != "success":
                self.failed += 1
                self.problem(f"job {job} ended {out.status}")
        return out

    def _jvm_write_bytes(self) -> int:
        with open(f"/proc/{self.jvm_pid}/io") as f:
            for line in f:
                if line.startswith("write_bytes:"):
                    return int(line.split()[1])
        return 0


def _same_rows(got, want, cols) -> bool:
    """Equal as multisets of rows, doubles within a relative 1e-9: a double
    SUM adds its partials in a different order in an incremental run and
    a full rebuild, so the last bits may differ."""
    return _rows_match(got.select(*cols).collect(), want.select(*cols).collect(), 1e-9)


def _rows_match(a, b, tol: float) -> bool:
    """Rows equal as multisets; doubles within ``tol``, relative or absolute."""
    def key(r):
        return tuple(("", v) if isinstance(v, float) else (_canon(v), 0.0) for v in r)

    a, b = sorted(a, key=key), sorted(b, key=key)
    return len(a) == len(b) and all(
        math.isclose(x, y, rel_tol=tol, abs_tol=tol) if isinstance(x, float) and isinstance(y, float)
        else _canon(x) == _canon(y)
        for ra, rb in zip(a, b) for x, y in zip(ra, rb))


class Gates:
    """The three streaming curation gates with fresh stores under
    ``root``: near-dup and quality over the document files, semantic-dup
    over the embedding files, one micro-batch per file. Each ``attach`` is
    one operation; each micro-batch is timed as one step.

    ``landed`` maps ``"docs"`` and ``"vecs"`` to one entry per file, in
    batch order: ``first`` id, ``n`` rows, ``copies`` planted near-copies
    (the file's last rows, fresh ids) and ``again``, the id delivered
    twice in that file or None."""

    INPUT = {"near_dup": "docs", "semantic_dup": "vecs", "quality": "docs"}

    def __init__(self, wl: Workload, root: str, landed: dict[str, list[dict]]) -> None:
        self.wl = wl
        self.root = root
        self.landed = landed

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def run(self, docs: str, vecs: str) -> None:
        self._attach("near_dup", structured.NearDupStreamSink(
            self.path("near_dup"), self.path("near_dup_store"),
            report_dir=self.path("near_dup_pairs")), docs, DOC_SCHEMA)
        self._attach("semantic_dup", structured.SemanticDupStreamSink(
            self.path("semantic_dup"), self.path("semantic_dup_index"),
            threshold=0.98, n_lists=8, report_dir=self.path("semantic_dup_pairs")), vecs, VEC_SCHEMA)
        self._attach("quality", structured.QualityGateStreamSink(
            self.path("quality"), checks=[Q.not_null("doc_id"), Q.not_null("text"), Q.unique("doc_id")],
            quarantine_dir=self.path("quality_quarantine")), docs, DOC_SCHEMA)

    def _attach(self, gate: str, sink, landing: str, schema) -> None:
        wl = self.wl
        inner = sink.process_batch
        files = self.landed[self.INPUT[gate]]

        def timed(batch_df, batch_id):
            # the sink's own micro-batch body, timed from the stream thread
            t0 = time.perf_counter()
            with wl.tracer.span(f"structured.{gate}.batch", batch=batch_id):
                inner(batch_df, batch_id)
            wl.step("structured.batch", gate, time.perf_counter() - t0)
            wl._cycle_rows += files[batch_id]["n"]

        sink.process_batch = timed
        wl.op("structured", gate, lambda: sink.attach(
            structured.read_landing_stream(wl.spark, landing, schema, max_files_per_trigger=1),
            self.path(f"{gate}_ckpt")))

    def check(self) -> dict[str, list[int]]:
        """Per batch: rows kept plus rows dropped equals rows in; the dedup
        gates drop every planted copy; the quality gate quarantines
        exactly the files with a twice-delivered id. Returns the rows
        dropped per batch."""
        spark = self.wl.spark

        def by_batch(name: str, col: str) -> dict[int, list]:
            out: dict[int, list] = {}
            if os.path.exists(self.path(name)):
                for r in spark.read.parquet(self.path(name)).select("batch", col).collect():
                    out.setdefault(r[0], []).append(r[1])
            return out

        outputs = {
            "near_dup": (by_batch("near_dup", "doc_id"), by_batch("near_dup_pairs", "doc_b")),
            "semantic_dup": (by_batch("semantic_dup", "vec_id"), by_batch("semantic_dup_pairs", "doc_dup")),
            "quality": (by_batch("quality", "doc_id"), by_batch("quality_quarantine", "doc_id")),
        }
        drops = {g: [] for g in GATES}
        for gate, (kept_by, dropped_by) in outputs.items():
            for b, land in enumerate(self.landed[self.INPUT[gate]]):
                n, first, again = land["n"], land["first"], land["again"]
                kept, dropped = kept_by.get(b, []), set(dropped_by.get(b, []))
                if gate == "quality":
                    n_dropped = len(dropped_by.get(b, []))
                    if (n_dropped == n) != (again is not None):
                        self.wl.wrong(f"quality batch {b}: quarantined {n_dropped} of {n} rows, "
                                      f"twice-delivered id {again}")
                else:
                    # the dedup gates report dropped ids; an id delivered
                    # twice is two rows in
                    n_dropped = len(dropped) + (again in dropped)
                    planted = set(range(first + n - land["copies"], first + n))
                    if not planted <= dropped:
                        self.wl.wrong(f"{gate} batch {b}: planted copies {sorted(planted - dropped)} kept")
                drops[gate].append(n_dropped)
                if len(kept) + n_dropped != n or dropped & set(kept):
                    self.wl.wrong(f"{gate} batch {b}: kept {len(kept)} + dropped {n_dropped} != {n} in")
        return drops


class NightlyRebuild(Workload):
    """The 2 AM master chain: land the OData root feeds into a fresh
    Bronze root, run the dimension, fact, Gold and verify chains over the
    source tables; then the analysts' first read mix over the fresh Gold
    and source tables, and the day's landed document and embedding files
    through the curation sinks with fresh stores."""

    #: Gold materialized views the read mix reads back
    GOLD_MVS = ("mv_enrollment_summary", "mv_subject_status", "mv_visit_arm_summary")

    name = "nightly_rebuild"
    #: a nightly rebuild runs once per application start, so the measured
    #: cycle is the application's first one
    warmup_cycles = 0
    #: gate landing: files and rows per file of documents and embeddings,
    #: planted near-copies per file, document files with an id delivered twice
    DOC_FILES, DOC_ROWS, VEC_FILES, VEC_ROWS = 2, 625, 1, 500
    COPIES, TWICE_DELIVERED = 25, 1

    def prepare(self) -> None:
        self.sf = os.path.join(self.work, "sf")
        self.table_rows = self.generate_tables(self.sf)
        self.pinned = self._pinned_counts()
        self.reference: dict[str, int] | None = None
        self.dq_red: list[int] = []
        self.drops: dict[str, list[int]] = {g: [] for g in GATES}
        self.docs = os.path.join(self.work, "landing", "documents")
        self.vecs = os.path.join(self.work, "landing", "embeddings")
        self.read_order = list(READ_MIX)
        self.landed = {"docs": [], "vecs": []}
        k, inp = self.COPIES, self.inputs
        twice = set(inp.rng.choice(self.DOC_FILES, self.TWICE_DELIVERED, replace=False).tolist())
        for f in range(self.DOC_FILES):
            n, first = self.DOC_ROWS, 1_000_000 + f * self.DOC_ROWS
            again = inp.land_documents(self.docs, f"docs-{f:04d}.json", first, n, k,
                                       1_700_000_000 + f, redeliver=f in twice)
            self.landed["docs"].append({"first": first, "n": n, "copies": k, "again": again})
        for f in range(self.VEC_FILES):
            n, first = self.VEC_ROWS, 1_000_000 + f * self.VEC_ROWS
            inp.land_embeddings(self.vecs, f"vecs-{f:04d}.json", first, n, k, 1_700_000_000 + f)
            self.landed["vecs"].append({"first": first, "n": n, "copies": k, "again": None})

    def _pinned_counts(self) -> dict[str, int]:
        """Row counts fixed by the generated inputs, independent of the
        program: each of these members writes one row per source row."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t = self.table_rows
        ev = pq.read_table(os.path.join(self.sf, "events.parquet"), columns=["ts", "event_type"])
        days = pc.strftime(ev["ts"], format="%Y-%m-%d")
        pairs = {(d, e) for d, e in zip(days.to_pylist(), ev["event_type"].to_pylist())}
        return {
            "load_dim_customer": t["customer"], "load_dim_patient": t["customer"],
            "load_dim_site": t["nation"], "load_dim_staff": t["supplier"],
            "load_dim_sponsor": t["region"], "load_dim_element": t["part"],
            "load_dim_study": t["orders"], "load_fact_orders": t["orders"],
            "load_fact_element_completions": t["lineitem"], "load_fact_daily_events": len(pairs),
        }

    def _cycle_root(self, c: int) -> str:
        return os.path.join(self.work, f"cycle{c}")

    def next_input(self, c: int) -> None:
        self.server = FeedServer()
        for job, n in FEEDS.items():
            self.server.feeds[self.catalog[job].endpoint] = self.inputs.feed(job, n, stamp(0))

    def cycle(self, c: int) -> None:
        root = self._cycle_root(c)
        ex = self.executor(root, self.server)
        with self.tracer.span("bronze.land"):
            for job in FEEDS:
                self.land(ex, job, stamp(1))
        ctx = WarehouseContext(sf_dir=self.sf, warehouse_dir=os.path.join(root, "warehouse"))
        self.results = []
        self.results += self.chain("silver.dims", DIM_CHAIN, ctx)
        self.results += self.chain("silver.facts", FACT_CHAIN, ctx)
        self.results += self.chain("gold.refresh", GOLD_CHAIN, ctx)
        self.fresh()
        self.results += self.chain("quality.verify", VERIFY_CHAIN, ctx)
        self.ctx = ctx
        self.read(ctx)
        self.gates = Gates(self, os.path.join(root, "gates"), self.landed)
        self.gates.run(self.docs, self.vecs)

    def read(self, ctx) -> None:
        """The read mix: each Gold MV read back, then the registry queries
        in a seeded shuffled order, each built and then materialized."""
        for mv in self.GOLD_MVS:
            self.op("gold", "read", lambda mv=mv: read_materialized(self.spark, ctx.table_path(mv)).count())
        self.inputs.rng.shuffle(self.read_order)
        for q in self.read_order:
            with self.tracer.span(f"plans.{q}"):
                df = self.op("plans", f"{q}.build", lambda q=q: registry.QUERIES[q](self.spark, self.sf))
                if df is not None:
                    self.op("plans", f"{q}.exec", df.count)

    def final_checks(self) -> None:
        """Each read-mix query matches its DuckDB oracle once per run.
        Both sides round in SQL, and summing in another order can land a
        value on the other side of a rounding boundary (0.01 on a revenue
        of 9e7), so doubles match within a relative or absolute 1e-6."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in ("region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet/*.parquet')")
            for q in READ_MIX:
                df = registry.QUERIES[q](self.spark, self.sf)
                cols = sorted(df.columns)
                got = df.select(*cols).collect()
                rel = con.execute(registry.ORACLES[q])
                ocols = [d[0] for d in rel.description]
                order = sorted(range(len(ocols)), key=lambda i: ocols[i])
                want = [tuple(r[i] for i in order) for r in rel.fetchall()]
                if sorted(ocols) != cols or not _rows_match(got, want, 1e-6):
                    self.wrong(f"query {q} differs from its oracle ({len(got)} vs {len(want)} rows)")
        finally:
            con.close()

    def after_cycle(self, c: int) -> None:
        counts = {r.name: r.rows for r in self.results if r.name != "run_quality_checks"}
        if self.reference is None:
            self.reference = counts
        elif counts != self.reference:
            diff = {k: (v, self.reference.get(k)) for k, v in counts.items() if v != self.reference.get(k)}
            self.wrong(f"cycle {c} row counts differ from the first cycle: {diff}")
        for name, want in self.pinned.items():
            if counts.get(name) != want:
                self.wrong(f"cycle {c} {name} wrote {counts.get(name)} rows, expected {want}")
        report = self.spark.read.parquet(self.ctx.table_path("dq_report"))
        red = report.filter(~F.col("passed")).collect()
        if red:
            self.wrong(f"cycle {c} DQ report has {len(red)} red checks: {red[:3]}")
        bronze = os.path.join(self._cycle_root(c), "bronze")
        for job, n in FEEDS.items():
            got = self.spark.read.parquet(os.path.join(bronze, self.catalog[job].target_table)).count()
            if got != n:
                self.wrong(f"cycle {c} Bronze {job} has {got} rows, served {n}")
        drops = self.gates.check()
        if self.measuring:
            self.dq_red.append(len(red))
            for g in GATES:
                self.drops[g] += drops[g]
        self.last_bytes = dir_bytes(self._cycle_root(c))
        if c > 0:
            shutil.rmtree(self._cycle_root(c - 1), ignore_errors=True)

    def warehouse_bytes(self) -> int:
        return self.last_bytes

    def report(self) -> dict:
        return {"dq_red_checks": self.dq_red,
                "rows_written": self.reference, "gate_drops": self.drops}

    def layer_extra(self) -> dict:
        cycles = max(1, len(self.dq_red))
        keep = {}
        for g in GATES:
            n = sum(land["n"] for land in self.landed[Gates.INPUT[g]]) * cycles
            keep[g] = (n - sum(self.drops[g]), n)
        return {"checks_failed": sum(self.dq_red) / cycles, "keep": keep}


class IncrementalSync(Workload):
    """Frequent watermark-driven syncs. The warm-up cycle finds no
    watermark and builds the warehouse in full; every later cycle is an
    incremental sync against it. Each cycle gets one change batch: a
    ts-ordered slice of ``events`` and ``orders`` appended to the source
    tables and about 1% of Patients made newer in the OData feed. After
    the sync the scheduler polls once more before the next batch lands:
    that no-op poll runs the job and the transforms again over unchanged
    inputs, the watermark early-exit path."""

    name = "incremental_sync"

    def prepare(self) -> None:
        self.sf = os.path.join(self.work, "sf")
        self.table_rows = self.generate_tables(self.sf)
        self.server = FeedServer()
        self.patients = self.inputs.feed("Patients", FEEDS["Patients"], stamp(0))
        self.touched: set[int] = set()
        self.server.feeds[self.catalog["Patients"].endpoint] = self.patients
        self.ex = self.executor(self.work, self.server)
        self.ctx = WarehouseContext(
            sf_dir=self.sf, warehouse_dir=os.path.join(self.work, "warehouse"),
            options={"watermark_store": WatermarkStore(os.path.join(self.work, "wm_silver.json"))},
        )

    def next_input(self, c: int) -> None:
        self.inputs.append_change_batch(self.sf, part=c + 1)
        k = self.inputs.touch(self.patients, 0.01, stamp(c + 2, hour=-1))
        self.touched.update(r["id"] for r in self.patients if r["status"] == "updated")
        # with no watermark yet (the warm-up cycle) the job and the
        # transforms load in full: that cycle builds the warehouse
        self.want = k if self.ex.watermarks.get("Patients") else len(self.patients)

    def cycle(self, c: int) -> None:
        self.sync(c, stamp(c + 2), self.want)
        self.fresh()
        with self.tracer.span("incremental.noop"):
            self.sync(c, stamp(c + 2, hour=1), 0, suffix=".noop")

    def sync(self, c: int, run_started_at: str, want: int, suffix: str = "") -> None:
        """The incremental Patients job, then the incremental transforms;
        ``want`` is the number of records the job must land (0 on the
        no-op poll, where every transform must write 0 rows too)."""
        out = self.land(self.ex, "Patients", run_started_at)
        if out is not None and out.records_loaded != want:
            self.wrong(f"cycle {c} Patients job{suffix} landed {out.records_loaded} records, want {want}")
        for name in INCREMENTAL:
            res = self.op("incremental", name + suffix, lambda n=name: run_transform(self.spark, n, self.ctx))
            if res is None:
                continue
            self._cycle_rows += res.rows
            if self.tracer.enabled:
                self.tracer.spans[-1].attrs["rows"] = res.rows
            if res.status != "success":
                self.failed += 1
                self.problem(f"{name}{suffix} failed: {res.error}")
            elif suffix and res.rows:
                self.wrong(f"cycle {c} no-op {name} wrote {res.rows} rows over unchanged inputs")

    # -- checks -------------------------------------------------------------
    def final_checks(self) -> None:
        self._check_bronze()
        self._check_rebuild()

    def _check_bronze(self) -> None:
        path = os.path.join(self.work, "bronze", self.catalog["Patients"].target_table)
        df = self.spark.read.parquet(path)
        n = df.count()
        updated = df.filter(F.get_json_object("data", "$.status") == "updated").count()
        if n != FEEDS["Patients"] or updated != len(self.touched):
            self.wrong(f"Bronze Patients has {n} rows / {updated} updated; "
                       f"want {FEEDS['Patients']} / {len(self.touched)}")

    def _check_rebuild(self) -> None:
        """The incremental tables equal a full rebuild over the same data."""
        full = WarehouseContext(sf_dir=self.sf, warehouse_dir=os.path.join(self.work, "rebuild"))
        for name in ("load_dim_users", "load_fact_daily_events"):
            res = run_transform(self.spark, name, full)
            if res.status != "success":
                self.wrong(f"rebuild {name} failed: {res.error}")
                return
        cols = ["user_id", "status", "value", "effective_start"]
        got = current_view(read_scd2(self.spark, self.ctx.table_path("dim_users")))
        want = current_view(read_scd2(self.spark, full.table_path("dim_users")))
        if not _same_rows(got, want, cols):
            self.wrong("incremental dim_users current slice differs from a full rebuild")
        got = self.spark.read.parquet(self.ctx.table_path("fact_daily_events"))
        want = self.spark.read.parquet(full.table_path("fact_daily_events"))
        if not _same_rows(got, want, sorted(want.columns)):
            self.wrong("incremental fact_daily_events differs from a full rebuild")
        got = self.spark.read.parquet(self.ctx.table_path("mv_enrollment_summary_inc"))
        want = enrollment_summary(self.spark, self.sf)
        if not _same_rows(got, want, sorted(want.columns)):
            self.wrong("incremental mv_enrollment_summary differs from a full refresh")

    def warehouse_bytes(self) -> int:
        return sum(dir_bytes(os.path.join(self.work, d)) for d in ("bronze", "warehouse"))


def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)



WORKLOADS = {w.name: w for w in (NightlyRebuild, IncrementalSync)}
