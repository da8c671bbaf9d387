"""The benchmark's workloads, their correctness gates and their metrics.

Both workloads drive the reference pipeline: the four replicated CDC
tables (``transactions`` hash-partitioned) and the reference Dynamic
Table ``customer_purchase_summary`` (hash-partitioned), refreshed
incrementally after every applied micro-batch.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import statistics
import time
from contextlib import nullcontext

import gen
import stats
from loop import run_open_loop
from spark_metrics import SparkCounters, attribute
from spans import Tracer, self_times

from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.engine import (
    Engine,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.plans import (
    dashboard,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.plans.purchase_summary import (
    customer_purchase_summary,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.sources.cdc_schemas import (
    TABLE_SCHEMAS,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.changefeed import (
    FEED_SCHEMA_TXN,
    CDCPipeline,
    write_feed_transactions,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.dynamic_table import (
    DynamicTable,
    DynamicTableManager,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.monitoring import (
    txn_pending_state,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.store import (
    ParquetTableStore,
)

SUMMARY = "customer_purchase_summary"
VIEWS = (SUMMARY,)
TABLES = ("customers", "merchants", "products", "transactions")

#: cdc_trickle: offered load and feed-file cadence.  The reference
#: generator commits one 100-row transaction every 30 s; here one comes
#: every 5 s, about the cheapest warm tick (4.9 s on 4 vCPUs), so nearly
#: every tick commits a transaction and cuts another in half.  Ticks run
#: on Spark's default trigger: the next starts when the previous one
#: ends.  Set-up ends with ``warmup_ticks`` closed-loop ticks of
#: ``warmup_files`` files; the open loop starts with ``backlog_s`` of
#: changes already due and runs at least ``min_ticks`` ticks.
TRICKLE = {"n_customers": 300, "n_base_tx": 2000, "rate": 20.0, "slot_s": 0.5,
           "warmup_ticks": 1, "warmup_files": 14, "backlog_s": 7.0, "min_ticks": 2,
           "buckets": 4}
#: dashboard_reads: base size, the date window and status the sidebar
#: selects, warm-up renders before timing, renders per run at least
DASHBOARD = {"n_customers": 500, "n_base_tx": 4000, "buckets": 8,
             "window": ("2024-03-01", "2024-08-31"), "status": "High Spenders",
             "warmup_renders": 3, "min_renders": 4}
#: the dashboard's "today" for the date clamp, fixed so renders repeat
TODAY = dt.date(2024, 12, 31)
#: frames every render forces, in ``dashboard_main`` order
FRAMES = ("summary", "customer_spending", "spend_band_counts", "categorized",
          "daily_category_quantity", "card_usage", "category_counts",
          "merchant_stats", "top_merchant")
#: timed parts of a render: the load, the frames, the date window
PARTS = ("load", *FRAMES, "date_window")


def _summary_view(t):
    return customer_purchase_summary(
        t["transactions"], t["customers"], t["products"], t["merchants"]
    )


def _store_files(root: str) -> dict[str, tuple[int, float]]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime)
    return out


def _written(before: dict, after: dict) -> int:
    """Bytes of files new or rewritten between two snapshots."""
    return sum(m[0] for p, m in after.items() if before.get(p) != m)


def med(xs) -> float:
    """Median, 0 for a layer with no samples."""
    return statistics.median(xs) if xs else 0.0


def _canon(rows) -> list[tuple]:
    def cell(v):
        return round(v, 4) if isinstance(v, float) else v
    return sorted((tuple(cell(v) for v in r) for r in rows), key=repr)


class Pipeline:
    """Store + CDC pipeline + the attached view, from a stream's base."""

    def __init__(self, spark, root: str, stream: gen.Stream, buckets: int) -> None:
        self.spark = spark
        self.store = ParquetTableStore(os.path.join(root, "store"))
        self.cdc = CDCPipeline(spark, self.store, partition_spec={"transactions": buckets})
        self.cdc.bootstrap({
            t: spark.createDataFrame(
                [tuple(r[c] for c in gen.COLUMNS[t]) for r in stream.base[t]],
                TABLE_SCHEMAS[t],
            )
            for t in TABLES
        })
        self.mgr = DynamicTableManager(spark, self.store)
        self.mgr.create(DynamicTable(
            SUMMARY, _summary_view, "transactions", "transaction_id", "transaction_id",
            {"customers": ("customer_id", "customer_id"),
             "products": ("product_id", "product_id"),
             "merchants": ("merchant_id", "merchant_id")},
            partition_buckets=buckets,
        ))
        self.mgr.attach(self.cdc)
        self.batches = 0

    def apply(self, files: list[str]) -> None:
        env = self.spark.read.schema(FEED_SCHEMA_TXN).json(files)
        self.cdc.apply_envelope_batch(env, batch_id=self.batches)
        self.batches += 1

    def live_files(self, table: str) -> int:
        """Data files the table's current version reads."""
        root = os.path.join(self.store.root, table)
        m = self.store._read_manifest(table, self.store.current_version(table)) or {}
        dirs = [os.path.join(root, d) for d in m.get("partitions", {}).values()] or [
            os.path.join(root, f"v{self.store.current_version(table)}")
        ]
        return sum(
            f.endswith(".parquet") for d in dirs for _p, _d, fs in os.walk(d) for f in fs
        )

    # -- correctness gates (outside every timed region) ---------------------

    def check_base(self, model: dict[str, dict]) -> list[str]:
        """Mismatches between the stored base tables and the generator's
        model of them."""
        bad = []
        for t in TABLES:
            got = _canon(self.store.read(self.spark, t).select(*gen.COLUMNS[t]).collect())
            want = _canon(tuple(r[c] for c in gen.COLUMNS[t]) for r in model[t].values())
            if got != want:
                bad.append(f"base table {t}: {len(got)} rows stored, {len(want)} in the model")
        return bad

    def recomputed(self, name: str):
        """The view's defining query over the committed base tables."""
        view = self.mgr.registry[name]
        return view.defining_fn(self.mgr._base_tables(view))

    def check_views(self) -> list[str]:
        """Views that differ from their full recompute (incremental ≡ full)."""
        bad = []
        for name in VIEWS:
            full = self.recomputed(name)
            got = _canon(self.store.read(self.spark, name).select(*full.columns).collect())
            if got != _canon(full.collect()):
                bad.append(f"view {name}: incremental != full recompute")
        return bad


def _feed(root: str, stream: gen.Stream, slots) -> list[tuple[float, str, int, list[int]]]:
    """Write one feed file per slot: ``[(due_s, path, n_changes, committed)]``."""
    feed = os.path.join(root, "feed")
    out = []
    for due, committed, open_txs, n, done in slots:
        path = write_feed_transactions(feed, committed, open_txs)
        out.append((due, path, n, done))
    return out


class Run:
    """One workload run: session, set-up, timed region, gates, metrics."""

    def __init__(self, spark, root: str, seed: int, seconds: float, traced: bool,
                 t_start: float) -> None:
        self.spark = spark
        self.root = root
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer() if traced else None
        self.counters = SparkCounters(spark) if traced else None
        self.t_start = t_start
        self.attempted = 0
        self.failures: list[str] = []
        self.layer: dict[str, float] = {}

    # -- tracing helpers ----------------------------------------------------

    def _instrument(self, pipe: Pipeline) -> None:
        t = self.tracer
        t.wrap(pipe.cdc, "apply_envelope_batch", "changefeed.apply")
        t.wrap(pipe.mgr, "refresh_dag", "dynamic_table.refresh_dag")
        t.wrap(pipe.mgr, "incremental_refresh", "dynamic_table.incremental_refresh")
        t.wrap(pipe.mgr, "full_refresh", "dynamic_table.full_refresh")
        for m in ("merge", "overwrite", "commit_group", "read", "read_group"):
            t.wrap(pipe.store, m, f"store.{m}")

    def _span(self, name: str):
        return nullcontext() if self.tracer is None else self.tracer.span(name)

    def _op_breakdown(self, op_name: str) -> list[dict]:
        """Per op span (tick or render): self seconds and jobs per layer,
        span seconds per store method, Spark totals."""
        spans = self.tracer.spans
        selfs = self_times(spans)
        by_id = {s.id: s for s in spans}
        off = time.time() - time.perf_counter()
        jobs = attribute(self.counters.jobs(), spans, lambda c: c + off)

        def root_of(s):
            while s.parent is not None and s.name != op_name:
                s = by_id[s.parent]
            return s

        ops = {s.id: {"self": {}, "dur": {}, "jobs": {}, "tasks": 0, "shuffle": 0,
                      "spill": 0, "cpu": 0.0, "n_jobs": 0, "wall": s.end - s.start}
               for s in spans if s.name == op_name}
        for s in spans:
            r = root_of(s)
            if r.id not in ops:
                continue
            o = ops[r.id]
            layer = s.name.split(".")[0]
            o["self"][layer] = o["self"].get(layer, 0.0) + selfs[s.id]
            o["dur"][s.name] = o["dur"].get(s.name, 0.0) + (s.end - s.start)
            for j in jobs.get(s.id, []):
                o["jobs"][layer] = o["jobs"].get(layer, 0) + 1
                o["n_jobs"] += 1
                o["tasks"] += j["tasks"]
                o["shuffle"] += j["shuffle_bytes"]
                o["spill"] += j["spill_bytes"]
                o["cpu"] += j["cpu_s"]
        return list(ops.values())

    def _spark_layer(self, ops: list[dict], probe_s: float, wall: float) -> None:
        """Spark totals per op, and the tracing overhead: bookkeeping plus
        probes run inside the timed loop, over the loop's wall time."""
        busy = sum(o["wall"] for o in ops) * len(os.sched_getaffinity(0))
        self.layer.update({
            "spark.jobs_per_op": med([o["n_jobs"] for o in ops]),
            "spark.tasks_per_op": med([o["tasks"] for o in ops]),
            "spark.shuffle_bytes_per_op": med([o["shuffle"] for o in ops]),
            "spark.spill_bytes": sum(o["spill"] for o in ops),
            "spark.cpu_busy_frac": sum(o["cpu"] for o in ops) / busy,
            "trace.overhead_frac": (self.tracer.overhead_s + probe_s) / wall,
        })

    # -- workloads ----------------------------------------------------------

    def cdc_trickle(self) -> dict:
        cfg = TRICKLE
        n_warm = cfg["warmup_ticks"] * cfg["warmup_files"]
        horizon = n_warm * cfg["slot_s"] + cfg["backlog_s"] + self.seconds + 30
        stream = gen.make_stream(self.seed, cfg["n_customers"], cfg["n_base_tx"],
                                 math.ceil(horizon * cfg["rate"] / gen.ROWS_PER_TXN))
        due = gen.schedule(stream, cfg["rate"])
        files = _feed(self.root, stream, gen.slot_batches(stream, due, cfg["slot_s"]))
        pipe = Pipeline(self.spark, self.root, stream, cfg["buckets"])
        store_root = pipe.store.root
        snap = _store_files(store_root)
        # warm-up: closed-loop ticks over the head of the stream, ending
        # mid-transaction (the first tick after start-up costs about
        # twice a warm one)
        for k in range(cfg["warmup_ticks"]):
            pipe.apply([f[1] for f in files[k * cfg["warmup_files"]:(k + 1) * cfg["warmup_files"]]])
        after = _store_files(store_root)
        warm_bytes = _written(snap, after)
        snap = after
        setup_s = time.perf_counter() - self.t_start

        if self.tracer:
            self._instrument(pipe)
            self.counters.mark()
        n_log = len(pipe.mgr.refresh_log)
        live = files[n_warm:]
        written, deferred, probe_s = [], [], 0.0

        def apply(first: int, stop: int) -> None:
            nonlocal snap, probe_s
            self.attempted += 1
            with self._span("tick"):
                pipe.apply([f[1] for f in live[first:stop]])
            t = time.perf_counter()
            after = _store_files(store_root)
            written.append(_written(snap, after))
            snap = after
            if self.tracer:
                deferred.append(txn_pending_state(self.spark, pipe.store)
                                .groupBy().sum("rows_buffered").first()[0] or 0)
                probe_s += time.perf_counter() - t

        # the open loop starts with backlog_s of changes due: those that
        # arrived while the last warm-up tick ran
        shift = n_warm * cfg["slot_s"] + cfg["backlog_s"]
        ticks = run_open_loop([f[0] - shift for f in live], apply, self.seconds,
                              cfg["min_ticks"])
        wall = ticks[-1].end

        # per-change freshness of the changes sent in the open loop:
        # scheduled send -> end of the tick that made its transaction
        # visible in the base tables and the view
        tick_of_file = {i: k for k, tk in enumerate(ticks) for i in range(tk.first, tk.stop)}
        commit_tick = {t: tick_of_file[i] for i, f in enumerate(live)
                       if i in tick_of_file for t in f[3]}
        sent0 = n_warm * cfg["slot_s"]
        lags: list[list[float]] = [[] for _ in ticks]
        for d, t, _c in due:
            if t in commit_tick and d >= sent0:
                lags[commit_tick[t]].append(ticks[commit_tick[t]].end - (d - shift))
        rows = [sum(f[2] for f in live[tk.first:tk.stop]) for tk in ticks]
        n_committed = (max(commit_tick) + 1 if commit_tick
                       else sum(len(f[3]) for f in files[:n_warm]))
        self._gate(pipe.check_base(gen.final_state(stream, n_committed)) + pipe.check_views())
        summary = stats.summarize([x for xs in lags for x in xs])
        # change rows taken in per second between the first and the last
        # tick start: the offered rate while the backlog stays flat
        rows_per_s = (sum(rows[1:]) / (ticks[-1].start - ticks[0].start)
                      if len(ticks) > 1 else 0.0)

        if self.tracer:
            self.tracer.unwrap_all()
            ops = self._op_breakdown("tick")
            self._cdc_layer(pipe, ops, n_log, written, deferred)
            self._spark_layer(ops, probe_s, wall)
            self.layer["changefeed.rows_per_s"] = rows_per_s
        print(f"cdc_trickle: offered {cfg['rate']} rows/s, taken in {rows_per_s:.2f} rows/s, "
              f"{len(ticks)} ticks, rows/tick {rows}, bytes/tick {written}, "
              f"tick s {[round(tk.end - tk.start, 2) for tk in ticks]}, "
              f"tick lag p50 {[round(statistics.median(xs), 2) if xs else None for xs in lags]}, "
              + stats.describe("lag", summary))
        return {
            "setup_s": setup_s,
            "latency_p50_s": summary["p50"],
            "write_bytes_per_row": (warm_bytes + sum(written))
            / (sum(f[2] for f in files[:n_warm]) + sum(rows)),
        }

    def _cdc_layer(self, pipe, ops, n_log, written, deferred) -> None:
        log = pipe.mgr.refresh_log[n_log:]
        modes = [r[1] for r in log]
        live = sum(m[0] for m in _store_files(pipe.store.root).values())
        self.layer.update({
            "changefeed.apply_self_s": med([o["self"].get("changefeed", 0.0) for o in ops]),
            "changefeed.jobs_per_tick": med([o["jobs"].get("changefeed", 0) for o in ops]),
            "changefeed.rows_deferred_per_tick": med(deferred),
            "dynamic_table.refresh_self_s": med([o["self"].get("dynamic_table", 0.0) for o in ops]),
            "dynamic_table.jobs_per_tick": med([o["jobs"].get("dynamic_table", 0) for o in ops]),
            "dynamic_table.incremental_frac": sum(m != "FULL" for m in modes) / max(1, len(modes)),
            "dynamic_table.no_change_frac": sum(m == "NO_CHANGE" for m in modes) / max(1, len(modes)),
            "store.merge_s": med([o["dur"].get("store.merge", 0.0) for o in ops]),
            "store.overwrite_s": med([o["dur"].get("store.overwrite", 0.0) for o in ops]),
            "store.commit_group_s": med([o["dur"].get("store.commit_group", 0.0) for o in ops]),
            "store.read_s": med([o["dur"].get("store.read", 0.0) for o in ops]),
            "store.bytes_written_per_tick": med(written),
            "store.write_amp": med(written) / live,
        })
        self._files_layer(pipe)

    def _files_layer(self, pipe) -> None:
        for t in ("transactions", *VIEWS):
            self.layer[f"store.files_per_table.{t}"] = pipe.live_files(t)

    def dashboard_reads(self) -> dict:
        cfg = DASHBOARD
        stream = gen.make_stream(self.seed, cfg["n_customers"], cfg["n_base_tx"], 0)
        pipe = Pipeline(self.spark, self.root, stream, cfg["buckets"])
        setup_bytes = sum(m[0] for m in _store_files(pipe.store.root).values())
        self._gate(pipe.check_base(gen.final_state(stream, 0)))
        engine = Engine(self.spark, pipe.store.root)
        for _ in range(cfg["warmup_renders"]):
            self._render(engine, {f: [] for f in PARTS})
        setup_s = time.perf_counter() - self.t_start

        if self.tracer:
            self.tracer.wrap(engine.store, "read", "store.read")
            self.tracer.wrap(engine.store, "read_group", "store.read")
            self.counters.mark()
        frame_s: dict[str, list[float]] = {f: [] for f in PARTS}
        render_s = []
        t0 = time.perf_counter()
        while (time.perf_counter() - t0 < self.seconds
               or len(render_s) < cfg["min_renders"]):
            self.attempted += 1
            r0 = time.perf_counter()
            with self._span("render"):
                rendered = self._render(engine, frame_s)
            render_s.append(time.perf_counter() - r0)
        wall = time.perf_counter() - t0

        self._gate(self._check_frames(pipe, rendered))
        summary = stats.summarize(render_s)
        if self.tracer:
            self.tracer.unwrap_all()
            ops = self._op_breakdown("render")
            for f, xs in frame_s.items():
                self.layer[f"dashboard.{f}_s"] = med(xs)
            self.layer["store.read_s"] = med([o["dur"].get("store.read", 0.0) for o in ops])
            self._files_layer(pipe)
            self._spark_layer(ops, 0.0, wall)
        frames = stats.summarize([x for f in (*FRAMES, "date_window") for x in frame_s[f]])
        print(f"dashboard_reads: render s {[round(r, 2) for r in render_s]}, "
              + stats.describe("render", summary) + ", " + stats.describe("frame", frames))
        return {
            "setup_s": setup_s,
            "latency_p50_s": summary["p50"],
            "write_bytes_per_row": setup_bytes / sum(len(r) for r in stream.base.values()),
        }

    def _frames(self, summary_df) -> dict:
        """The rendered frames, the date window's clamp included.  The
        clamp's ``first()`` is the first action on the summary
        ``dashboard_main`` caches, so it runs the store scan and fills
        the cache."""
        cfg = DASHBOARD
        frames = dashboard.dashboard_main(summary_df)
        start, end = dashboard.clamp_date_range(
            frames["summary"], *cfg["window"], today=TODAY)
        window = dashboard.customers_with_spend_status(
            dashboard.filter_by_date_range(frames["summary"], start, end),
            frames["customer_spending"], cfg["status"])
        return {**frames, "date_window": window}

    def _render(self, engine, part_s) -> dict[str, list]:
        """One render of the dashboard's full data path: the load (store
        read, frame plans, date clamp, cache fill), then each frame
        collected, as the UI does.  Returns the collected frames."""
        f0 = time.perf_counter()
        with self._span("dashboard.load"):
            frames = self._frames(engine.consistent_table(SUMMARY))
        part_s["load"].append(time.perf_counter() - f0)
        out = {}
        try:
            for name in (*FRAMES, "date_window"):
                f0 = time.perf_counter()
                with self._span(f"dashboard.{name}"):
                    out[name] = frames[name].collect()
                part_s[name].append(time.perf_counter() - f0)
        finally:
            frames["summary"].unpersist()
        return out

    def _check_frames(self, pipe, rendered: dict[str, list]) -> list[str]:
        """The last render's frames == the same frames over the view
        recomputed from the committed base tables."""
        want = self._frames(pipe.recomputed(SUMMARY))
        try:
            return [f"dashboard frame {n}" for n in rendered
                    if _canon(rendered[n]) != _canon(want[n].collect())]
        finally:
            want["summary"].unpersist()

    def _gate(self, bad: list[str]) -> None:
        self.attempted += 1
        self.failures.extend(bad)
