"""Dynamic Tables: incrementally-maintained materialized views.

Reference semantics (``notebooks/0_start_here.ipynb:215-245``): a
stored defining query (the 4-way join), a freshness SLO
(``TARGET_LAG='1 minute'``), and ``REFRESH_MODE=INCREMENTAL`` -- each
refresh folds only the delta of the defining query into the
materialization.

Refresh strategies (SURVEY.md section 4.3):

- ``full_refresh``: recompute the defining query over current base
  snapshots and overwrite.  Trivially correct; the oracle the
  incremental path is property-tested against.
- ``incremental_refresh``: DBToaster-style delta propagation
  specialized to star joins (one fact + keyed dims):

  1. affected fact keys = keys touched in the fact delta, plus fact
     rows referencing any changed dim key (a semi-join of the fact
     snapshot against the broadcast dim-delta keys);
  2. recompute the defining query restricted to those fact rows
     (dims join at current snapshots, so dim U/D retroactivity is
     handled by construction -- including through the composite
     J2 conjunct);
  3. MERGE: drop affected keys from the materialization, union the
     recomputed rows.  Deletes fall out because deleted/orphaned
     rows simply don't reappear in the recomputation.

  Cost per tick is O(|delta| join work), not O(|fact|): exactly the
  incremental-refresh promise.  At 100 TB the semi-joins broadcast
  the (small) delta key sets and never shuffle the fact table; the
  merge anti-join co-locates with a view store bucketed on the view
  key.

AGGREGATE views (``group_col`` set) use the same skeleton with the
grouping column as the anchor: affected GROUPS = groups gaining rows
(delta payload) ∪ groups losing rows (old membership of deleted/
updated PKs, resolved against the previous fact snapshot) ∪ groups
whose dims changed; the defining query recomputes only those groups'
fact rows, and the merge swaps whole group rows.  Per-tick cost is
O(|fact rows of touched groups|) -- the standard high-cardinality-
group sweet spot; a low-cardinality group (everyone in one group)
degrades to full recompute, which is what it semantically is.

CHAINED dynamic tables (the DT-on-DT DAG that is the product's
flagship composition pattern, beyond the single-view reference
quickstart): a view may name another view as its ``fact_table`` or as
a dim.  ``incremental_refresh(emit_delta=True)`` emits the refresh's
own change batch in the SAME envelope-flattened form the CDC apply
produces -- 'U' rows for every affected view key still present after
the merge, 'D' rows (payload NULL) for affected keys that vanished --
and ``refresh_dag`` walks the registry in dependency order feeding
each view's emitted delta downstream, so a delta cascades through the
chain with every level doing O(|its affected set|) work.  Old-group
resolution downstream comes free from the versioned store:
``read_previous`` of an upstream view is exactly its pre-tick
snapshot -- which holds under crash-retries because a refresh whose
recomputed rows already equal the materialization SKIPS its commit
(mode ``NO_CHANGE``): a restarted driver re-running a half-finished
tick re-merges identical content at every already-committed level,
and bumping versions for those no-ops would shift the pre-tick
snapshot downstream levels still need (the old group of a moved row
would never shrink).  A level that cannot refresh incrementally (first
materialization, missing previous version) full-refreshes WITHOUT a
delta, and every transitive downstream falls back to full refresh for
that tick -- correctness over cleverness.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .store import ParquetTableStore

#: Sentinel returned by ``incremental_refresh(emit_delta=True)`` when
#: the view was rebuilt via the full-refresh fallback and therefore
#: cannot say WHICH keys changed: downstream views must full-refresh.
FULL_REFRESH = object()


@dataclass
class DynamicTable:
    """Registry entry: the view definition is first-class metadata
    (SURVEY.md section 3.2)."""

    name: str
    #: defining query: {base_table_name: DataFrame} -> DataFrame
    defining_fn: Callable[[dict[str, DataFrame]], DataFrame]
    #: base table holding the fact rows, and its PK
    fact_table: str
    fact_key: str
    #: view column that carries the fact PK (the view's merge key)
    view_key: str
    #: dim_table -> (fact FK column, dim PK column)
    dims: dict[str, tuple[str, str]] = field(default_factory=dict)
    target_lag_seconds: int = 60
    refresh_mode: str = "incremental"  # 'incremental' | 'full'
    #: set for AGGREGATE views: the fact column whose values are the
    #: view's group keys (view_key must name the same values in the
    #: view output).  When set, incremental refresh recomputes whole
    #: affected GROUPS instead of per-fact-row view rows.
    group_col: str | None = None
    #: hash-partition the materialization on ``view_key`` into this
    #: many buckets; each refresh then rewrites only the buckets whose
    #: keys changed (store-level partition-pruned MERGE) instead of the
    #: whole snapshot -- the O(delta) write-I/O path for large views.
    partition_buckets: int | None = None


class DynamicTableManager:
    def __init__(self, spark: SparkSession, store: ParquetTableStore) -> None:
        self.spark = spark
        self.store = store
        self.registry: dict[str, DynamicTable] = {}
        #: per-refresh audit records (the product's
        #: DYNAMIC_TABLE_REFRESH_HISTORY analogue); queryable via
        #: ``refresh_history()``
        self.refresh_log: list[tuple] = []

    def _log_refresh(self, name: str, mode: str, t0: float) -> None:
        import datetime as _dt
        import time as _time

        self.refresh_log.append(
            (
                name,
                mode,
                round(_time.time() - t0, 3),
                _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None),
            )
        )

    def refresh_history(self, last: int | None = None) -> DataFrame:
        """Per-refresh audit trail as a DataFrame (newest last):
        view name, refresh mode ('FULL' | 'INCREMENTAL' | 'NO_DATA'),
        wall seconds, UTC timestamp -- the monitoring surface a
        Dynamic Tables user queries as DYNAMIC_TABLE_REFRESH_HISTORY."""
        rows = self.refresh_log if last is None else self.refresh_log[-last:]
        return self.spark.createDataFrame(
            rows or [],
            "view_name string, refresh_mode string, duration_sec double, ts timestamp",
        )

    def create(self, table: DynamicTable, initialize: bool = True) -> None:
        # product lag semantics for chained views: a downstream view
        # can never be fresher than what it reads, so a target lag
        # tighter than an upstream view's is unsatisfiable -- reject at
        # create time instead of silently missing the SLO every tick
        for up in (table.fact_table, *table.dims.keys()):
            up_dt = self.registry.get(up)
            if up_dt is not None and table.target_lag_seconds < up_dt.target_lag_seconds:
                raise ValueError(
                    f"dynamic table {table.name!r} declares target_lag="
                    f"{table.target_lag_seconds}s but reads {up!r} with "
                    f"target_lag={up_dt.target_lag_seconds}s -- a view cannot "
                    "be fresher than its upstream"
                )
        # ... and the same invariant from the other side: re-creating
        # an upstream with a LOOSER lag (create overwrites registry
        # entries) must not silently break downstreams that already
        # promised a tighter one
        for down_name, down in self.registry.items():
            if down_name == table.name:
                continue
            if table.name in (down.fact_table, *down.dims.keys()) and (
                down.target_lag_seconds < table.target_lag_seconds
            ):
                raise ValueError(
                    f"dynamic table {table.name!r} declares target_lag="
                    f"{table.target_lag_seconds}s but downstream view "
                    f"{down_name!r} reads it with target_lag="
                    f"{down.target_lag_seconds}s -- loosening an upstream "
                    "would break the downstream's freshness promise"
                )
        self.registry[table.name] = table
        if initialize:
            self.full_refresh(table.name)
            # chained views consume this view's emitted change batches,
            # which prepend an ('op', 'lsn') envelope to the view
            # columns; a view whose own schema uses those names would
            # emit duplicate columns and fail ambiguously downstream.
            # The schema is only knowable once the defining query has
            # run, so check here (and again at emit time for
            # initialize=False creations).
            self._check_envelope_collision(
                table.name, self.store.read(self.spark, table.name).columns
            )

    @staticmethod
    def _check_envelope_collision(name: str, view_cols: list[str]) -> None:
        clash = [c for c in view_cols if c.lower() in ("op", "lsn")]
        if clash:
            raise ValueError(
                f"dynamic table {name!r} has column(s) {clash} that collide "
                "with the change-batch envelope ('op', 'lsn') used for "
                "chained views -- rename them in the defining query"
            )

    def read(self, name: str) -> DataFrame:
        return self.store.read(self.spark, name)

    # -- refresh strategies --------------------------------------------------

    def _base_tables(self, dt: DynamicTable) -> dict[str, DataFrame]:
        names = [dt.fact_table, *dt.dims.keys()]
        return {n: self.store.read(self.spark, n) for n in names}

    def full_refresh(self, name: str) -> None:
        import time as _time

        t0 = _time.time()
        dt = self.registry[name]
        view = dt.defining_fn(self._base_tables(dt))
        if dt.partition_buckets:
            self.store.overwrite(
                name, view, partition_key=dt.view_key, n_buckets=dt.partition_buckets
            )
        else:
            self.store.overwrite(name, view)
        self._log_refresh(name, "FULL", t0)

    def incremental_refresh(
        self,
        name: str,
        deltas: dict[str, DataFrame],
        emit_delta: bool = False,
        lsn: int = 0,
    ) -> DataFrame | object | None:
        """Fold base-table deltas (post-apply) into the materialization.

        ``deltas``: per-table change batches in envelope-flattened form
        (op, lsn, row columns), as produced by the CDC pipeline.

        With ``emit_delta``, returns this refresh's OWN change batch in
        the same form ('U' rows for affected keys still in the view,
        'D' rows with NULL payload for affected keys that vanished), so
        a downstream chained view can consume it as its fact/dim delta;
        returns ``None`` when nothing changed and the ``FULL_REFRESH``
        sentinel when the full-rebuild fallback ran (change set
        unknown).  The emitted frame is lazy against the post-merge
        store snapshot -- consume (or cache) it before the next tick
        moves the store again.
        """
        import time as _time

        t0 = _time.time()
        dt = self.registry[name]
        if not self.store.exists(name):
            self.full_refresh(name)
            return FULL_REFRESH if emit_delta else None
        relevant = {t: d for t, d in deltas.items() if t == dt.fact_table or t in dt.dims}
        if not relevant:
            self._log_refresh(name, "NO_DATA", t0)
            return None

        tables = self._base_tables(dt)
        fact = tables[dt.fact_table]

        # the "anchor": per-fact-row views key on the fact PK; aggregate
        # views key on the grouping column -- affected-set, restriction,
        # and merge all run on this column
        anchor = dt.group_col or dt.fact_key

        # 1. affected anchor keys
        affected: DataFrame | None = None
        fact_delta = relevant.get(dt.fact_table)
        if fact_delta is not None:
            if dt.group_col is None:
                affected = fact_delta.select(F.col(dt.fact_key))
            else:
                # groups gaining rows: from the delta payload (D rows
                # carry a NULL payload -- drop them here)
                affected = fact_delta.filter(F.col("op") != "D").select(F.col(anchor))
                # groups LOSING rows (deletes, and updates that moved a
                # row between groups): old membership via the previous
                # fact snapshot, looked up by PK
                prev = self.store.read_previous(self.spark, dt.fact_table)
                if prev is None:
                    # cannot resolve old groups -> correctness fallback
                    self.full_refresh(name)
                    return FULL_REFRESH if emit_delta else None
                old_keys = prev.join(
                    F.broadcast(fact_delta.select(F.col(dt.fact_key))),
                    on=dt.fact_key,
                    how="left_semi",
                ).select(F.col(anchor))
                affected = affected.unionByName(old_keys)
        # dim-changed fact rows in ONE fact scan (r15): the previous
        # shape unioned one fact⋈dim-keys semi-join PER changed dim --
        # three full fact scans per tick on the reference star.  One
        # scan with a broadcast existence-probe per changed dim (left
        # join against the DISTINCT key set -- unique keys, so no row
        # multiplication -- then keep rows where any probe hit) yields
        # the same affected set; the union's cross-dim duplicates only
        # ever fed semi/anti joins, so dropping them changes nothing.
        dim_probes = [
            (i, fact_fk, dim_pk, relevant[dim_table])
            for i, (dim_table, (fact_fk, dim_pk)) in enumerate(dt.dims.items())
            if dim_table in relevant
        ]
        if dim_probes:
            probe = fact
            hit_any = F.lit(False)
            for i, fact_fk, dim_pk, dim_delta in dim_probes:
                ck = (
                    dim_delta.select(F.col(dim_pk).alias(f"__dk{i}"))
                    .distinct()
                    .withColumn(f"__hit{i}", F.lit(True))
                )
                probe = probe.join(
                    F.broadcast(ck), probe[fact_fk] == F.col(f"__dk{i}"), "left"
                )
                hit_any = hit_any | F.coalesce(F.col(f"__hit{i}"), F.lit(False))
            hit = probe.filter(hit_any).select(F.col(anchor))
            affected = hit if affected is None else affected.unionByName(hit)
        if affected is None:
            self._log_refresh(name, "NO_DATA", t0)
            return None
        # no .distinct(): duplicates in the key set don't change semi/
        # anti-join semantics, and dropping it removes a shuffle; the
        # broadcast carries a few duplicate keys instead
        affected = affected.cache()
        try:
            # 2. recompute the defining query over affected fact rows
            # (row views) / whole affected groups (aggregate views)
            restricted = dict(tables)
            restricted[dt.fact_table] = fact.join(
                F.broadcast(affected), on=anchor, how="left_semi"
            )
            recomputed = dt.defining_fn(restricted).cache()

            # 3. MERGE into the materialization by view key -- UNLESS
            # the recompute is a NO-OP (affected rows already hold
            # exactly these values).  Skipping the no-op commit is what
            # makes a refresh level idempotent per tick: a crashed
            # tick retried from the top re-runs level k's merge with
            # identical content, and bumping the version anyway would
            # shift ``read_previous`` of this view off the true
            # pre-tick snapshot -- downstream old-group resolution
            # (the band a moved row LEFT) then silently reads
            # post-tick state and the old group is never shrunk
            # (caught by tests/test_chained_crash_retry.py).  The
            # check is O(affected): count+checksum both sides, exact
            # exceptAll confirm only on checksum match.
            affected_view_keys = affected.withColumnRenamed(anchor, dt.view_key)
            view = self.store.read(self.spark, name)
            view_affected = view.join(
                F.broadcast(affected_view_keys), on=dt.view_key, how="left_semi"
            )
            # For a PARTITIONED view the same one-action stats pass
            # also collects each side's touched-bucket set (r15), so
            # the merge below skips its own bucket-id collect: buckets
            # of (recomputed ∪ view∩affected) cover every bucket whose
            # content can change -- an affected key in NEITHER frame
            # has no stored row to delete and no new row to add, so
            # its bucket carries over byte-identically (the old merge
            # read + rewrote it for nothing).
            spec = self.store.partition_spec(name)
            bucket_of = (
                ParquetTableStore.bucket_expr(dt.view_key, spec[1])
                if spec
                else None
            )
            same, touched_buckets = self._same_rows(
                recomputed, view_affected, bucket_of
            )
            if same:
                # NO_CHANGE also skips the version bump, so a LATER
                # tick's downstream old-group resolution via
                # ``read_previous`` of this view sees a snapshot from
                # before this tick.  That staleness is safe -- but only
                # because of two delta-shape invariants this branch
                # relies on (pinned by tests/test_chained_dynamic_
                # tables.py::test_no_change_tick_read_previous_staleness
                # _is_safe):
                #   (a) the delta this tick still emits below carries
                #       no 'D' rows (NO_CHANGE means no key vanished),
                #       and a D row is the only case where the affected
                #       group is derivable ONLY from ``read_previous``
                #       (its payload is NULL);
                #   (b) its 'U' payloads equal the current = pre-tick
                #       rows, so every key's TRUE pre-tick group is
                #       recoverable from the payload itself.
                # A stale prev can therefore only ADD spurious affected
                # groups (recomputed to the same value -- harmless),
                # never miss one.  If the delta shape ever changes
                # (e.g. D rows with non-NULL payloads dropped, or U
                # payloads no longer reflecting post-merge state), this
                # branch must bump the version too.
                self._log_refresh(name, "NO_CHANGE", t0)
            else:
                if spec:
                    # partition-pruned: only buckets holding affected
                    # keys are read + rewritten; untouched buckets
                    # carry over.  The bucket set rode the stats pass
                    # above -- no extra collect action here.
                    self.store.merge(
                        self.spark,
                        name,
                        recomputed,
                        affected_view_keys,
                        touched_buckets=touched_buckets,
                    )
                else:
                    kept = view.join(
                        F.broadcast(affected_view_keys),
                        on=dt.view_key,
                        how="left_anti",
                    )
                    self.store.overwrite(name, kept.unionByName(recomputed))
                self._log_refresh(name, "INCREMENTAL", t0)

            if not emit_delta:
                return None
            # 4. the refresh's own change batch, for chained views:
            # post-merge state of every affected key -- present keys
            # become 'U' payloads, vanished keys 'D' rows with a NULL
            # payload (exactly the shape the CDC apply emits, so the
            # downstream refresh consumes it unchanged)
            new_rows = self.store.read(self.spark, name).join(
                F.broadcast(affected_view_keys), on=dt.view_key, how="left_semi"
            )
            # the create(initialize=False) path never saw the view
            # schema -- re-validate before prepending the envelope
            self._check_envelope_collision(name, new_rows.columns)
            envelope = [
                F.lit("U").alias("op"),
                F.lit(lsn).cast("long").alias("lsn"),
            ]
            upserts = new_rows.select(*envelope, *new_rows.columns)
            gone = affected_view_keys.distinct().join(
                new_rows.select(dt.view_key), on=dt.view_key, how="left_anti"
            )
            dels = gone.select(
                F.lit("D").alias("op"),
                F.lit(lsn).cast("long").alias("lsn"),
                *[
                    F.col(fld.name).alias(fld.name)
                    if fld.name == dt.view_key
                    else F.lit(None).cast(fld.dataType).alias(fld.name)
                    for fld in new_rows.schema.fields
                ],
            )
            return upserts.unionByName(dels)
        finally:
            affected.unpersist()
            recomputed.unpersist()

    @staticmethod
    def _same_rows(
        a: DataFrame, b: DataFrame, bucket_of=None
    ) -> tuple[bool, list[int]]:
        """Order-independent multiset equality of two delta-sized
        frames, cheap-path first: (count, commutative row-hash sum)
        on each side in one aggregate apiece; only a match runs the
        exact two-sided ``exceptAll`` confirm (guarding the ~2^-30
        hash-collision case) -- so the common changed-rows tick pays
        two tiny aggregates, never a compare shuffle.  Columns are
        aligned by name (recompute and store may order them
        differently); hashing is over exact bit patterns, and the
        recompute is deterministic, so a crash-retry always matches.

        ``bucket_of`` (a Column expression over the frames' own
        columns, e.g. ``ParquetTableStore.bucket_expr``): ALSO return
        the union of both sides' bucket ids from the SAME action, so a
        partitioned-view caller feeds ``store.merge(touched_buckets=)``
        without a second per-tick collect over the delta lineage
        (r15).  Returns ``(equal, sorted bucket ids | None)``; the
        bucket list is None when ``bucket_of`` is None or when no
        stats pass ran (column mismatch) -- None tells the merge to
        compute its own bucket set."""
        cols = sorted(a.columns)
        if cols != sorted(b.columns):
            return False, None

        # BOTH sides' (count, hash-sum, bucket set) in ONE action:
        # tag-and-union instead of two per-side aggregates -- at toy
        # scale each aggregate action fans into 2-3 AQE stage-jobs,
        # and this check runs once per refresh tick, so halving its
        # actions measurably cuts the drive's per-tick job floor
        # (r14: 6 -> 3 first/collect actions across the 3-batch drive)
        def tagged(df: DataFrame, side: int) -> DataFrame:
            return df.select(
                F.lit(side).alias("__sr_side"),
                F.pmod(F.xxhash64(*cols), F.lit(1_000_000_007)).alias("__sr_h"),
                (bucket_of if bucket_of is not None else F.lit(0)).alias(
                    "__sr_b"
                ),
            )

        rows = (
            tagged(a, 0)
            .unionByName(tagged(b, 1))
            .groupBy("__sr_side")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("__sr_h").alias("s"),
                F.collect_set("__sr_b").alias("bs"),
            )
            .collect()
        )
        buckets = (
            sorted({int(x) for r in rows for x in r["bs"]})
            if bucket_of is not None
            else None
        )
        # an empty side produces no group row == (0, None), the same
        # stats the old per-side global aggregate returned for it
        by_side = {r["__sr_side"]: (r["n"], r["s"]) for r in rows}
        if by_side.get(0, (0, None)) != by_side.get(1, (0, None)):
            return False, buckets
        aa, bb = a.select(*cols), b.select(*cols)
        equal = aa.exceptAll(bb).isEmpty() and bb.exceptAll(aa).isEmpty()
        return equal, buckets

    # -- chained views (DT-on-DT DAG) ----------------------------------------

    def _upstream_views(self, dt: DynamicTable) -> list[str]:
        """Registered views this view reads (as fact or dim)."""
        return [t for t in (dt.fact_table, *dt.dims.keys()) if t in self.registry]

    def refresh_order(self) -> list[str]:
        """Registry names in dependency order (Kahn; insertion-order
        tie-break so flat registries keep their creation order).
        Raises on a cycle -- a view DAG must be a DAG."""
        pending = dict.fromkeys(self.registry)
        order: list[str] = []
        while pending:
            ready = [
                n
                for n in pending
                if all(u not in pending for u in self._upstream_views(self.registry[n]))
            ]
            if not ready:
                raise ValueError(f"dynamic-table dependency cycle among {sorted(pending)}")
            for n in ready:
                order.append(n)
                del pending[n]
        return order

    def refresh_dag(self, deltas: dict[str, DataFrame], lsn: int = 0) -> dict[str, DataFrame]:
        """Refresh every registered view in dependency order, feeding
        each refresh's emitted change batch to the views chained on it
        -- one base-table delta cascades through the whole DAG with
        every level doing O(|its affected set|) work.

        A level that full-refreshes (first materialization, missing
        previous version, ``refresh_mode='full'``) emits no delta, and
        every transitive downstream full-refreshes this tick.  Returns
        the per-view emitted deltas (cached; valid until the next tick
        moves the store)."""
        all_deltas = dict(deltas)
        forced_full: set[str] = set()
        emitted: dict[str, DataFrame] = {}
        for name in self.refresh_order():
            dt = self.registry[name]
            if dt.refresh_mode != "incremental" or any(
                u in forced_full for u in self._upstream_views(dt)
            ):
                self.full_refresh(name)
                forced_full.add(name)
                continue
            out = self.incremental_refresh(name, all_deltas, emit_delta=True, lsn=lsn)
            if out is FULL_REFRESH:
                forced_full.add(name)
            elif out is not None:
                out = out.cache()
                all_deltas[name] = out
                emitted[name] = out
        return emitted

    # -- top-k views ---------------------------------------------------------
    #
    # Top-k-per-group is the view shape the delta-propagation skeleton
    # above can't anchor (a delete of a result row promotes something
    # the view no longer remembers); it gets its own maintenance via
    # the buffered algorithm in operators/topk_incremental.py, behind
    # the same registry/refresh/read surface.

    def create_topk(
        self,
        name: str,
        fact_table: str,
        group_col: str,
        id_col: str,
        order_col: str,
        k: int,
        buffer_factor: int = 2,
    ) -> None:
        from ..operators.topk_incremental import init_topk, topk

        spec = {
            "fact_table": fact_table,
            "group_col": group_col,
            "id_col": id_col,
            "order_col": order_col,
            "k": k,
            "buffer_factor": buffer_factor,
        }
        self.topk_registry = getattr(self, "topk_registry", {})
        self.topk_registry[name] = spec
        fact = self.store.read(self.spark, fact_table)
        state = init_topk(fact, group_col, id_col, order_col, k, buffer_factor)
        self.store.overwrite(f"{name}__buffer", state.buffer)
        self.store.overwrite(f"{name}__sat", state.saturated)
        self.store.overwrite(name, topk(state, group_col, id_col, order_col, k))

    def topk_refresh(self, name: str, deltas: dict[str, DataFrame]) -> int:
        """Fold the fact delta into the buffered top-k state; returns
        the number of groups refilled (0 on the normal fast path)."""
        from ..operators.topk_incremental import (
            TopKState,
            apply_topk_delta,
            topk_of_buffer,
        )

        spec = self.topk_registry[name]
        delta = deltas.get(spec["fact_table"])
        if delta is None:
            return 0
        state = TopKState(
            buffer=self.store.read(self.spark, f"{name}__buffer"),
            saturated=self.store.read(self.spark, f"{name}__sat"),
        )
        fact = self.store.read(self.spark, spec["fact_table"])
        new_state, n_refill = apply_topk_delta(
            state,
            delta,
            fact,
            spec["group_col"],
            spec["id_col"],
            spec["order_col"],
            spec["k"],
            spec["buffer_factor"],
        )
        # materialize the new state BEFORE overwriting its own source
        # version (the store retains old versions, but a lazy plan must
        # not read a superseded snapshot mid-write)
        new_buffer = new_state.buffer.localCheckpoint()
        new_sat = new_state.saturated.localCheckpoint()

        # Crash-safety invariant across the multi-table state commit:
        # every committed prefix must satisfy "saturated=false =>
        # the group's buffer is COMPLETE" -- the dangerous direction
        # (a buffer that discarded candidates while sat reads false)
        # makes a later delete-drain skip its refill and silently
        # serve an incomplete top-k, unrepairable by retries.  A
        # single sat write can't be ordered safely: trims need sat
        # committed BEFORE the trimmed buffer, refills (sat true ->
        # false) need the refilled buffer committed FIRST.  So sat
        # commits twice: a RAISE-ONLY pass (old OR new -- conservative;
        # over-saturation merely costs a spurious refill, which
        # recomputes from fact idempotently), then the buffer, then
        # the exact sat (applying lowers), then the derived view.  A
        # crash after any step leaves a state a blind full-tick retry
        # converges from (tests/test_topk_crash_retry.py).
        g = spec["group_col"]
        old_sat = self.store.read(self.spark, f"{name}__sat")
        sat_raise = (
            old_sat.withColumnRenamed("saturated", "__old")
            .join(new_sat.withColumnRenamed("saturated", "__new"), on=g, how="full")
            .select(
                g,
                (
                    F.coalesce(F.col("__old"), F.lit(False))
                    | F.coalesce(F.col("__new"), F.lit(False))
                ).alias("saturated"),
            )
        )
        self.store.overwrite(f"{name}__sat", sat_raise.localCheckpoint())
        self.store.overwrite(f"{name}__buffer", new_buffer)
        self.store.overwrite(f"{name}__sat", new_sat)
        # the view derives from the freshly committed buffer
        self.store.overwrite(
            name,
            topk_of_buffer(
                self.store.read(self.spark, f"{name}__buffer"),
                spec["group_col"],
                spec["id_col"],
                spec["order_col"],
                spec["k"],
            ),
        )
        return n_refill

    # -- CDC pipeline integration -------------------------------------------

    def attach(self, pipeline) -> None:
        """Refresh every registered view after each applied CDC batch
        (the target-lag scheduler degenerates to 'refresh per
        micro-batch'; the stream trigger supplies the cadence, C5).
        Views chained on other views refresh through ``refresh_dag``,
        so upstream change batches cascade within the same tick."""

        def hook(batch_id: int, deltas: dict[str, DataFrame]) -> None:
            emitted = self.refresh_dag(deltas, lsn=batch_id)
            for df in emitted.values():
                df.unpersist()
            for name in getattr(self, "topk_registry", {}):
                self.topk_refresh(name, deltas)

        pipeline.on_batch_applied(hook)


def dynamic_table_from_sql(
    spark: SparkSession,
    store: ParquetTableStore,
    name: str,
    sql: str,
    fact_table: str,
    fact_key: str,
    view_key: str,
    dims: dict[str, tuple[str, str]],
    target_lag: str = "1 minute",
    refresh_mode: str = "incremental",
    group_col: str | None = None,
    partition_buckets: int | None = None,
) -> DynamicTable:
    """SQL-text Dynamic Table definition -- the reference's
    ``CREATE DYNAMIC TABLE ... TARGET_LAG=... REFRESH_MODE=... AS
    SELECT ...`` surface (``notebooks/0_start_here.ipynb:215-245``)
    mapped onto the registry.

    The defining query is arbitrary SQL over the store's base tables,
    registered as temp views at refresh time; incremental maintenance
    machinery (affected-keys + restricted recompute) applies unchanged
    because restriction happens on the *input* fact view, ahead of
    whatever plan the SQL builds.

    An AGGREGATE defining query (GROUP BY) maintained incrementally
    must pass ``group_col`` (the fact column whose values key the
    groups); without it the per-fact-row merge anchor would silently
    append wrong group rows, so that combination raises instead.
    """
    lag_seconds = _parse_lag(target_lag)
    import re as _re

    if (
        refresh_mode == "incremental"
        and group_col is None
        and _re.search(r"(?i)\bGROUP\s+BY\b", sql)
    ):
        raise ValueError(
            f"dynamic table {name!r}: GROUP BY with refresh_mode='incremental' "
            "requires group_col= (the grouping fact column); pass it, or use "
            "refresh_mode='full'"
        )
    # every table the SQL scans must be registered (fact or dims):
    # deltas of unregistered tables would otherwise be silently ignored
    # and the materialization would go stale without an error.
    # SQL-syntax FROMs that are function keywords, not table scans --
    # EXTRACT(YEAR FROM ts), SUBSTRING(x FROM 1), TRIM(... FROM ...) --
    # are neutralized first so their operands aren't misread as tables.
    scan_sql = _re.sub(
        r"(?i)\b(EXTRACT|SUBSTRING|TRIM|POSITION|OVERLAY)\s*"
        r"\(((?:[^()]|\([^()]*\))*)\)",
        lambda m: _re.sub(r"(?i)\bFROM\b", " ", m.group(0)),
        sql,
    )
    referenced = {
        _re.split(r"\s*\.\s*", m.group(1))[-1].strip('"').lower()
        for m in _re.finditer(
            r'(?i)\b(?:FROM|JOIN)\s+((?:[A-Za-z_][\w$]*|"[^"]+")'
            r'(?:\s*\.\s*(?:[A-Za-z_][\w$]*|"[^"]+"))*)',
            scan_sql,
        )
    }
    known = {fact_table.lower(), *(d.lower() for d in dims)}
    unknown = referenced - known
    if unknown and refresh_mode == "incremental":
        raise ValueError(
            f"dynamic table {name!r}: defining SQL references "
            f"{sorted(unknown)} which are neither the fact table nor "
            "registered dims -- their changes would never trigger a "
            "refresh. Register them in dims= (delta-keyed propagation "
            "handles fact-sized tables too) or use refresh_mode='full'"
        )

    def defining_fn(tables: dict[str, DataFrame]) -> DataFrame:
        for t, df in tables.items():
            df.createOrReplaceTempView(t)
        return spark.sql(sql)

    return DynamicTable(
        name=name,
        defining_fn=defining_fn,
        fact_table=fact_table,
        fact_key=fact_key,
        view_key=view_key,
        dims=dims,
        target_lag_seconds=lag_seconds,
        refresh_mode=refresh_mode,
        group_col=group_col,
        partition_buckets=partition_buckets,
    )


def dynamic_table_from_ddl(
    spark: SparkSession,
    store: ParquetTableStore,
    ddl: str,
    partition_buckets: int | None = None,
) -> DynamicTable:
    """The reference's verbatim ``CREATE DYNAMIC TABLE`` DDL text --
    name, TARGET_LAG, REFRESH_MODE, WAREHOUSE, and the defining SELECT
    are parsed out and the fact/dim maintenance metadata is inferred
    from the join tree (:mod:`.ddl`), so the caller supplies exactly
    what a Snowflake user supplies: the SQL string, nothing else."""
    from .ddl import parse_dynamic_table_ddl

    parsed = parse_dynamic_table_ddl(ddl)
    return dynamic_table_from_sql(
        spark,
        store,
        parsed.name,
        parsed.select_sql,
        fact_table=parsed.fact_table,
        fact_key=parsed.fact_key,
        view_key=parsed.view_key,
        dims=parsed.dims,
        target_lag=parsed.target_lag,
        refresh_mode=parsed.refresh_mode,
        partition_buckets=partition_buckets,
    )


def _parse_lag(text: str) -> int:
    """'1 minute' / '30 seconds' / '2 hours' -> seconds."""
    qty, unit = text.strip().split()
    mult = {"second": 1, "seconds": 1, "minute": 60, "minutes": 60, "hour": 3600, "hours": 3600}
    try:
        return int(qty) * mult[unit.lower()]
    except KeyError as exc:
        raise ValueError(f"unsupported TARGET_LAG unit in {text!r}") from exc
