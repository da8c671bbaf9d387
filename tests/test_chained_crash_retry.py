"""Crash BETWEEN chain levels, then a blind full-tick retry
(found by round-13 self-review; the gap test_refresh_crash_recovery
left open: that file crashes within ONE level's merge, this one
crashes the DAG walk between two committed levels).

The failure mode being pinned: level-1 (customer spend) commits its
merge, the process dies before level-2 (band counts) refreshes, and
the restarted driver re-runs the whole tick.  Level-1's retried merge
recomputes identical rows; if it committed them anyway, the version
bump would make ``read_previous(spend)`` return POST-tick content, so
level-2's old-group resolution (the band a moved customer LEFT) reads
the new band and the old band's aggregate is never shrunk -- a silent
divergence a blind retry can never repair.  The fix: a refresh whose
recomputed rows equal the materialization skips its commit (mode
``NO_CHANGE``), making every level idempotent per tick.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.cdc_apply import (
    apply_changes,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.dynamic_table import (
    DynamicTable,
    DynamicTableManager,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.store import (
    ParquetTableStore,
)

# Fast-tier policy: this module is crash-injection coverage, which the
# FULL suite (`-m ""`) owns.  One fixed case stays in the default
# `-m "not slow"` tier (pytest.ini): the crash-retry over the
# unpartitioned ("overwrite") chain, whose view refresh runs the
# store's unpartitioned merge.  Every other case is marked slow.


TX = "op string, lsn long, t_id long, c_id long, amount double"


def _spend(t):
    s = t["tx"].groupBy("c_id").agg(F.sum("amount").alias("total"))
    return s.withColumn(
        "band",
        F.when(F.col("total") < 50, "LOW")
        .when(F.col("total") < 200, "MID")
        .otherwise("HIGH"),
    )


def _bands(t):
    return (
        t["spend"]
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("total").alias("tot"))
    )


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(str(v) for v in r) for r in df.select(*cols).collect())


@pytest.fixture(
    params=[
        pytest.param(4, id="partitioned", marks=pytest.mark.slow),
        pytest.param(0, id="overwrite"),
    ]
)
def chain(spark, tmp_path, request):
    store = ParquetTableStore(str(tmp_path / "s"))
    tx = spark.createDataFrame(
        [(t, t % 5, 10.0) for t in range(1, 21)],
        "t_id long, c_id long, amount double",
    )
    store.overwrite("tx", tx)
    mgr = DynamicTableManager(spark, store)
    buckets = request.param or None
    mgr.create(
        DynamicTable(
            "spend", _spend, fact_table="tx", fact_key="t_id",
            view_key="c_id", group_col="c_id", partition_buckets=buckets,
        )
    )
    mgr.create(
        DynamicTable(
            "bands", _bands, fact_table="spend", fact_key="c_id",
            view_key="band", group_col="band", partition_buckets=buckets,
        )
    )
    return store, mgr


def _full_bands(spark, store):
    return _bands({"spend": _spend({"tx": store.read(spark, "tx")})})


def test_crash_between_levels_then_full_tick_retry(spark, chain):
    store, mgr = chain
    # the tick moves customer 0 LOW -> HIGH (old band must shrink)
    delta = spark.createDataFrame([("I", 100, 200, 0, 500.0)], TX)
    store.overwrite("tx", apply_changes(store.read(spark, "tx"), delta, "t_id"))

    # crashed tick: level-1 commits, process dies before level-2
    mgr.incremental_refresh("spend", {"tx": delta}, emit_delta=True, lsn=100)
    v_spend = store.current_version("spend")

    # blind full-tick retry from the restarted driver
    mgr.refresh_dag({"tx": delta}, lsn=100)
    assert _rows(mgr.read("bands")) == _rows(_full_bands(spark, store))
    assert _rows(mgr.read("spend")) == _rows(
        _spend({"tx": store.read(spark, "tx")})
    )
    # the retried level-1 merge was a no-op and did NOT bump the version
    assert store.current_version("spend") == v_spend

    # a SECOND retry of the same tick is also convergent (and all no-op)
    mgr.refresh_dag({"tx": delta}, lsn=100)
    assert _rows(mgr.read("bands")) == _rows(_full_bands(spark, store))

    # and the next real tick flows through the recovered chain
    delta2 = spark.createDataFrame([("D", 101, 200, None, None)], TX)
    store.overwrite("tx", apply_changes(store.read(spark, "tx"), delta2, "t_id"))
    mgr.refresh_dag({"tx": delta2}, lsn=101)
    assert _rows(mgr.read("bands")) == _rows(_full_bands(spark, store))


@pytest.mark.slow
def test_noop_refresh_skips_commit_and_logs_no_change(spark, chain):
    """A delta whose recompute leaves the view byte-identical must not
    advance the view version (NO_CHANGE), while a value-changing delta
    must (INCREMENTAL)."""
    store, mgr = chain
    # seed a refresh history baseline
    v0 = store.current_version("spend")

    # update that does NOT change the aggregate: replace t_id 1
    # (c_id 1, amount 10) with the same c_id/amount under a new lsn
    delta = spark.createDataFrame([("U", 200, 1, 1, 10.0)], TX)
    store.overwrite("tx", apply_changes(store.read(spark, "tx"), delta, "t_id"))
    mgr.incremental_refresh("spend", {"tx": delta})
    assert store.current_version("spend") == v0
    modes = [m for (n, m, _s, _ts) in mgr.refresh_log if n == "spend"]
    assert modes[-1] == "NO_CHANGE"

    # value-changing delta bumps the version and logs INCREMENTAL
    delta2 = spark.createDataFrame([("U", 201, 1, 1, 25.0)], TX)
    store.overwrite("tx", apply_changes(store.read(spark, "tx"), delta2, "t_id"))
    mgr.incremental_refresh("spend", {"tx": delta2})
    assert store.current_version("spend") == v0 + 1
    modes = [m for (n, m, _s, _ts) in mgr.refresh_log if n == "spend"]
    assert modes[-1] == "INCREMENTAL"
    assert _rows(mgr.read("spend")) == _rows(
        _spend({"tx": store.read(spark, "tx")})
    )
