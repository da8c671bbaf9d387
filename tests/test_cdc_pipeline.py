"""End-to-end CDC pipeline tests (SURVEY.md section 5.2 items 2/3/5).

Seed fixtures -> scripted change log (inserts + the U/D/duplicate-key/
orphan cases the reference generator never emits) -> after every batch
the incrementally-maintained view must equal the full-recompute oracle.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.plans.purchase_summary import (
    customer_purchase_summary,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.sources import fixtures
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.changefeed import (
    CDCPipeline,
    write_feed_batch,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.dynamic_table import (
    DynamicTable,
    DynamicTableManager,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.store import (
    ParquetTableStore,
)

SUMMARY_VIEW = DynamicTable(
    name="customer_purchase_summary",
    defining_fn=lambda t: customer_purchase_summary(
        t["transactions"], t["customers"], t["products"], t["merchants"]
    ),
    fact_table="transactions",
    fact_key="transaction_id",
    view_key="transaction_id",
    dims={
        "customers": ("customer_id", "customer_id"),
        "products": ("product_id", "product_id"),
        "merchants": ("merchant_id", "merchant_id"),
    },
)


def _sorted_rows(df):
    cols = sorted(df.columns)
    rows = df.select(*cols).collect()
    return sorted(tuple(str(round(v, 2)) if isinstance(v, float) else str(v) for v in r) for r in rows)


def _fixture_data():
    customers = fixtures.make_customers(60, seed=42)
    merchants = fixtures.make_merchants(seed=42)
    products = fixtures.make_products(seed=42)
    transactions = fixtures.make_transactions(
        customers, products, merchants, n=300, orphan_frac=0.5, seed=42
    )
    return customers, merchants, products, transactions


@pytest.fixture()
def pipeline(spark, tmp_path):
    store = ParquetTableStore(str(tmp_path / "store"))
    p = CDCPipeline(spark, store)
    customers, merchants, products, transactions = _fixture_data()
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.sources.cdc_schemas import (
        CUSTOMERS_SCHEMA,
        MERCHANTS_SCHEMA,
        PRODUCTS_SCHEMA,
        TRANSACTIONS_SCHEMA,
    )

    p.bootstrap(
        {
            "customers": spark.createDataFrame(customers, CUSTOMERS_SCHEMA),
            "merchants": spark.createDataFrame(merchants, MERCHANTS_SCHEMA),
            "products": spark.createDataFrame(products, PRODUCTS_SCHEMA),
            "transactions": spark.createDataFrame(transactions, TRANSACTIONS_SCHEMA),
        }
    )
    return p, store, (customers, merchants, products)


def _envelope_df(spark, batch):
    import json

    rows = []
    for table, changes in batch.items():
        for op, lsn, row in changes:
            rows.append((op, lsn, None, table, json.dumps(row, default=str)))
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.streaming.changefeed import (
        FEED_SCHEMA,
    )

    return spark.createDataFrame(rows, FEED_SCHEMA)


@pytest.mark.slow  # fast-tier policy (r15): randomized/soak marathon
def test_incremental_equals_full_per_batch(spark, pipeline):
    """The headline invariant: after every change batch, incremental
    maintenance == full recompute of the defining query."""
    p, store, (customers, merchants, products) = pipeline
    mgr = DynamicTableManager(spark, store)
    mgr.create(SUMMARY_VIEW)
    mgr.attach(p)

    log = fixtures.change_log(customers, products, merchants, batches=5, rows_per_batch=40)
    for i, batch in enumerate(log):
        p.apply_envelope_batch(_envelope_df(spark, batch), batch_id=i)
        incremental = _sorted_rows(mgr.read("customer_purchase_summary"))
        full = _sorted_rows(
            customer_purchase_summary(
                store.read(spark, "transactions"),
                store.read(spark, "customers"),
                store.read(spark, "products"),
                store.read(spark, "merchants"),
            )
        )
        assert incremental == full, f"divergence after batch {i}"


def test_latest_wins_and_delete(spark, pipeline):
    p, store, (customers, merchants, products) = pipeline
    cid = customers[1][0]
    c = customers[1]
    batch = {
        "customers": [
            ("U", 5001, {"customer_id": cid, "firstname": c[1], "lastname": c[2], "age": 30, "email": c[4], "phone_number": c[5]}),
            ("U", 5002, {"customer_id": cid, "firstname": c[1], "lastname": c[2], "age": 44, "email": c[4], "phone_number": c[5]}),
        ],
        "merchants": [("D", 5003, {"merchant_id": merchants[0][0]})],
    }
    p.apply_envelope_batch(_envelope_df(spark, batch))
    cust = store.read(spark, "customers")
    assert cust.filter(F.col("customer_id") == cid).collect()[0]["age"] == 44  # latest lsn wins
    merch = store.read(spark, "merchants")
    assert merch.filter(F.col("merchant_id") == merchants[0][0]).count() == 0  # delete applied
    assert merch.count() == len(merchants) - 1


def test_reapply_same_batch_idempotent(spark, pipeline):
    """Crash between table write and checkpoint commit means the stream
    re-delivers the batch; latest-wins apply by lsn must make the
    second application a no-op (exactly-once effect without
    transactional sinks)."""
    p, store, (customers, merchants, products) = pipeline
    batch = fixtures.change_log(customers, products, merchants, batches=1, rows_per_batch=30)[0]
    env = _envelope_df(spark, batch)
    p.apply_envelope_batch(env)
    first = _sorted_rows(store.read(spark, "transactions"))
    p.apply_envelope_batch(env)  # redelivery
    second = _sorted_rows(store.read(spark, "transactions"))
    assert first == second


def test_orphans_dropped_from_view(spark, pipeline):
    """The 955/1000 seed property: orphan transactions never reach the
    view (inner join drops them)."""
    p, store, _ = pipeline
    mgr = DynamicTableManager(spark, store)
    mgr.create(SUMMARY_VIEW)
    view = mgr.read("customer_purchase_summary")
    tx = store.read(spark, "transactions")
    cust = store.read(spark, "customers")
    n_live = tx.join(cust, "customer_id", "left_semi").count()
    assert view.count() < tx.count()
    assert view.count() <= n_live  # J2 conjunct can only drop more


def test_dim_only_batch_propagates(spark, pipeline):
    """A batch touching ONLY a dimension (product re-price) must update
    every joined view row through the incremental path -- the dim-update
    retroactivity case the stream-static-join design can't express."""
    p, store, (customers, merchants, products) = pipeline
    mgr = DynamicTableManager(spark, store)
    mgr.create(SUMMARY_VIEW)
    mgr.attach(p)

    pid, name, cat, price = products[0]
    new_price = round(price * 2, 2)
    batch = {
        "products": [
            ("U", 7001, {"product_id": pid, "product_name": name, "product_category": cat, "price": new_price})
        ]
    }
    p.apply_envelope_batch(_envelope_df(spark, batch))

    view = mgr.read("customer_purchase_summary")
    rows = view.filter(F.col("product_id") == pid).collect()
    assert rows, "fixture should join at least one transaction for product 0"
    for r in rows:
        assert abs(r["total_price"] - r["quantity"] * new_price) < 1e-9
    full = _sorted_rows(
        customer_purchase_summary(
            store.read(spark, "transactions"),
            store.read(spark, "customers"),
            store.read(spark, "products"),
            store.read(spark, "merchants"),
        )
    )
    assert _sorted_rows(view) == full


def test_streaming_feed_applies(spark, pipeline, tmp_path):
    """File-backed streaming tail: write feed files, drain with
    availableNow, verify the store caught up and the view refreshed."""
    p, store, (customers, merchants, products) = pipeline
    mgr = DynamicTableManager(spark, store)
    mgr.create(SUMMARY_VIEW)
    mgr.attach(p)

    feed = str(tmp_path / "feed")
    log = fixtures.change_log(customers, products, merchants, batches=2, rows_per_batch=20)
    for batch in log:
        write_feed_batch(feed, batch)

    n_before = store.read(spark, "transactions").count()
    q = p.start_stream(feed, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    n_after = store.read(spark, "transactions").count()
    assert n_after > n_before
    full = _sorted_rows(
        customer_purchase_summary(
            store.read(spark, "transactions"),
            store.read(spark, "customers"),
            store.read(spark, "products"),
            store.read(spark, "merchants"),
        )
    )
    assert _sorted_rows(mgr.read("customer_purchase_summary")) == full


@pytest.mark.slow  # fast-tier policy (r15): randomized/soak marathon
def test_topk_view_maintained_through_live_pipeline(spark, pipeline):
    """A registered top-k view (top 3 transactions per customer by
    total_price) must track full recompute through the live CDC drive —
    the hook wiring, store-backed state, and refill path together."""
    p, store, (customers, merchants, products) = pipeline
    mgr = DynamicTableManager(spark, store)
    mgr.create_topk(
        "top_txn", "transactions", "customer_id", "transaction_id", "total_price", k=3
    )
    mgr.attach(p)

    def oracle():
        from pyspark.sql import Window

        t = store.read(spark, "transactions")
        w = Window.partitionBy("customer_id").orderBy(
            F.desc("total_price"), F.asc("transaction_id")
        )
        return _sorted_rows(
            t.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3)
            .select("customer_id", "transaction_id", "total_price")
        )

    log = fixtures.change_log(customers, products, merchants, batches=4, rows_per_batch=40)
    for i, batch in enumerate(log):
        p.apply_envelope_batch(_envelope_df(spark, batch), batch_id=i)
        got = _sorted_rows(
            mgr.read("top_txn").select("customer_id", "transaction_id", "total_price")
        )
        assert got == oracle(), f"batch {i}: top-k view diverged from recompute"


def test_crash_mid_batch_then_replay_converges(spark, pipeline):
    """Partial-apply crash: dims of a batch land, the fact write dies
    before the view-refresh hooks ever run.  Redelivering the same
    envelope must drive base tables AND the maintained view to exactly
    the state of a never-crashed run (latest-wins merges + keyed view
    MERGE are idempotent, and incremental refresh re-derives
    dim-affected rows from current snapshots, so the half-applied dim
    state cannot double-count)."""
    p, store, (customers, merchants, products) = pipeline
    mgr = DynamicTableManager(spark, store)
    mgr.create(SUMMARY_VIEW)
    mgr.attach(p)

    log = fixtures.change_log(customers, products, merchants, batches=2, rows_per_batch=30)
    p.apply_envelope_batch(_envelope_df(spark, log[0]), batch_id=0)
    view_before = _sorted_rows(mgr.read("customer_purchase_summary"))

    # the fact table exists, so the pipeline writes it through merge
    orig_merge = store.merge

    def crashing_merge(spark_, table, *a, **k):
        if table == "transactions":
            raise RuntimeError("injected crash before fact write")
        return orig_merge(spark_, table, *a, **k)

    store.merge = crashing_merge
    env = _envelope_df(spark, log[1])
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            p.apply_envelope_batch(env, batch_id=1)
    finally:
        store.merge = orig_merge

    # the crash died before any hook: the view must still be at batch-0
    assert _sorted_rows(mgr.read("customer_purchase_summary")) == view_before

    # redelivery (same envelope, same batch id)
    p.apply_envelope_batch(env, batch_id=1)
    incremental = _sorted_rows(mgr.read("customer_purchase_summary"))
    full = _sorted_rows(
        customer_purchase_summary(
            store.read(spark, "transactions"),
            store.read(spark, "customers"),
            store.read(spark, "products"),
            store.read(spark, "merchants"),
        )
    )
    assert incremental == full
