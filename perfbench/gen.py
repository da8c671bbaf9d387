"""Seeded, reference-shaped transactional change stream for the benchmark.

Shape (reference ``scripts/postgresql_setup.sql`` insert generator plus
the churn a production source shows):

- every source transaction carries ``ROWS_PER_TXN`` change rows;
- fact rows are inserts sampling live dimension keys, 80/20
  Purchase/Refund, quantity 1-7, ``total_price = quantity * price``;
- a few fact rows per transaction are orphans (customer ids that do not
  exist, so the view's inner join drops them);
- dimension churn runs periodically for the whole stream: product
  re-price, customer age-band crossing, two updates of one customer
  inside one transaction (latest lsn wins), and a merchant delete that
  is re-inserted a few transactions later.

Pure Python, deterministic under ``seed``; the engine only ever sees the
JSON feed files cut by :func:`slot_batches`.  :func:`final_state` is the
generator's own model of the replicated tables, the reference the
benchmark checks the store against.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass

ROWS_PER_TXN = 100
ORPHANS_PER_TXN = 3
FIRST_LSN = 1000

CATEGORIES = ["Retail", "Tech", "Produce", "Food", "Fashion", "Pharmacy", "Entertainment"]
CARDS = ["American Express", "Visa", "Mastercard", "Discover"]
#: ages that sit on either side of a dashboard age-band edge
BAND_EDGE_AGES = (25, 26, 41, 42, 57, 58, 76, 77)
#: a deleted merchant comes back this many transactions later
MERCHANT_OUTAGE_TXNS = 3

KEYS = {
    "customers": "customer_id",
    "merchants": "merchant_id",
    "products": "product_id",
    "transactions": "transaction_id",
}
COLUMNS = {
    "customers": ("customer_id", "firstname", "lastname", "age", "email", "phone_number"),
    "merchants": ("merchant_id", "merchant_name", "merchant_category"),
    "products": ("product_id", "product_name", "product_category", "price"),
    "transactions": (
        "transaction_id", "customer_id", "product_id", "merchant_id",
        "transaction_date", "transaction_time", "quantity", "total_price",
        "transaction_card", "transaction_category",
    ),
}


@dataclass(frozen=True)
class Txn:
    """One source transaction: ``changes`` are ``(table, op, lsn, row)``
    in lsn order; its commit record trails the last change."""

    tx_id: int
    changes: tuple[tuple[str, str, int, dict], ...]


@dataclass(frozen=True)
class Stream:
    base: dict[str, list[dict]]
    txns: tuple[Txn, ...]

    @property
    def n_changes(self) -> int:
        return sum(len(t.changes) for t in self.txns)


def _base(rng: random.Random, n_customers: int, n_base_tx: int) -> dict[str, list[dict]]:
    customers = [
        {
            "customer_id": 1000 + i,
            "firstname": f"F{rng.randrange(100)}",
            "lastname": f"L{rng.randrange(100)}",
            "age": rng.randint(18, 85),
            "email": f"c{1000 + i}@example.com",
            "phone_number": f"{rng.randint(200, 999)}-{rng.randint(1000, 9999)}",
        }
        for i in range(n_customers)
    ]
    merchants, products = [], []
    for c, cat in enumerate(CATEGORIES):
        for j in range(2):
            merchants.append(
                {"merchant_id": 1 + 2 * c + j, "merchant_name": f"{cat}Mart-{j}",
                 "merchant_category": cat}
            )
            products.append(
                {"product_id": 101 + 2 * c + j, "product_name": f"{cat} Product {j}",
                 "product_category": cat, "price": round(rng.uniform(300.0, 1400.0), 2)}
            )
    base = {"customers": customers, "merchants": merchants, "products": products}
    base["transactions"] = [
        _fact(rng, f"B{i}", customers, products, merchants, orphan=rng.random() < 0.05)
        for i in range(n_base_tx)
    ]
    return base


def _fact(rng, tid, customers, products, merchants, orphan=False) -> dict:
    product = rng.choice(products)
    qty = rng.randint(1, 7)
    return {
        "transaction_id": tid,
        "customer_id": rng.randint(20000, 99999) if orphan else rng.choice(customers)["customer_id"],
        "product_id": product["product_id"],
        "merchant_id": rng.choice(merchants)["merchant_id"],
        "transaction_date": dt.date(2024, 1, 1) + dt.timedelta(days=rng.randrange(366)),
        "transaction_time": f"{rng.randrange(24):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}",
        "quantity": qty,
        "total_price": round(qty * product["price"], 2),
        "transaction_card": rng.choice(CARDS),
        "transaction_category": "Purchase" if rng.random() < 0.8 else "Refund",
    }


def make_stream(seed: int, n_customers: int, n_base_tx: int, n_txns: int) -> Stream:
    """Base snapshot plus ``n_txns`` transactions of ``ROWS_PER_TXN`` rows."""
    rng = random.Random(seed)
    base = _base(rng, n_customers, n_base_tx)
    customers = {r["customer_id"]: dict(r) for r in base["customers"]}
    products = {r["product_id"]: dict(r) for r in base["products"]}
    merchants = {r["merchant_id"]: dict(r) for r in base["merchants"]}
    returning: dict[int, dict] = {}  # tx index -> merchant row to re-insert
    lsn = FIRST_LSN
    txns = []
    for k in range(n_txns):
        dims: list[tuple[str, str, dict]] = []
        if k % 4 == 1:
            p = products[rng.choice(sorted(products))]
            p["price"] = round(p["price"] * rng.choice((0.9, 1.1)), 2)
            dims.append(("products", "U", dict(p)))
        elif k % 4 == 2:
            c = customers[rng.choice(sorted(customers))]
            c["age"] = rng.choice(BAND_EDGE_AGES)
            dims.append(("customers", "U", dict(c)))
        elif k % 4 == 3:
            c = customers[rng.choice(sorted(customers))]
            for age in rng.sample(BAND_EDGE_AGES, 2):
                c["age"] = age
                dims.append(("customers", "U", dict(c)))
        if k % 8 == 0 and len(merchants) > 1:
            mid = rng.choice(sorted(merchants))
            returning[k + MERCHANT_OUTAGE_TXNS] = merchants.pop(mid)
            dims.append(("merchants", "D", {"merchant_id": mid}))
        if k in returning:
            m = returning.pop(k)
            merchants[m["merchant_id"]] = m
            dims.append(("merchants", "I", dict(m)))
        live_c = [customers[c] for c in sorted(customers)]
        live_p = [products[p] for p in sorted(products)]
        live_m = [merchants[m] for m in sorted(merchants)]
        n_facts = ROWS_PER_TXN - len(dims)
        facts = [
            ("transactions", "I",
             _fact(rng, f"T{seed}-{k}-{j}", live_c, live_p, live_m, orphan=j < ORPHANS_PER_TXN))
            for j in range(n_facts)
        ]
        rows = dims + facts
        rng.shuffle(rows)
        changes = []
        for table, op, row in rows:
            lsn += 1
            changes.append((table, op, lsn, row))
        txns.append(Txn(k, tuple(changes)))
    return Stream(base, tuple(txns))


def final_state(stream: Stream, n_committed: int) -> dict[str, dict]:
    """The tables after the first ``n_committed`` transactions applied:
    ``{table: {key: row}}`` (deleted keys absent)."""
    state = {t: {r[KEYS[t]]: r for r in rows} for t, rows in stream.base.items()}
    for txn in stream.txns[:n_committed]:
        for table, op, _lsn, row in txn.changes:
            key = row[KEYS[table]]
            if op == "D":
                state[table].pop(key, None)
            else:
                state[table][key] = row
    return state


def schedule(stream: Stream, rate: float) -> list[tuple[float, int, int]]:
    """Open-loop send schedule at ``rate`` change rows per second:
    ``(due_seconds, txn_index, change_index)`` per change, the i-th
    change of the whole stream due at ``i / rate``."""
    out = []
    i = 0
    for t, txn in enumerate(stream.txns):
        for c in range(len(txn.changes)):
            out.append((i / rate, t, c))
            i += 1
    return out


def slot_batches(stream: Stream, due: list[tuple[float, int, int]], slot_s: float):
    """Cut the schedule into feed files of ``slot_s`` seconds each.

    Yields ``(slot_end_s, committed, open_txs, n_changes, committed_ids)``
    with ``committed`` / ``open_txs`` in
    ``changefeed.write_feed_transactions`` form: a transaction whose
    last change falls in the slot is committed there, every other one
    it touches stays open until a later file."""
    slots: dict[int, list[tuple[int, int]]] = {}
    for d, t, c in due:
        slots.setdefault(int(d // slot_s), []).append((t, c))
    for s in sorted(slots):
        by_tx: dict[int, dict[str, list]] = {}
        last_in_slot: set[int] = set()
        for t, c in slots[s]:
            table, op, lsn, row = stream.txns[t].changes[c]
            by_tx.setdefault(t, {}).setdefault(table, []).append((op, lsn, row))
            if c == len(stream.txns[t].changes) - 1:
                last_in_slot.add(t)
        committed = [(stream.txns[t].tx_id, ch) for t, ch in by_tx.items() if t in last_in_slot]
        open_txs = [(stream.txns[t].tx_id, ch) for t, ch in by_tx.items() if t not in last_in_slot]
        yield (s + 1) * slot_s, committed, open_txs, len(slots[s]), sorted(last_in_slot)
