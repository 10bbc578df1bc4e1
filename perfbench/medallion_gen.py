"""Seeded inventory CSV batches for the ``medallion_batches`` workload.

Each batch follows the ``inventory`` schema (FIXTURES.md A1) and carries
its quirks: about 1% exact duplicate rows, NULL dates and attributes, a
junk category ("Dum") and a junk store location ("Leo"), per-product
price drift and a few ``total_sales`` mismatches. Batches after the
first add rows on the previous batch's max date (the watermark overlap),
exact re-deliveries of earlier rows, per-key attribute changes (a store
moving, a value turning NULL and back) and brand-new store and product
keys.

The same seed gives byte-identical files. ``ensure_batches`` caches them
under a per-seed directory, so only the first run with a seed pays for
generation.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os
import random
import time

COLUMNS = (
    "transaction_id", "date", "store_id", "store_location", "product_id",
    "product_category", "quantity_sold", "unit_price", "total_sales",
    "stock_level", "reorder_point", "lead_time_days", "carrying_cost",
    "stock_out_risk", "inventory_turnover",
)
CITIES = (
    "Austin", "Boston", "Chicago", "Denver", "Houston", "Miami",
    "Phoenix", "Portland", "Seattle", "Tampa", "Leo",
)
CATEGORIES = ("Food", "Toys", "Home", "Garden", "Sports", "Dum")
YEAR = 2023
N_BATCHES = 3
ROWS_PER_BATCH = 5_000
NULL_SHARE = 0.02  # share of the nullable attributes left null
GEN_VERSION = 1  # bump when the generator's output changes; part of the cache key


def _day(rng: random.Random, first_month: int, last_month: int) -> dt.datetime:
    month = rng.randint(first_month, last_month)
    return dt.datetime(YEAR, month, rng.randint(1, 28))


def _maybe_null(rng: random.Random, value):
    return None if rng.random() < NULL_SHARE else value


def generate(seed: int, n_batches: int = N_BATCHES, rows_per_batch: int = ROWS_PER_BATCH) -> list[list[tuple]]:
    """Rows of every batch, in file order. Batch ``b`` covers months
    ``3b+1 .. 3b+3`` of one year, so each batch lies after the one
    before it, apart from the deliberate overlap and re-delivery rows."""
    rng = random.Random(seed)
    n_stores, n_products = 10, 100
    store_city = {i: CITIES[(i + seed) % 10] for i in range(1, n_stores + 1)}
    store_city[108] = "Leo"  # the outlier store id of the sample data
    base_price = {p: round(rng.uniform(1, 200), 2) for p in range(1, n_products + 1)}
    # most products appear under two categories (non-unique dim grain)
    cats = {p: (rng.choice(CATEGORIES[:5]), rng.choice(CATEGORIES)) for p in base_price}
    batches: list[list[tuple]] = []
    txn = 0
    for b in range(n_batches):
        if b:
            # new keys and per-key attribute changes arrive with each batch
            for _ in range(2):
                n_stores += 1
                store_city[n_stores] = CITIES[rng.randrange(10)]
            for _ in range(10):
                n_products += 1
                base_price[n_products] = round(rng.uniform(1, 200), 2)
                cats[n_products] = (rng.choice(CATEGORIES[:5]), rng.choice(CATEGORIES))
            moved = rng.randrange(1, 11)
            store_city[moved] = CITIES[(CITIES.index(store_city[moved]) + 1) % 10]
        stores = sorted(store_city)
        products = sorted(base_price)
        nulled_store = stores[rng.randrange(len(stores))]
        rows = []
        for _ in range(rows_per_batch):
            txn += 1
            store = rng.choice(stores)
            product = rng.choice(products)
            qty = rng.randint(1, 100)
            price = round(base_price[product] * rng.uniform(0.9, 1.1), 2)
            total = round(qty * price, 2)
            if rng.random() < 0.001:
                total = round(total + rng.choice((-1, 1)) * rng.uniform(1, 50), 2)
            date = None if rng.random() < 0.005 else _day(rng, 3 * b + 1, 3 * b + 3)
            reorder = rng.randint(10, 80)
            if store == nulled_store and b % 2 == 1:
                reorder = None  # a value turning NULL in one batch, back in the next
            rows.append((
                f"TXN{txn:07d}", date, f"ST{store:03d}", store_city[store],
                f"P{product:04d}", rng.choice(cats[product]), qty, price, total,
                _maybe_null(rng, rng.randint(0, 300)),
                _maybe_null(rng, reorder),
                _maybe_null(rng, rng.randint(1, 10)),
                _maybe_null(rng, round(rng.uniform(1, 20), 2)),
                _maybe_null(rng, round(rng.uniform(0, 1), 3)),
                _maybe_null(rng, round(rng.uniform(1, 10), 2)),
            ))
        if b:
            prev = batches[-1]
            prev_max = max(r[1] for r in prev if r[1] is not None)
            overlap = []
            for r in rng.sample(rows, rows_per_batch // 200):
                txn += 1
                overlap.append((f"TXN{txn:07d}", prev_max, *r[2:]))
            rows.extend(overlap)  # rows ON the previous max date
            rows.extend(rng.sample(prev, rows_per_batch // 100))  # re-deliveries
        rows.extend(rng.sample(rows, rows_per_batch // 100))  # exact duplicates
        rng.shuffle(rows)
        batches.append(rows)
    return batches


def _cell(v) -> str:
    if v is None:
        return ""
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    return str(v)


def write_batches(batches: list[list[tuple]], out_dir: str) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for b, rows in enumerate(batches):
        path = os.path.join(out_dir, f"inventory_batch{b}.csv")
        with open(path, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(COLUMNS)
            w.writerows([_cell(v) for v in r] for r in rows)
        paths.append(path)
    return paths


def ensure_batches(cache_dir: str, seed: int) -> dict:
    """Return the manifest of the cached batches for ``seed``,
    generating them first if absent. The manifest records the CSV
    paths, their row and byte counts and how long generation took."""
    out_dir = os.path.join(cache_dir, f"medallion_v{GEN_VERSION}_{N_BATCHES}x{ROWS_PER_BATCH}_seed{seed}")
    manifest_path = os.path.join(out_dir, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
    else:
        manifest = _generate_into(out_dir, seed)
        tmp = manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, manifest_path)
    manifest["csv"] = [os.path.join(out_dir, name) for name in manifest["files"]]
    return manifest


def _generate_into(out_dir: str, seed: int) -> dict:
    t0 = time.perf_counter()
    batches = generate(seed)
    paths = write_batches(batches, out_dir)
    return {
        "seed": seed,
        "files": [os.path.basename(p) for p in paths],
        "rows": [len(r) for r in batches],
        "bytes": [os.path.getsize(p) for p in paths],
        "gen_s": time.perf_counter() - t0,
    }
