"""Seeded generator for the medallion pipeline's `inventory` source.

The shape follows the reference sample (walmart_inventory_data.csv):
one wide 15-column table, day-granular dates, stores whose attributes
are fixed per store, and products that carry a few (category, price)
tuples each, so the curated dims are multi-row per business key.
Planted dirt: exact duplicate rows, rows with a null date, rows with a
null stock level, and one row whose total_sales is not qty x price.

CDC increments add new days, replay duplicates inside the increment,
carry late rows dated at or before the watermark, introduce a new price
for ~1 % of products and change the attributes of a few stores.

Ground truth is computed here from the generator's own construction,
never from the pipeline: every non-duplicate row has a unique
transaction id, so "rows after dedup" is a count of distinct ids.
The same seed gives byte-identical parquet files.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

YEAR = 2023
EPOCH_DAY0 = dt.datetime(YEAR, 1, 1, tzinfo=dt.timezone.utc)
CITIES = ["Austin", "Boston", "Chicago", "Dallas", "Denver", "Detroit",
          "Houston", "Miami", "Nashville", "Phoenix", "Portland", "Seattle"]
CATEGORIES = ["Clothing", "Electronics", "Grocery", "Home", "Toys"]
PRICES_PER_PRODUCT = 3
DIRTY_CATEGORY = "Dum"

SCHEMA = pa.schema([
    ("transaction_id", pa.string()),
    ("date", pa.timestamp("us", tz="UTC")),
    ("store_id", pa.string()),
    ("store_location", pa.string()),
    ("product_id", pa.string()),
    ("product_category", pa.string()),
    ("quantity_sold", pa.int32()),
    ("unit_price", pa.float64()),
    ("total_sales", pa.float64()),
    ("stock_level", pa.int32()),
    ("reorder_point", pa.int32()),
    ("lead_time_days", pa.int32()),
    ("carrying_cost", pa.float64()),
    ("stock_out_risk", pa.float64()),
    ("inventory_turnover", pa.float64()),
])


class Catalog:
    """Stores and products, with the attributes a CDC increment mutates."""

    def __init__(self, rng, n_stores, n_products):
        self.n_stores = n_stores
        self.reorder = rng.integers(10, 100, n_stores)
        self.lead = rng.integers(1, 15, n_stores)
        self.carry_cents = rng.integers(50, 900, n_stores)
        self.risk_cents = rng.integers(1, 99, n_stores)
        self.store_id = np.array([f"ST{s:03d}" for s in range(n_stores)])
        self.location = np.array([f"{CITIES[s % len(CITIES)]}-{s:03d}"
                                  for s in range(n_stores)])
        self.product_id = np.array([f"P{p:05d}" for p in range(n_products)])
        self.category = np.array(CATEGORIES)[rng.integers(0, len(CATEGORIES), n_products)]
        self.category[int(rng.integers(0, n_products))] = DIRTY_CATEGORY
        self.prices = rng.integers(100, 50_000, (n_products, PRICES_PER_PRODUCT))
        # the price a product's rows carry in the increment that moved it
        self.new_price = np.zeros(n_products, dtype=np.int64)


def _rows(rng, cat, n, day_lo, day_hi, txn0, new_price_products=np.empty(0, np.int64)):
    """n unique rows dated in [day_lo, day_hi), transaction ids from txn0."""
    store = rng.integers(0, cat.n_stores, n)
    product = rng.integers(0, len(cat.prices), n)
    # every moved product sells at least once at its new price
    product[:len(new_price_products)] = new_price_products[:n]
    pick = rng.integers(0, PRICES_PER_PRODUCT, n)
    price = np.where(np.isin(product, new_price_products),
                     cat.new_price[product], cat.prices[product, pick])
    qty = rng.integers(1, 21, n)
    return {
        "txn": np.arange(txn0, txn0 + n, dtype=np.int64),
        "day": rng.integers(day_lo, day_hi, n),
        "store": store,
        "product": product,
        "qty": qty,
        "price": price,
        "sales": qty * price,
        "stock": rng.integers(0, 500, n),
        "reorder": cat.reorder[store].copy(),
        "lead": cat.lead[store].copy(),
        "carry": cat.carry_cents[store].copy(),
        "risk": cat.risk_cents[store].copy(),
        "turnover": rng.integers(0, 1000, n),
        "null_day": np.zeros(n, dtype=bool),
        "null_stock": np.zeros(n, dtype=bool),
    }


def _concat(parts):
    return {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}


def _take(rows, idx):
    return {k: v[idx] for k, v in rows.items()}


def _with_replays(rng, rows, share):
    """Append exact copies of a `share` of the rows (same transaction id)."""
    n = len(rows["txn"])
    dup = rng.choice(n, int(n * share), replace=False)
    return _concat([rows, _take(rows, np.sort(dup))])


def _table(cat, rows):
    n = len(rows["txn"])
    days = rows["day"]
    micros = (EPOCH_DAY0.timestamp() + days.astype(np.int64) * 86400) * 1_000_000
    date = pa.array(micros.astype(np.int64), type=pa.int64(),
                    mask=rows["null_day"]).cast(SCHEMA.field("date").type)
    return pa.table({
        "transaction_id": pa.array(np.char.mod("TXN%09d", rows["txn"])),
        "date": date,
        "store_id": pa.array(cat.store_id[rows["store"]]),
        "store_location": pa.array(cat.location[rows["store"]]),
        "product_id": pa.array(cat.product_id[rows["product"]]),
        "product_category": pa.array(cat.category[rows["product"]]),
        "quantity_sold": pa.array(rows["qty"].astype(np.int32)),
        "unit_price": pa.array(rows["price"] / 100.0),
        "total_sales": pa.array(rows["sales"] / 100.0),
        "stock_level": pa.array(rows["stock"].astype(np.int32), mask=rows["null_stock"]),
        "reorder_point": pa.array(rows["reorder"].astype(np.int32)),
        "lead_time_days": pa.array(rows["lead"].astype(np.int32)),
        "carrying_cost": pa.array(rows["carry"] / 100.0),
        "stock_out_risk": pa.array(rows["risk"] / 100.0),
        "inventory_turnover": pa.array(rows["turnover"] / 100.0),
    }, schema=SCHEMA).slice(0, n)


def _write(table, path):
    # sorted by date (nulls last) so the watermark predicate prunes row
    # groups the way a database index would serve it
    table = table.sort_by([("date", "ascending"), ("transaction_id", "ascending")])
    pq.write_table(table, path, row_group_size=65_536, compression="snappy")


class Truth:
    """Cumulative expected staging / curated state, one entry per cycle."""

    def __init__(self):
        self.staged = {}  # txn -> (day, sales cents) for non-null-date rows
        self.cycles = []

    def land(self, rows, ingested_mask):
        ing = _take(rows, np.flatnonzero(ingested_mask))
        for t, d, s, nd in zip(ing["txn"], ing["day"], ing["sales"], ing["null_day"]):
            if not nd:
                self.staged[int(t)] = (int(d), int(s))
        cents = sum(s for _, s in self.staged.values())
        self.cycles.append({
            "ingested_rows": int(ingested_mask.sum()),
            "late_rows": int((~ingested_mask & ~rows["null_day"]).sum()),
            "staged_rows": len(self.staged),
            "fact_rows": len(self.staged),
            "total_sales": f"{cents // 100}.{cents % 100:02d}",
            "distinct_dates": len({d for d, _ in self.staged.values()}),
        })


def _plant_base_dirt(rng, rows):
    n = len(rows["txn"])
    rows["null_day"][rng.choice(n, max(1, n // 500), replace=False)] = True
    rows["null_stock"][rng.choice(n, max(1, n // 1000), replace=False)] = True
    dirty = int(rng.integers(0, n))  # total_sales != qty x price
    rows["sales"][dirty] += 37


def generate(out_dir, seed, base_rows, n_stores, n_products, base_days,
             increments=0, increment_days=0):
    """Write base.parquet and inc_<k>.parquet under out_dir; return the truth.

    The base covers days [0, base_days) of the year; increment k adds
    ~1 % of base_rows on the next `increment_days` days.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    cat = Catalog(rng, n_stores, n_products)
    base = _rows(rng, cat, base_rows, 0, base_days, 0)
    _plant_base_dirt(rng, base)
    base = _with_replays(rng, base, 0.005)
    _write(_table(cat, base), f"{out_dir}/base.parquet")
    truth = Truth()
    truth.land(base, np.ones(len(base["txn"]), dtype=bool))
    files = ["base.parquet"]
    watermark = int(base["day"][~base["null_day"]].max())
    txn0 = base_rows
    for k in range(1, increments + 1):
        n_new = max(1, base_rows // 100)
        lo = watermark + 1
        moved = rng.choice(len(cat.prices), max(1, len(cat.prices) // 100), replace=False)
        cat.new_price[moved] = rng.integers(100, 50_000, len(moved))
        for s in rng.choice(n_stores, min(2, n_stores), replace=False):
            cat.reorder[s] += 5
            cat.lead[s] = cat.lead[s] % 14 + 1
        fresh = _rows(rng, cat, n_new, lo, lo + increment_days, txn0, moved)
        txn0 += n_new
        n_late = max(1, n_new * 3 // 100)
        late = _rows(rng, cat, n_late, max(0, watermark - 10), watermark + 1, txn0)
        txn0 += n_late
        inc = _with_replays(rng, _concat([fresh, late]), 0.05)
        name = f"inc_{k}.parquet"
        _write(_table(cat, inc), f"{out_dir}/{name}")
        files.append(name)
        truth.land(inc, inc["day"] > watermark)
        watermark = int(inc["day"].max())
    return {"files": files, "cycles": truth.cycles, "year": YEAR,
            "source_bytes": [os.path.getsize(f"{out_dir}/{f}") for f in files]}

