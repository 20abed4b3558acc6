"""Seeded input generators for the benchmark.

Every generator is a function of its seed: the same seed gives
byte-identical files. The writers return a ``dict`` of sizes and shares
that the benchmark prints, so a reader can see what the inputs held.

* ``walmart``: the four reference CSVs (train, test, stores, features)
  with the reference's quirks — "NA" sentinels, MarkDowns null before
  2011-11-11, a CPI/Unemployment null tail, holiday weeks, a Store
  missing from ``stores.csv``, and NULL and negative ``Weekly_Sales``.
* ``lake_orders`` and ``lake_batch``: ``orders`` with a year partition
  column, and one update batch for its snapshot that touches a stated
  number of partitions and a stated share of rows.

The stated shapes are the module constants below; the benchmark uses
them as they are.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- walmart -----------------------------------------------------------------

N_STORES = 45
TRAIN_WEEKS = 143  # 2010-02-05 .. 2012-10-26
TEST_WEEKS = 39  # 2012-11-02 .. 2013-07-26
FIRST_FRIDAY = dt.date(2010, 2, 5)
MARKDOWN_START = dt.date(2011, 11, 11)
CPI_NULL_TAIL_START = dt.date(2013, 5, 3)
# Super Bowl, Labor Day, Thanksgiving and Christmas weeks of the dataset.
HOLIDAYS = {
    dt.date(2010, 2, 12), dt.date(2010, 9, 10), dt.date(2010, 11, 26),
    dt.date(2010, 12, 31), dt.date(2011, 2, 11), dt.date(2011, 9, 9),
    dt.date(2011, 11, 25), dt.date(2011, 12, 30), dt.date(2012, 2, 10),
    dt.date(2012, 9, 7), dt.date(2012, 11, 23), dt.date(2012, 12, 28),
    dt.date(2013, 2, 8),
}
NULL_SALES_SHARE = 0.005
NEGATIVE_SALES_SHARE = 0.004
MARKDOWN_NA_SHARE = 0.15
DEPTS_PER_STORE = 1


def _fmt(x: float) -> str:
    return f"{x:.2f}"


def walmart(seed: int, out_dir: str) -> dict:
    """Write train.csv, test.csv, stores.csv and features.csv.

    45 stores and 143 + 39 weekly Fridays as in the reference data; each
    store sells in ``DEPTS_PER_STORE`` departments drawn from 1..99. One
    store that has sales is left out of ``stores.csv``.
    """
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    weeks = [FIRST_FRIDAY + dt.timedelta(weeks=i) for i in range(TRAIN_WEEKS + TEST_WEEKS)]
    hol = [d in HOLIDAYS for d in weeks]
    missing_store = int(rng.integers(1, N_STORES + 1))

    types = rng.choice(["A", "B", "C"], size=N_STORES, p=[22 / 45, 17 / 45, 6 / 45])
    sizes = rng.integers(34_875, 219_623, size=N_STORES)
    with open(os.path.join(out_dir, "stores.csv"), "w") as f:
        f.write("Store,Type,Size\n")
        for s in range(1, N_STORES + 1):
            if s != missing_store:
                f.write(f"{s},{types[s - 1]},{sizes[s - 1]}\n")

    n_feat = N_STORES * len(weeks)
    temp = rng.normal(60, 18, n_feat)
    fuel = rng.uniform(2.4, 4.5, n_feat)
    md = rng.uniform(0, 30_000, (n_feat, 5))
    md_na = rng.random((n_feat, 5)) < MARKDOWN_NA_SHARE
    cpi = rng.uniform(126, 228, N_STORES)
    unemp = rng.uniform(3.8, 14.3, N_STORES)
    n_na = 0
    with open(os.path.join(out_dir, "features.csv"), "w") as f:
        f.write(
            "Store,Date,Temperature,Fuel_Price,MarkDown1,MarkDown2,MarkDown3,"
            "MarkDown4,MarkDown5,CPI,Unemployment,IsHoliday\n"
        )
        i = 0
        for s in range(1, N_STORES + 1):
            for w, d in enumerate(weeks):
                if d < MARKDOWN_START:
                    mds = ["NA"] * 5
                else:
                    mds = ["NA" if md_na[i, k] else _fmt(md[i, k]) for k in range(5)]
                if d >= CPI_NULL_TAIL_START:
                    c, u = "NA", "NA"
                else:
                    c = _fmt(cpi[s - 1] * (1 + 0.0004 * w))
                    u = _fmt(unemp[s - 1] - 0.005 * w)
                n_na += mds.count("NA") + (c == "NA") + (u == "NA")
                f.write(
                    f"{s},{d.isoformat()},{_fmt(temp[i])},{_fmt(fuel[i])},"
                    f"{','.join(mds)},{c},{u},{'TRUE' if hol[w] else 'FALSE'}\n"
                )
                i += 1

    depts = np.stack(
        [np.sort(rng.choice(np.arange(1, 100), DEPTS_PER_STORE, replace=False)) for _ in range(N_STORES)]
    )
    base = np.exp(rng.normal(9.0, 1.0, (N_STORES, DEPTS_PER_STORE)))
    season = 1 + 0.15 * np.sin(np.arange(len(weeks)) * 2 * np.pi / 52)
    uplift = np.where(hol, 1.3, 1.0)
    n_train = n_null = n_neg = 0
    with open(os.path.join(out_dir, "train.csv"), "w") as ftr, open(
        os.path.join(out_dir, "test.csv"), "w"
    ) as fte:
        ftr.write("Store,Dept,Date,Weekly_Sales,IsHoliday\n")
        fte.write("Store,Dept,Date,IsHoliday\n")
        for s in range(1, N_STORES + 1):
            for j, dept in enumerate(depts[s - 1]):
                noise = rng.normal(1.0, 0.08, len(weeks))
                u = rng.random(len(weeks))
                for w, d in enumerate(weeks):
                    flag = "TRUE" if hol[w] else "FALSE"
                    if w >= TRAIN_WEEKS:
                        fte.write(f"{s},{dept},{d.isoformat()},{flag}\n")
                        continue
                    n_train += 1
                    if u[w] < NULL_SALES_SHARE:
                        sales = "NA"
                        n_null += 1
                    elif u[w] < NULL_SALES_SHARE + NEGATIVE_SALES_SHARE:
                        sales = _fmt(-0.02 * base[s - 1, j] * noise[w])
                        n_neg += 1
                    else:
                        sales = _fmt(base[s - 1, j] * season[w] * uplift[w] * noise[w])
                    ftr.write(f"{s},{dept},{d.isoformat()},{sales},{flag}\n")
    n_test = N_STORES * DEPTS_PER_STORE * TEST_WEEKS
    return {
        "train_rows": n_train,
        "train_rows_labelled": n_train - n_null,
        "test_rows": n_test,
        "stores_rows": N_STORES - 1,
        "features_rows": n_feat,
        "missing_store": missing_store,
        "null_sales_share": round(n_null / n_train, 5),
        "negative_sales_share": round(n_neg / n_train, 5),
        "holiday_week_share": round(sum(hol) / len(hol), 5),
        "features_na_share": round(n_na / (n_feat * 7), 5),
    }


# -- lake ----------------------------------------------------------------------

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
# Twelve order years, 1990..2001: a batch touches TOUCHED_PARTITIONS of
# the RECENT_YEARS newest, so ten older years are left for retention.
FIRST_ORDER_DAY, LAST_ORDER_DAY = dt.date(1990, 1, 1), dt.date(2001, 8, 1)
RECENT_YEARS = 2
TOUCHED_PARTITIONS = 2
BATCH_ROW_SHARE = 0.01
BATCH_INSERT_SHARE = 0.2
_US_PER_DAY = 86_400_000_000


def _days_us(rng, n: int, start: dt.date, end: dt.date) -> np.ndarray:
    epoch = dt.date(1970, 1, 1)
    lo, hi = (start - epoch).days, (end - epoch).days
    return rng.integers(lo, hi + 1, n) * _US_PER_DAY


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def lake_orders(seed: int, sf: float) -> pa.Table:
    """The catalog's ``orders`` table at scale factor ``sf`` (1.5M·sf
    rows, uniform values in its domains) plus the partition column
    ``o_orderyear``, the year of ``o_orderdate``, which never changes for
    a key."""
    rng = np.random.default_rng([seed, 2])
    n, n_cust = int(1_500_000 * sf), int(150_000 * sf)
    days = _days_us(rng, n, FIRST_ORDER_DAY, LAST_ORDER_DAY)
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n),
            "o_orderstatus": rng.choice(["F", "O", "P"], n),
            "o_totalprice": _money(rng, n, 1000.0, 500_000.0),
            "o_orderdate": pa.array(days, pa.timestamp("us")),
            "o_orderpriority": rng.choice(PRIORITIES, n),
            "o_orderyear": days.astype("datetime64[us]").astype("datetime64[Y]").astype(np.int32) + 1970,
        }
    )


def lake_batch(seed: int, cycle: int, orders: pa.Table, out_path: str) -> dict:
    """One refresh batch for the ``lake_orders`` snapshot.

    The batch touches ``TOUCHED_PARTITIONS`` years drawn from the newest
    ``RECENT_YEARS``. It holds ``BATCH_ROW_SHARE`` of the base table's row
    count: ``BATCH_INSERT_SHARE`` of it are new keys above every base key,
    dated inside a touched year; the rest reprice existing keys of the
    touched years. A key keeps its year, so the batch honours the
    stable-partition contract of the upsert.
    """
    rng = np.random.default_rng([seed, 3, cycle])
    year = orders.column("o_orderyear").to_numpy()
    recent = np.unique(year)[-RECENT_YEARS:]
    touched = sorted(int(y) for y in rng.choice(recent, TOUCHED_PARTITIONS, replace=False))
    n_rows = max(int(orders.num_rows * BATCH_ROW_SHARE), 2)
    n_new = int(n_rows * BATCH_INSERT_SHARE)
    idx = np.sort(rng.choice(np.flatnonzero(np.isin(year, touched)), n_rows - n_new, replace=False))
    upd = orders.take(pa.array(idx))
    price = np.round(upd.column("o_totalprice").to_numpy() * rng.uniform(0.9, 1.1, len(idx)), 2)
    upd = upd.set_column(upd.schema.get_field_index("o_totalprice"), "o_totalprice", pa.array(price))
    new_year = rng.choice(touched, n_new)
    days = (new_year - 1970).astype("datetime64[Y]").astype("datetime64[D]") + rng.integers(0, 365, n_new)
    base_key = orders.num_rows * 1_000 + cycle * n_rows
    new = pa.table(
        {
            "o_orderkey": np.arange(base_key, base_key + n_new, dtype=np.int64),
            "o_custkey": rng.integers(0, 1000, n_new),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_new),
            "o_totalprice": _money(rng, n_new, 1000.0, 500_000.0),
            "o_orderdate": pa.array(days.astype("datetime64[us]")),
            "o_orderpriority": rng.choice(PRIORITIES, n_new),
            "o_orderyear": new_year.astype(np.int32),
        },
        schema=orders.schema,
    )
    batch = pa.concat_tables([upd, new])
    pq.write_table(batch, out_path)
    return {"rows": batch.num_rows, "touched": touched, "bytes": os.path.getsize(out_path)}

