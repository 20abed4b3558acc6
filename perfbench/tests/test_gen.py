"""The generators give byte-identical files for one seed and different
files for another, and their inputs keep the properties the workloads
rely on."""

from __future__ import annotations

import csv
import filecmp
import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def _same_files(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    return names == sorted(os.listdir(b)) and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names
    )


def test_walmart_same_seed_same_bytes(tmp_path):
    info1 = gen.walmart(5, str(tmp_path / "a"))
    info2 = gen.walmart(5, str(tmp_path / "b"))
    gen.walmart(6, str(tmp_path / "c"))
    assert info1 == info2
    assert _same_files(tmp_path / "a", tmp_path / "b")
    assert not _same_files(tmp_path / "a", tmp_path / "c")


def test_walmart_keeps_the_reference_quirks(tmp_path):
    out = tmp_path / "w"
    info = gen.walmart(3, str(out))
    with open(out / "stores.csv") as f:
        stores = {int(r["Store"]) for r in csv.DictReader(f)}
    with open(out / "train.csv") as f:
        train = list(csv.DictReader(f))
    with open(out / "features.csv") as f:
        features = list(csv.DictReader(f))
    assert len(stores) == 44 and info["missing_store"] not in stores
    assert any(int(r["Store"]) == info["missing_store"] for r in train)
    assert len({r["Date"] for r in train}) == gen.TRAIN_WEEKS
    assert len({r["Date"] for r in features}) == gen.TRAIN_WEEKS + gen.TEST_WEEKS
    assert any(r["Weekly_Sales"] == "NA" for r in train)
    assert any(r["Weekly_Sales"].startswith("-") for r in train)
    assert all(r["MarkDown1"] == "NA" for r in features if r["Date"] < "2011-11-11")
    assert all(r["CPI"] == "NA" for r in features if r["Date"] >= "2013-05-03")
    assert {r["IsHoliday"] for r in train} == {"TRUE", "FALSE"}


def test_lake_orders_same_seed_same_table():
    a, b, c = gen.lake_orders(9, 0.001), gen.lake_orders(9, 0.001), gen.lake_orders(10, 0.001)
    assert a.equals(b) and not a.equals(c)
    years = a.column("o_orderyear").to_pylist()
    assert all(d.year == y for d, y in zip(a.column("o_orderdate").to_pylist(), years))
    assert sorted(set(years)) == list(range(1990, 2002))


def test_lake_batch_touches_the_stated_partitions(tmp_path):
    orders = gen.lake_orders(4, 0.01)
    a = gen.lake_batch(4, 7, orders, str(tmp_path / "a.parquet"))
    b = gen.lake_batch(4, 7, orders, str(tmp_path / "b.parquet"))
    assert a == b and filecmp.cmp(tmp_path / "a.parquet", tmp_path / "b.parquet", shallow=False)
    batch = pq.read_table(tmp_path / "a.parquet").to_pydict()
    years = sorted(set(orders.column("o_orderyear").to_pylist()))
    assert a["rows"] == int(orders.num_rows * gen.BATCH_ROW_SHARE) == len(batch["o_orderkey"])
    assert sorted(set(batch["o_orderyear"])) == a["touched"]
    assert len(a["touched"]) == gen.TOUCHED_PARTITIONS
    assert set(a["touched"]) <= set(years[-gen.RECENT_YEARS:])
    assert len(set(batch["o_orderkey"])) == a["rows"]
    base = dict(zip(orders.column("o_orderkey").to_pylist(), orders.column("o_orderyear").to_pylist()))
    updated = [(k, m) for k, m in zip(batch["o_orderkey"], batch["o_orderyear"]) if k in base]
    assert len(updated) == a["rows"] - int(a["rows"] * gen.BATCH_INSERT_SHARE)
    assert all(base[k] == m for k, m in updated)  # a key keeps its partition
    assert all(day.year == y for day, y in zip(batch["o_orderdate"], batch["o_orderyear"]))
