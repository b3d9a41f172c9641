"""Seeded generator for the ``batch`` workload's input tables.

Writes the tables its faces read (``region``, ``nation``, ``customer``,
``orders``, ``lineitem``, ``events``, ``documents``) with the same schemas,
key ranges and value distributions as the repository's sf-N test tables,
so the faces run unchanged on them.

Two seeds play different roles:

* ``CONTENT_SEED`` fixes the rows. It is a constant so that the expected
  value-hashes in ``expected.json`` (one DuckDB oracle run per face, see
  ``expected.py``) apply to every run.
* The run's ``--seed`` picks the row order of every table. That changes
  which rows meet in each partial aggregate, join build side and shuffle
  block, while every face's order-insensitive result stays the same. The
  file count stays one per table: more files would mean more scan tasks,
  a difference in work rather than in input.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 20261017

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.42, 0.15, 0.15, 0.14, 0.14]

_DAY_US = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: tuple[int, int, int], n_days: int, n: int) -> pa.Array:
    return _ts(_epoch_us(*start) + rng.integers(0, n_days, n) * _DAY_US)


def build_tables(sf: float) -> dict[str, pa.Table]:
    """The tables' rows at scale factor ``sf`` (the test tables' sizing),
    from ``CONTENT_SEED``."""
    rng = np.random.default_rng(CONTENT_SEED)
    # lineitem's part and supplier keys range over tables no face reads
    n_part, n_supp = int(200_000 * sf), int(10_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = int(150_000 * sf)
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc),
        }
    )
    no = int(1_500_000 * sf)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _days(rng, (1995, 1, 1), 2404, no),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no),
        }
    )
    nl = int(6_000_000 * sf)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": np.round(rng.uniform(0.0, 0.1, nl), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _days(rng, (1995, 1, 2), 2499, nl),
        }
    )
    ne = int(1_000_000 * sf)
    start = _epoch_us(2024, 1, 1)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": _ts(np.sort(start + rng.integers(0, 30 * _DAY_US, ne))),
            "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), ne), pa.int64()),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = int(50_000 * sf)
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document (the dedup faces' target)
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, nd, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    return t


def write_tables(out_dir: str, sf: float, order_seed: int | None) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``, its rows shuffled
    by ``order_seed`` (``None`` keeps the generated order)."""
    rng = np.random.default_rng(order_seed)
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    for name, table in build_tables(sf).items():
        if order_seed is not None:
            table = table.take(rng.permutation(table.num_rows))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
