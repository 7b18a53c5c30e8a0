"""Seeded inputs, sampled from the engine's own test fixture.

``data/sf0.01/`` holds a copy of the package's sf0.01 fixture: the
TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``, the tables the oracle suite runs on. Each seed derives
its own variant, foreign keys intact:

- ``region``, ``nation``, ``customer``, ``supplier`` and ``part`` are
  kept whole, so every key that points at them still resolves;
- ``orders`` keeps a seeded ``KEEP`` share of its order keys and
  ``lineitem`` the lines of those orders;
- ``events`` keeps every event of a seeded ``KEEP`` share of the users,
  so per-user sequences stay whole;
- ``documents`` and ``embeddings`` keep a seeded ``KEEP`` share of their
  rows, with ids renumbered ``0..n-1`` in seeded order (queries that
  anchor on id 0 get a different anchor per seed);
- every table's rows are permuted.

Column types, value domains, near duplicates and null shares are the
fixture's own; nothing is invented. The same seed gives byte-identical
files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
KEEP = 0.9

# Value domains of the fixture, for the seeded scan constants and change
# batches.
SEGMENTS = ("HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def _cents(x: np.ndarray) -> np.ndarray:
    """Whole cents as float64: exactly representable sums in any order."""
    return np.round(x) / 100.0


def _choice(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _keep_keys(rng: np.random.Generator, column: pa.ChunkedArray) -> pa.Array:
    keys = np.unique(column.to_numpy())
    return pa.array(np.sort(rng.choice(keys, size=round(len(keys) * KEEP), replace=False)))


def _permute(rng: np.random.Generator, table: pa.Table) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _renumber(rng: np.random.Generator, table: pa.Table, id_col: str) -> pa.Table:
    """A seeded ``KEEP`` share of the rows, ids renumbered 0..n-1."""
    rows = rng.choice(table.num_rows, size=round(table.num_rows * KEEP), replace=False)
    kept = table.take(pa.array(rows))
    ids = pa.array(np.arange(kept.num_rows, dtype=np.int64)).cast(table.schema.field(id_col).type)
    return kept.set_column(table.schema.get_field_index(id_col), id_col, ids)


def make_tables(seed: int) -> dict[str, pa.Table]:
    """All fixture tables for one seed, as Arrow tables."""
    rng = np.random.default_rng(seed)
    src = {t: pq.read_table(os.path.join(SOURCE, f"{t}.parquet")) for t in TABLES}
    t = {name: src[name] for name in ("region", "nation", "customer", "supplier", "part")}
    orders = _keep_keys(rng, src["orders"]["o_orderkey"])
    t["orders"] = src["orders"].filter(pc.is_in(src["orders"]["o_orderkey"], orders))
    t["lineitem"] = src["lineitem"].filter(pc.is_in(src["lineitem"]["l_orderkey"], orders))
    users = _keep_keys(rng, src["events"]["user_id"])
    t["events"] = src["events"].filter(pc.is_in(src["events"]["user_id"], users))
    t["documents"] = _renumber(rng, src["documents"], "doc_id")
    t["embeddings"] = _renumber(rng, src["embeddings"], "vec_id")
    return {name: _permute(rng, t[name]) for name in TABLES}


def write_fixture(seed: int, out_dir: str) -> tuple[dict[str, pa.Table], dict[str, dict[str, int]]]:
    """Write every table to ``out_dir``; return the tables and the rows
    and bytes of each file."""
    os.makedirs(out_dir, exist_ok=True)
    tables = make_tables(seed)
    sizes: dict[str, dict[str, int]] = {}
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        sizes[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return tables, sizes


class ChangeFeed:
    """Seeded change batches for the Delta and SCD2 writers.

    ``upsert(i)``: a MERGE batch on ``o_orderkey`` that updates keys drawn
    from one narrow window of the existing keys (a range-clustered table
    has one or two files to rewrite) and inserts a quarter fresh keys past
    the largest key so far. ``bulk(n)``: updates a contiguous run of
    existing keys and inserts the rest, ``n`` distinct keys in all.
    ``customers(i)``: re-sends existing customers, about half with a
    changed tracked column, plus a few new ones. Keys are unique within a
    batch, and the same seed and call order give the same batches."""

    def __init__(self, seed: int, orders: pa.Table, customer: pa.Table):
        self.seed = seed
        self.order_keys = np.sort(orders["o_orderkey"].to_numpy())
        self.next_order = int(self.order_keys[-1]) + 1
        self.custkeys = np.sort(customer["c_custkey"].to_numpy())
        self.customers_now = customer.select(
            ["c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment"]
        ).to_pandas()
        self.next_customer = int(self.custkeys[-1]) + 1

    def _orders(self, rng, keys: np.ndarray) -> pa.Table:
        k = len(keys)
        dates = EPOCH_1995 + rng.integers(0, 2400, k) * DAY_US
        return pa.table({
            "o_orderkey": pa.array(keys.astype(np.int64)),
            "o_custkey": pa.array(rng.choice(self.custkeys, k).astype(np.int64)),
            "o_orderstatus": _choice(rng, ("F", "O", "P"), k),
            "o_totalprice": pa.array(_cents(rng.uniform(100_000, 50_000_000, k))),
            "o_orderdate": pa.array(dates.astype("datetime64[us]"), type=pa.timestamp("us")),
            "o_orderpriority": _choice(rng, PRIORITIES, k),
        })

    def _fresh(self, count: int) -> np.ndarray:
        keys = np.arange(self.next_order, self.next_order + count)
        self.next_order += count
        return keys

    def upsert(self, i: int, rows: int) -> pa.Table:
        rng = np.random.default_rng([self.seed, 1, i])
        n = len(self.order_keys)
        window = max(16, n // 16)
        lo = int(rng.integers(0, n - window))
        pick = lo + rng.choice(window, size=min(rows * 3 // 4, window), replace=False)
        upd = self.order_keys[pick]
        return self._orders(rng, np.concatenate([upd, self._fresh(rows - len(upd))]))

    def bulk(self, keys: int) -> pa.Table:
        rng = np.random.default_rng([self.seed, 3])
        n_upd = min(len(self.order_keys) // 4, keys)
        lo = int(rng.integers(0, len(self.order_keys) - n_upd + 1))
        upd = self.order_keys[lo: lo + n_upd]
        return self._orders(rng, np.concatenate([upd, self._fresh(keys - n_upd)]))

    def customers(self, i: int, rows: int) -> pa.Table:
        rng = np.random.default_rng([self.seed, 2, i])
        cur = self.customers_now
        pick = cur.iloc[rng.choice(len(cur), size=min(rows, len(cur)), replace=False)].copy()
        change = rng.random(len(pick)) < 0.5
        pick.loc[change, "c_acctbal"] = _cents(rng.uniform(-99_999, 999_999, int(change.sum())))
        seg = rng.random(len(pick)) < 0.2
        pick.loc[seg, "c_mktsegment"] = np.asarray(SEGMENTS, dtype=object)[
            rng.integers(0, len(SEGMENTS), int(seg.sum()))
        ]
        k_new = max(1, rows // 10)
        new = pd.DataFrame({
            "c_custkey": np.arange(self.next_customer, self.next_customer + k_new, dtype=np.int64),
            "c_nationkey": rng.integers(0, 25, k_new).astype(np.int32),
            "c_acctbal": _cents(rng.uniform(-99_999, 999_999, k_new)),
            "c_mktsegment": np.asarray(SEGMENTS, dtype=object)[rng.integers(0, 5, k_new)],
        })
        self.next_customer += k_new
        batch = pd.concat([pick, new], ignore_index=True)
        self.customers_now = pd.concat(
            [cur[~cur.c_custkey.isin(batch.c_custkey)], batch], ignore_index=True
        )
        return pa.Table.from_pandas(batch, preserve_index=False)
