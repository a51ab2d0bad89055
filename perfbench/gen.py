"""Seeded synthetic source tables for the benchmark.

The engine's sources are the ten TPC-H-style tables of ``session.SOURCE_TABLES``
(star schema, an ``events`` stream, ``documents`` and ``embeddings`` for the
training-data pipeline). The benchmark writes its own copy of them from
``--seed`` so that a run needs nothing outside its checkout: the same seed
gives byte-identical parquet, another seed gives other rows with the same
schema, value domains and sizes.

``lineitem`` is written as a directory with one parquet file per ship month,
so the refresh workload can land a month (write one more file) or restate
one (rewrite its file) without touching the others.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: first ship month of the generated history; ``months`` consecutive months
#: follow it
FIRST_MONTH = (1995, 1)

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
ORDER_STATUS = ("F", "O", "P")
RETURN_FLAGS = ("A", "N", "R")
LINE_STATUS = ("F", "O")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_WORDS_A = ("blue", "cold", "hot", "large", "old", "red", "small", "tiny")
P_WORDS_B = ("bolt", "gear", "gizmo", "plate", "ring", "widget", "nut", "pin")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
LANGS = ("en", "de", "es", "fr", "zh")
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "window spark join order sort line query data column group filter "
    "stream small big vector customer dup"
).split()
EMBED_DIM = 64


def month_start(i: int) -> dt.date:
    """First day of the ``i``-th month after ``FIRST_MONTH``."""
    y, m = FIRST_MONTH
    y, m = y + (m - 1 + i) // 12, (m - 1 + i) % 12 + 1
    return dt.date(y, m, 1)


def month_key(i: int) -> str:
    return month_start(i).strftime("%Y-%m")


class SourceData:
    """The generated tables under ``root``, and the means to land and restate
    lineitem months. Sizes follow TPC-H ratios at scale factor ``sf``."""

    def __init__(self, root: str, seed: int, sf: float, months: int = 24):
        self.root = root
        self.seed = seed
        self.sf = sf
        self.months = months
        self.rng = np.random.default_rng(seed)
        self.n_customer = max(30, int(150_000 * sf))
        self.n_supplier = max(10, int(10_000 * sf))
        self.n_part = max(50, int(200_000 * sf))
        self.n_orders = max(300, int(1_500_000 * sf))
        self.n_events = max(500, int(1_000_000 * sf))
        self.n_docs = 500
        self.n_embeddings = 500

    @property
    def lineitem_rows(self) -> int:
        """Lines across all months, once every month has landed."""
        return max(1, int(self.n_orders * 4 / self.months)) * self.months

    # -- paths ---------------------------------------------------------------

    def path(self, table: str) -> str:
        return os.path.join(self.root, f"{table}.parquet")

    def month_path(self, i: int) -> str:
        return os.path.join(self.path("lineitem"), f"month={month_key(i)}.parquet")

    # -- whole set -------------------------------------------------------------

    def write_all(self, landed_months: int | None = None) -> None:
        """Write every table; lineitem gets its first ``landed_months``
        months (all by default)."""
        os.makedirs(self.path("lineitem"), exist_ok=True)
        rng = self.rng
        self._write("region", {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(REGIONS),
        })
        self._write("nation", {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
        n = self.n_customer
        self._write("customer", {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n),
        })
        n = self.n_supplier
        self._write("supplier", {
            "s_suppkey": np.arange(n, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        })
        n = self.n_part
        self._write("part", {
            "p_partkey": np.arange(n, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(P_WORDS_A, n), rng.choice(P_WORDS_B, n))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
            "p_type": rng.choice(P_TYPES, n),
            "p_size": rng.integers(1, 51, n).astype(np.int32),
            "p_retailprice": np.round(rng.uniform(900.0, 999.9, n), 1),
        })
        n = self.n_orders
        days = (month_start(self.months) - month_start(0)).days
        odate = [month_start(0) + dt.timedelta(days=int(d))
                 for d in rng.integers(0, days, n)]
        self._write("orders", {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, self.n_customer, n).astype(np.int64),
            "o_orderstatus": rng.choice(ORDER_STATUS, n),
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n), 2),
            "o_orderdate": pa.array(
                [dt.datetime.combine(d, dt.time()) for d in odate], pa.timestamp("us")
            ),
            "o_orderpriority": rng.choice(PRIORITIES, n),
        })
        self._write_events()
        self._write_documents()
        self._write_embeddings()
        for i in range(self.months if landed_months is None else landed_months):
            self.land_month(i)

    def _write(self, table: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), self.path(table))

    # -- lineitem months -------------------------------------------------------

    def _month_rows(self, i: int, rng: np.random.Generator) -> pa.Table:
        """About four lines per order, spread over the month's days."""
        n = self.lineitem_rows // self.months
        start = month_start(i)
        ndays = (month_start(i + 1) - start).days
        qty = rng.integers(1, 51, n).astype(np.float64)
        price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
        ship = [dt.datetime.combine(start + dt.timedelta(days=int(d)), dt.time())
                for d in rng.integers(0, ndays, n)]
        return pa.table({
            "l_orderkey": rng.integers(0, self.n_orders, n).astype(np.int64),
            "l_partkey": rng.integers(0, self.n_part, n).astype(np.int64),
            "l_suppkey": rng.integers(0, self.n_supplier, n).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(RETURN_FLAGS, n),
            "l_linestatus": rng.choice(LINE_STATUS, n),
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        })

    def land_month(self, i: int) -> None:
        """Write month ``i``'s lineitem file (the month lands)."""
        rng = np.random.default_rng((self.seed, i))
        pq.write_table(self._month_rows(i, rng), self.month_path(i))

    def restate_month(self, i: int, version: int) -> None:
        """Rewrite month ``i``'s file with seeded changes: a tenth of the
        lines get a new quantity and return flag, and a few late lines are
        added (a late-data correction)."""
        path = self.month_path(i)
        table = pq.read_table(path)
        rng = np.random.default_rng((self.seed, i, version))
        n = table.num_rows
        cols = {name: table.column(name).to_numpy(zero_copy_only=False)
                for name in table.column_names}
        hit = rng.random(n) < 0.1
        cols["l_quantity"] = np.where(
            hit, rng.integers(1, 51, n).astype(np.float64), cols["l_quantity"]
        )
        cols["l_returnflag"] = np.where(
            hit, rng.choice(RETURN_FLAGS, n), cols["l_returnflag"]
        )
        cols["l_shipdate"] = table.column("l_shipdate")
        late = self._month_rows(i, rng).slice(0, max(1, n // 50))
        pq.write_table(
            pa.concat_tables([pa.table(cols, schema=table.schema), late]), path
        )

    # -- other tables ---------------------------------------------------------

    def _write_events(self) -> None:
        rng, n = self.rng, self.n_events
        base = dt.datetime(2024, 1, 1)
        micros = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n))
        self._write("events", {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(
                [base + dt.timedelta(microseconds=int(u)) for u in micros],
                pa.timestamp("us"),
            ),
            "user_id": rng.integers(0, max(50, n // 60), n).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.uniform(0.01, 490.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        })

    def _write_documents(self) -> None:
        """Word soup over a small vocabulary; every tenth document is a
        near-duplicate of an earlier one (one word changed) so the dedup
        jobs find clusters."""
        rng, n = self.rng, self.n_docs
        texts: list[str] = []
        for i in range(n):
            if i >= 10 and i % 10 == 0:
                words = texts[int(rng.integers(0, i))].split()
                words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
            else:
                words = list(rng.choice(VOCAB, int(rng.integers(8, 90))))
            texts.append(" ".join(words))
        self._write("documents", {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=(0.44, 0.14, 0.14, 0.13, 0.15)),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        })

    def _write_embeddings(self) -> None:
        """Unit vectors around ten seeded centroids; ``label`` is the
        centroid."""
        rng, n = self.rng, self.n_embeddings
        centroids = rng.normal(size=(10, EMBED_DIM))
        label = rng.integers(0, 10, n)
        vec = centroids[label] + 0.6 * rng.normal(size=(n, EMBED_DIM))
        vec /= np.linalg.norm(vec, axis=1, keepdims=True)
        self._write("embeddings", {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
            "label": label.astype(np.int32),
        })
