"""Seeded input generation for the benchmark.

Everything the engine reads during a run is made here from ``--seed``:
the ten test-data tables (the schemas, physical types and value domains
FIXTURES.md describes) and the log-store record stream.
The same seed gives byte-identical inputs; nothing is read from outside
the checkout.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
P_ADJ = ("blue", "old", "small", "new", "red", "hot", "large", "cold")
P_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> pa.Array:
    """n midnight timestamps drawn uniformly from [lo, hi] (whole days)."""
    d0 = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - d0).astype(int))
    days = d0 + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Pseudo-word texts over a 31-token vocabulary. About 5% are near
    copies of an earlier document with ``dup`` appended, and a handful are
    exact copies, so the dedup kernels find families, as in the test data
    FIXTURES.md describes."""
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and roll < 0.054:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.choice(30, int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    """The event stream: dense ``event_id`` ascending with ``ts`` over
    January 2024, µs precision."""
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n), 2))),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def make_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables at scale factor ``sf`` as ``<out_dir>/<t>.parquet``.
    Returns the row count per table."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    i32 = pa.int32()
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": pa.array(
                    [
                        f"{P_ADJ[a]} {P_NOUN[b]}"
                        for a, b in rng.integers(0, 8, (n_part, 2))
                    ]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(0, 25, n_part)]),
                "p_type": _pick(rng, P_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                "p_retailprice": pa.array(
                    np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
                ),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
                "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
                "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
                "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
                "l_linestatus": _pick(rng, ("F", "O"), n_line),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
            }
        ),
        "events": _events(rng, n_ev, int(15_000 * sf)),
        "documents": _documents(rng, n_doc),
        "embeddings": pa.table(
            {
                "vec_id": pa.array(np.arange(n_vec), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, n_vec), i32),
            }
        ),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, f"{out_dir}/{name}.parquet", compression="snappy")
    return {name: t.num_rows for name, t in tables.items()}


class RecordStream:
    """Seeded source of log-store inputs: the bulk-load records (an
    ``events`` table mapped to ns=event_type, key=user_id, value=props) and
    every later batch, delete list and read key set.

    Keys are ``u<user_id>``; new keys come from a counter above the bulk
    load's user range, so the key space grows as batches append."""

    def __init__(self, seed: int, bulk_records: int):
        self.rng = np.random.default_rng([seed, 2])
        self.users = max(15, bulk_records * 15 // 1000)
        self.bulk_records = bulk_records
        self.next_user = self.users
        self.batch_no = 0
        self.ts = dt.datetime(2024, 2, 1)

    def bulk(self) -> pa.Table:
        ev = _events(self.rng, self.bulk_records, self.users)
        return pa.table(
            {
                "ns": ev["event_type"],
                "key": pa.array([f"u{u}" for u in ev["user_id"].to_numpy()]),
                "ts": ev["ts"],
                "value": ev["props"],
            }
        )

    def batch(self, size: int, live: dict[str, list[str]]) -> pa.Table:
        """One append batch: ``size`` records, each (ns, key) at most once.
        About 80% update existing keys, the rest are new keys."""
        self.batch_no += 1
        self.ts += dt.timedelta(seconds=1)
        n_new = size // 5
        rows: set[tuple[str, str]] = set()
        while len(rows) < size - n_new:
            ns = EVENT_TYPES[int(self.rng.integers(0, 5))]
            keys = live[ns]
            rows.add((ns, keys[int(self.rng.integers(0, len(keys)))]))
        for _ in range(n_new):
            ns = EVENT_TYPES[int(self.rng.integers(0, 5))]
            rows.add((ns, f"u{self.next_user}"))
            self.next_user += 1
        ordered = sorted(rows)
        ks = self.rng.integers(0, 100, len(ordered))
        return pa.table(
            {
                "ns": pa.array([r[0] for r in ordered]),
                "key": pa.array([r[1] for r in ordered]),
                "ts": pa.array([self.ts] * len(ordered), pa.timestamp("us")),
                "value": pa.array(
                    [f'{{"k": {k}, "b": {self.batch_no}}}' for k in ks]
                ),
            }
        )

    def choose(self, pool: list[str], n: int) -> list[str]:
        """n distinct picks from ``pool`` (fewer if the pool is smaller)."""
        if not pool:
            return []
        idx = self.rng.choice(len(pool), min(n, len(pool)), replace=False)
        return [pool[int(i)] for i in idx]

    def namespace(self) -> str:
        return EVENT_TYPES[int(self.rng.integers(0, 5))]

    def unwritten_key(self) -> str:
        """A key no batch will ever write (outside the ``u<n>`` space)."""
        return f"never{int(self.rng.integers(0, 10**9))}"

    def shuffled(self, items: list) -> list:
        return [items[int(i)] for i in self.rng.permutation(len(items))]
