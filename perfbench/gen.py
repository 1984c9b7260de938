"""Seeded input generator for the benchmark, built on numpy and pyarrow only.

Nothing here touches Spark: the engine sees the parquet files this module
writes, and the CDC reference (reference.py) is computed from the same
in-memory tables, so the load generator and the correctness check are both
independent of the program under test.

Shapes follow the star schema the analytics queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings).
Table sizes scale with ``sf`` the way the TPC-H-like test data does
(lineitem ~ 6M x sf rows). Unlike that data, ``(l_orderkey, l_linenumber)``
is unique by construction, so ``Id`` is a unique key.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SNAPSHOT_BASE = datetime(2023, 6, 1)
# Change batches are stamped after this instant. The engine seeds a fresh
# table's watermark from the wall clock at extract start, so every change
# must lie after any plausible run date to be picked up by the first tick.
CHANGE_BASE = datetime(2031, 1, 1)
TICK_SPAN_S = 60  # each tick's changes fall in their own minute

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
P_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "anvil", "plate", "rod"]
P_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window join small big order group column query filter stream "
    "data customer vector"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def _us(dt: datetime) -> int:
    return int((dt - datetime(1970, 1, 1)).total_seconds() * 1_000_000)


def _days(rng, n, start: datetime, span_days: int) -> pa.Array:
    d = rng.integers(0, span_days, n).astype("int64") * 86_400_000_000 + _us(start)
    return pa.array(d, pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The seven TPC-H-like tables at scale ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = max(10, int(150_000 * sf)), max(10, int(10_000 * sf))
    n_part, n_ord = max(10, int(200_000 * sf)), max(10, int(1_500_000 * sf))
    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype="int64"),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype="int64"),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype="int64"),
                "p_name": [
                    f"{P_ADJ[a]} {P_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
                "p_size": rng.integers(1, 51, n_part).astype("int32"),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype="int64"),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": _money(rng, 1000, 500_000, n_ord),
                "o_orderdate": _days(rng, n_ord, datetime(1995, 1, 1), 2400),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
            }
        ),
    }
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype="int64"), lines)
    # 1..k within each order: global position minus the order's first position
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n_li) - starts + 1).astype("int32")
    out["lineitem"] = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
            "l_linenumber": linenumber,
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": _money(rng, 900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, n_li, datetime(1995, 1, 2), 2500),
        }
    )
    return out


def extra_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """events, documents (5% near-duplicates) and 64-d embeddings."""
    rng = np.random.default_rng([seed, 2])
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    gaps = rng.exponential(30 * 86_400 / n_ev, n_ev)
    ts = _us(datetime(2024, 1, 1)) + (np.cumsum(gaps) * 1e6).astype("int64")
    events = pa.table(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, max(10, int(15_000 * sf)), n_ev).astype("int64"),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": _money(rng, 0, 100, n_ev),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    documents = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype="int64"),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    centers = rng.normal(0, 0.1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = (centers[labels] + rng.normal(0, 0.1, (n_emb, 64))).astype("float32")
    embeddings = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype="int64"),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype("int32"),
        }
    )
    return {"events": events, "documents": documents, "embeddings": embeddings}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One ``<name>.parquet`` file per table (the layout tables.load_table reads)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


# -- CDC entities ------------------------------------------------------------

LINEITEM_KEY = ["l_orderkey", "l_linenumber"]  # unique here, unlike the test data
TS_TYPE = pa.timestamp("us", tz="UTC")


def as_entity(t: pa.Table, seed: int) -> pa.Table:
    """Make ``lineitem`` a replicated entity: a string ``Id``
    ``<orderkey>-<linenumber>``, a millisecond ``SystemModstamp`` before the
    load, and ``IsDeleted`` false."""
    rng = np.random.default_rng([seed, 3])
    ids = pc.binary_join_element_wise(*[pc.cast(t[k], pa.string()) for k in LINEITEM_KEY], "-")
    ms = rng.integers(0, 86_400_000, t.num_rows) * 1000 + _us(SNAPSHOT_BASE)
    return (
        t.append_column("Id", ids)
        .append_column("SystemModstamp", pa.array(ms, TS_TYPE))
        .append_column("IsDeleted", pa.array(np.zeros(t.num_rows, bool)))
    )


class ChangeFeed:
    """Seeded change batches for the lineitem entity.

    Each batch mixes updates of live keys, inserts of new keys and deletes
    (an ``IsDeleted`` row), by the given shares. A share of the rows repeats
    a key already in the batch, and the first rows of every batch after the
    first share the second of the previous batch's newest row, so the
    engine's second-truncated watermark re-reads them. Deleted keys are
    never touched again (Salesforce never reuses an Id)."""

    VALUE_COL = "l_extendedprice"  # the column an update changes

    def __init__(self, entity: pa.Table, seed: int):
        self.rng = np.random.default_rng([seed, 4])
        self.schema = entity.schema
        self.template = entity.slice(0, min(entity.num_rows, 4096))
        self.live = list(entity["Id"].to_pylist())
        self.live_set = set(self.live)
        self.n_inserted = 0
        self.batch_no = 0
        self.last_us = None

    def _pick_live(self) -> str:
        while True:
            i = self.live[int(self.rng.integers(0, len(self.live)))]
            if i in self.live_set:
                return i

    def batch(self, n: int, upd=0.7, ins=0.2, dup=0.05) -> pa.Table:
        """The next batch of ``n`` (at least 2) rows."""
        self.batch_no += 1
        rng = self.rng
        kinds = rng.choice(3, n, p=[upd, ins, 1 - upd - ins])
        ids, dead = [], []
        for k in kinds:
            again = ids[int(rng.integers(0, len(ids)))] if ids else None
            if again in self.live_set and rng.random() < dup:
                key, is_del = again, False  # a key repeated inside the batch
            elif k == 1 or len(self.live_set) < 2:
                self.n_inserted += 1
                key, is_del = f"L{self.batch_no}n{self.n_inserted}", False
                self.live.append(key)
                self.live_set.add(key)
            else:
                key, is_del = self._pick_live(), k == 2
            ids.append(key)
            dead.append(is_del)
            if is_del:
                # a delete is the key's last event: it is never picked again
                self.live_set.discard(key)
        self.live = [i for i in self.live if i in self.live_set]
        base = _us(CHANGE_BASE) + self.batch_no * TICK_SPAN_S * 1_000_000
        # strictly increasing stamps: a key repeated in a batch never ties on
        # SystemModstamp, so "last row per Id" has one answer without file order
        steps = np.sort(rng.integers(1, (TICK_SPAN_S - 1) * 1000 - n, n)) + np.arange(n)
        ms = steps * 1000 + base
        if self.last_us is not None:
            # rows on the previous watermark's second, after its newest row
            sec = self.last_us - self.last_us % 1_000_000
            room = (sec + 1_000_000 - self.last_us) // 1000 - 1
            if room >= 2:
                ms[:2] = self.last_us + 1000 * np.sort(rng.choice(room, 2, replace=False) + 1)
        self.last_us = int(ms.max())
        rows = self.template.take(rng.integers(0, self.template.num_rows, n))
        cols = {c: rows[c] for c in self.schema.names}
        cols["Id"] = pa.array(ids, pa.string())
        cols["SystemModstamp"] = pa.array(ms, TS_TYPE)
        cols["IsDeleted"] = pa.array(dead)
        cols[self.VALUE_COL] = pa.array(np.round(rng.uniform(0, 10_000, n), 2))
        return pa.table(cols, schema=self.schema)


def land(batch: pa.Table, table_dir: str, seq: int) -> str:
    """Write one change batch into the entity's source directory."""
    path = os.path.join(table_dir, f"change-{seq:06d}.parquet")
    pq.write_table(batch, path)
    return path

