"""Seeded input generators. Every table is a pure function of (seed, size):
the same seed gives byte-identical inputs, and different seeds give tables
of the same shape and size with different values."""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000


def events_table(rng: np.random.Generator, n: int, n_users: int = 1500) -> pa.Table:
    """Rows shaped like the reference's event stream: monotone ``event_id``
    and ``ts``, a JSON ``props`` string and a 2-dp ``value``."""
    ids = np.arange(n, dtype=np.int64)
    ts = EPOCH_2024_US + np.sort(rng.integers(0, 30 * DAY_US, n))
    return pa.table({
        "event_id": ids,
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n, dtype=np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.exponential(60.0, n), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}"),
    })


@dataclass
class MergeLedger:
    """What each merge commit changed, by table version: the ids it
    updated and the ids it inserted. A USER_PROPERTY sync over
    ``(start, end]`` must export exactly the post-images of the updates
    plus the inserts of those versions."""

    next_id: int
    changed: dict[int, np.ndarray] = field(default_factory=dict)
    inserted: int = 0

    def expected_ids(self, start: int, end: int) -> np.ndarray:
        parts = [self.changed[v] for v in range(start + 1, end + 1)]
        return np.sort(np.concatenate(parts)) if parts else np.array([], np.int64)


def merge_batch(rng: np.random.Generator, ledger: MergeLedger, version: int,
                n_rows: int, insert_share: float, hot_ids: int) -> pa.Table:
    """Source rows for one MERGE: mostly updates of distinct ids among the
    newest ``hot_ids`` plus ``insert_share`` new ids. Records the change
    in ``ledger``."""
    n_ins = int(round(n_rows * insert_share))
    upd = (ledger.next_id - hot_ids
           + rng.choice(hot_ids, n_rows - n_ins, replace=False)).astype(np.int64)
    tb = events_table(rng, n_rows)
    ins = np.arange(ledger.next_id, ledger.next_id + n_ins, dtype=np.int64)
    ids = np.concatenate([upd, ins])
    ledger.next_id += n_ins
    ledger.inserted += n_ins
    ledger.changed[version] = ids
    return tb.set_column(0, "event_id", pa.array(ids))


# ---------------------------------------------------------------------------
# TPC-H-like star schema plus events / documents / embeddings, the table set
# the query library's gates read (see the registry's TABLES)

_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_WORDS = ("query row stream the spark line small fast group customer batch "
          "sort value hash filter big data dup part column order scan a slow "
          "agg key window table merge vector join").split()
_LANGS = ["en", "zh", "de", "fr", "es"]
_DATE0_US = 788_918_400_000_000  # 1995-01-01


def _pick(rng, values, n):
    return np.asarray(values)[rng.integers(0, len(values), n)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo_day, hi_day, n):
    return pa.array(_DATE0_US + rng.integers(lo_day, hi_day, n) * DAY_US,
                    pa.timestamp("us"))


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(6, 97, n)
    words = np.asarray(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # near-duplicates (one word replaced) and exact re-ingests, so the dedup
    # gates find real pairs
    for i in rng.choice(np.arange(1, n), n // 50, replace=False):
        toks = texts[rng.integers(0, i)].split()
        toks[rng.integers(0, len(toks))] = str(words[rng.integers(0, len(words))])
        texts[i] = " ".join(toks)
    for i in rng.choice(np.arange(1, n), max(1, n // 500), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, _LANGS, n),
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.standard_normal((10, dim)) * 0.05
    vecs = (rng.standard_normal((n, dim)) * 0.13 + centers[labels]).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": labels,
    })


def star_schema(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every registry table at
    scale ``sf`` (sf 0.1 ~ 600k lineitem rows). Returns row counts."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li = 4 * n_ord
    keys = lambda n: np.arange(n, dtype=np.int64)  # noqa: E731
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": keys(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust)}),
        "supplier": pa.table({
            "s_suppkey": keys(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        "part": pa.table({
            "p_partkey": keys(n_part),
            "p_name": np.char.add(np.char.add(_pick(rng, _ADJ, n_part), " "),
                                  _pick(rng, _NOUN, n_part)),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": _pick(rng, _PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)}),
        "orders": pa.table({
            "o_orderkey": keys(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": _pick(rng, ["O", "P", "F"], n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(rng, 0, 2404, n_ord),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["N", "A", "R"], n_li),
            "l_linestatus": _pick(rng, ["O", "F"], n_li),
            "l_shipdate": _days(rng, 1, 2499, n_li)}),
        "events": events_table(rng, int(1_000_000 * sf), n_users=int(15_000 * sf)),
        "documents": _documents(rng, int(50_000 * sf)),
        "embeddings": _embeddings(rng, int(20_000 * sf)),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, tb in tables.items():
        pq.write_table(tb, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tb.num_rows for name, tb in tables.items()}
