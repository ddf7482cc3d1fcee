"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine's queries read (``sources.tables.TABLES``)
as one Parquet file each, ``<out_dir>/<name>.parquet``, with the column
names and types of the engine's TPC-H-like fixture set. Row counts follow
the scale factor: at ``sf=0.1`` there are 150k orders, ~600k line items,
100k events, 5k documents and 2k embeddings (about 17 MB). Each table draws
from its own seeded stream, so a table does not depend on which others are
generated, and the same seed gives byte-identical tables.

Unlike the fixture set, ``(l_orderkey, l_linenumber)`` is unique, so an
upsert keyed on it replaces exactly one row.
"""

from __future__ import annotations

import datetime as dt
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
ADJECTIVES = np.array(["cold", "hot", "large", "new", "old", "red", "small"])
NOUNS = np.array(["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = np.array([0.4, 0.15, 0.15, 0.15, 0.15])
VOCAB = np.array(
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window".split()
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMBED_DIM = 64


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(base: dt.date, offsets: np.ndarray) -> pa.Array:
    epoch = np.datetime64(base.isoformat(), "us")
    return pa.array(epoch + offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def _ids(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def make_tables(
    seed: int, sf: float = 0.1, names: tuple[str, ...] | None = None
) -> dict[str, pa.Table]:
    """The tables in ``names`` (default: all ten), by name."""

    def want(name: str) -> bool:
        return names is None or name in names

    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_vec = int(20_000 * sf)
    n_users = max(10, int(15_000 * sf))
    out: dict[str, pa.Table] = {}

    if want("region"):
        out["region"] = pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        )
    if want("nation"):
        out["nation"] = pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        )
    if want("customer"):
        rng = _rng(seed, "customer")
        out["customer"] = pa.table(
            {
                "c_custkey": _ids(n_cust),
                "c_name": _names("Customer", n_cust),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust),
            }
        )
    if want("supplier"):
        rng = _rng(seed, "supplier")
        out["supplier"] = pa.table(
            {
                "s_suppkey": _ids(n_supp),
                "s_name": _names("Supplier", n_supp),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        )
    if want("part"):
        rng = _rng(seed, "part")
        part_idx = np.arange(n_part)
        out["part"] = pa.table(
            {
                "p_partkey": _ids(n_part),
                "p_name": np.char.add(
                    np.char.add(rng.choice(ADJECTIVES, n_part), " "),
                    rng.choice(NOUNS, n_part),
                ),
                "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
                "p_type": rng.choice(PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900 + (part_idx % 1000) * 0.1, 2),
            }
        )

    # shared by orders and lineitem: 1995-01-01 .. 2001-08-01
    order_day = _rng(seed, "order_day").integers(0, 2404, n_ord)
    if want("orders"):
        rng = _rng(seed, "orders")
        out["orders"] = pa.table(
            {
                "o_orderkey": _ids(n_ord),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_ord),
                "o_totalprice": _money(rng, 1000, 500_000, n_ord),
                "o_orderdate": _days(dt.date(1995, 1, 1), order_day),
                "o_orderpriority": rng.choice(PRIORITIES, n_ord),
            }
        )
    if want("lineitem"):
        rng = _rng(seed, "lineitem")
        lines = rng.integers(1, 8, n_ord)
        n_li = int(lines.sum())
        l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
        starts = np.repeat(np.cumsum(lines) - lines, lines)
        qty = rng.integers(1, 51, n_li).astype(np.float64)
        out["lineitem"] = pa.table(
            {
                "l_orderkey": l_order,
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_li),
                "l_linestatus": rng.choice(np.array(["F", "O"]), n_li),
                "l_shipdate": _days(
                    dt.date(1995, 1, 1), np.repeat(order_day, lines) + rng.integers(1, 122, n_li)
                ),
            }
        )

    if want("events"):
        rng = _rng(seed, "events")
        evt_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_evt))
        out["events"] = pa.table(
            {
                "event_id": _ids(n_evt),
                "ts": pa.array(np.datetime64("2024-01-01", "us") + evt_us, pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
                "event_type": rng.choice(EVENT_TYPES, n_evt),
                "value": np.round(rng.exponential(50.0, n_evt), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
            }
        )

    if want("documents"):
        rng = _rng(seed, "documents")
        texts = [" ".join(rng.choice(VOCAB, int(k))) for k in rng.integers(8, 97, n_doc)]
        # ~5% near-duplicates of earlier documents, so the dedup queries find pairs
        for i in np.flatnonzero(rng.random(n_doc) < 0.05):
            if i:
                words = texts[int(rng.integers(0, i))].split()
                words[int(rng.integers(0, len(words)))] = "dup"
                texts[i] = " ".join(words)
        out["documents"] = pa.table(
            {
                "doc_id": _ids(n_doc),
                "text": texts,
                "lang": rng.choice(LANGS, n_doc, p=LANG_P),
                "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        )

    if want("embeddings"):
        rng = _rng(seed, "embeddings")
        labels = rng.integers(0, 10, n_vec)
        centers = rng.normal(0, 0.15, (10, EMBED_DIM))
        vecs = (centers[labels] + rng.normal(0, 0.05, (n_vec, EMBED_DIM))).astype(np.float32)
        out["embeddings"] = pa.table(
            {
                "vec_id": _ids(n_vec),
                "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), EMBED_DIM).cast(
                    pa.list_(pa.float32())
                ),
                "label": pa.array(labels, pa.int32()),
            }
        )
    return out


def write_tables(
    out_dir: str, seed: int, sf: float = 0.1, names: tuple[str, ...] | None = None
) -> dict[str, int]:
    """Write the tables in ``names`` (default: all) to ``out_dir``; returns
    row counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in make_tables(seed, sf, names).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
