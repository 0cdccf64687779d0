"""Seeded generator for the engine's input tables.

Writes the ten tables the engine reads (``sources.loaders.TABLES``) as one
parquet file each, with the column names, types and value ranges of the
star-schema fixtures described in TESTDATA.md and FIXTURES.md. The same
``(seed, sf)`` always yields byte-identical rows, so a benchmark run can
be repeated exactly and two seeds differ only in values, never in sizes.

Row counts follow the fixtures' scale factor rule (lineitem = 6M x sf,
events = 1M x sf, ...); documents and embeddings have a 500-row floor,
as in the fixtures.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "view", "click", "purchase", "error"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
N_ITEMS = 100
EMBED_DIM = 64
N_LABELS = 10
NEAR_DUP_SHARE = 0.05


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, round(150_000 * sf)),
        "supplier": max(5, round(10_000 * sf)),
        "part": max(20, round(200_000 * sf)),
        "orders": max(50, round(1_500_000 * sf)),
        "lineitem": max(200, round(6_000_000 * sf)),
        "events": max(200, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
        "users": max(10, round(15_000 * sf)),
    }


def _days(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return (rng.integers(a, b + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words prose over a 31-word vocabulary, 10-99 words each;
    a fixed share are near-duplicates of an earlier document (one word
    swapped, a ``dup`` marker appended) so the dedup pipelines find work."""
    vocab = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < NEAR_DUP_SHARE:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))]))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centres = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    label = rng.integers(0, N_LABELS, n)
    v = centres[label] + rng.normal(0.0, 1.5, (n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": label.astype(np.int32),
        }
    )


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    """Click-stream over January 2024: ``event_id`` follows ``ts`` order,
    so a feed staged in id order is also staged in event-time order."""
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(start, start + span, n)).astype("datetime64[us]")
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(np.minimum(rng.exponential(50.0, n), 560.0), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, N_ITEMS, n)]),
        }
    )


def generate(out_dir: str, seed: int, sf: float) -> None:
    """Write every table under ``out_dir``."""
    n = row_counts(sf)
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    tables: dict[str, pa.Table] = {
        "region": pa.table(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n["customer"], dtype=np.int64),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
                "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
                "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
                "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n["part"], dtype=np.int64),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in zip(
                            rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"])
                        )
                    ]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n["part"])]),
                "p_type": _pick(rng, PART_TYPES, n["part"]),
                "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
                "p_retailprice": np.round(900.0 + (np.arange(n["part"]) % 1000) / 10.0, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n["orders"], dtype=np.int64),
                "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype(np.int64),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n["orders"]),
                "o_orderdate": pa.array(
                    _days(rng, n["orders"], "1995-01-01", "2001-08-01"), pa.timestamp("us")
                ),
                "o_orderpriority": _pick(rng, PRIORITIES, n["orders"]),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]).astype(np.int64),
                "l_partkey": rng.integers(0, n["part"], n["lineitem"]).astype(np.int64),
                "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n["lineitem"]),
                "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
                "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
                "l_returnflag": _pick(rng, ["A", "N", "R"], n["lineitem"]),
                "l_linestatus": _pick(rng, ["F", "O"], n["lineitem"]),
                "l_shipdate": pa.array(
                    _days(rng, n["lineitem"], "1995-01-02", "2001-11-04"), pa.timestamp("us")
                ),
            }
        ),
        "events": _events(rng, n["events"], n["users"]),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def stage_event_files(events_path: str, out_dir: str, n_files: int, rows: int | None = None) -> None:
    """Split the events table (or its first ``rows`` rows) into ``n_files``
    parquet files in ``event_id`` (= event-time) order, with strictly
    increasing mtimes: the file stream source lists files oldest first, so
    the stream replays the feed in order. ``ts`` is stored UTC-adjusted so
    Spark reads it as TIMESTAMP, which watermarks require."""
    table = pq.read_table(events_path)
    if rows is not None:
        table = table.slice(0, rows)
    table = table.set_column(
        table.schema.get_field_index("ts"), "ts", table["ts"].cast(pa.timestamp("us", tz="UTC"))
    )
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    base = datetime(2024, 1, 1).timestamp()
    for i in range(n_files):
        path = os.path.join(out_dir, f"part-{i:04d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        os.utime(path, (base + i, base + i))
