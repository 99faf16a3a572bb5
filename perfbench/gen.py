"""Seeded input generators for the benchmark.

Batch tables have the schemas and value distributions of the engine's
ten parquet tables (``flink_kafka_spark.tables.TABLES``): a TPC-H-like
star schema plus ``events``, ``documents`` and ``embeddings``. Each
table is one parquet file with one row group, the layout the engine's
queries are tuned for.

The text corpus and embeddings (the inputs of the three rows-only
queries, which have no DuckDB oracle) come from ``seed % CORPUS_VARIANTS``
so that their pinned result digests cover every seed.

Stream backlogs are CSV text files, one file per micro-batch, in the
positional line formats of ``flink_kafka_spark.schemas``. Each backlog
returns the counts its detector must report, planted by construction.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

CORPUS_VARIANTS = 8
VOCAB = (
    "a the spark stream batch window merge table column vector value data small big "
    "join filter group hash customer sort order slow fast line part row agg key query scan"
).split()
LANGS = ("en", "fr", "de", "es", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
P_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
US_PER_DAY = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: tuple, end: tuple, n: int) -> pa.Array:
    lo, hi = _epoch_us(*start) // US_PER_DAY, _epoch_us(*end) // US_PER_DAY
    return pa.array(rng.integers(lo, hi + 1, n) * US_PER_DAY, pa.timestamp("us"))


def table_rows(sf: float) -> dict[str, int]:
    """Row count of every table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def batch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf``; equal seeds give equal tables."""
    rng = np.random.default_rng([seed, 1])
    n = table_rows(sf)
    keys = lambda k: pa.array(np.arange(n[k], dtype=np.int64))  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": keys("customer"),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": keys("supplier"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    pk = np.arange(n["part"])
    t["part"] = pa.table(
        {
            "p_partkey": keys("part"),
            "p_name": pc.binary_join_element_wise(
                _pick(rng, P_ADJ, n["part"]), _pick(rng, P_NOUN, n["part"]), " "
            ),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n["part"])]),
            "p_type": _pick(rng, P_TYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": keys("orders"),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n["orders"]),
            "o_totalprice": _money(rng, 1000, 500_000, n["orders"]),
            "o_orderdate": _days(rng, (1995, 1, 1), (2001, 8, 1), n["orders"]),
            "o_orderpriority": _pick(rng, PRIORITIES, n["orders"]),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n["orders"], nl),
            "l_partkey": rng.integers(0, n["part"], nl),
            "l_suppkey": rng.integers(0, n["supplier"], nl),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, nl),
            "l_discount": rng.integers(0, 11, nl) / 100,
            "l_tax": rng.integers(0, 9, nl) / 100,
            "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
            "l_linestatus": _pick(rng, ("F", "O"), nl),
            "l_shipdate": _days(rng, (1995, 1, 2), (2001, 11, 4), nl),
        }
    )
    ne = n["events"]
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, ne)) + _epoch_us(2024, 1, 1)
    t["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, max(1, int(15_000 * sf)), ne),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    t.update(_corpus(seed % CORPUS_VARIANTS, n["documents"], n["embeddings"]))
    return t


def _corpus(variant: int, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """Documents (bag-of-words text, 5% exact copies of another document
    tagged ``dup``) and unit-norm 64-d embeddings with ten labels."""
    rng = np.random.default_rng([variant, 2])
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in rng.integers(10, 101, n_docs)]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_docs))].removesuffix(" dup") + " dup"
    docs = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, LANGS, n_docs, LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
        }
    )
    return {"documents": docs, "embeddings": emb}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 24)


# --- stream backlogs ---------------------------------------------------

STREAM_T0 = 1_700_000_000  # epoch seconds of the first event
SENTINEL_S = 86_400  # a last event this far ahead closes every window and timer


def _write_files(out_dir: str, lines_per_file: list[list[str]]) -> None:
    """One file per micro-batch. A file source admits files in
    modification-time order, so each file gets its own mtime."""
    os.makedirs(out_dir, exist_ok=True)
    for i, lines in enumerate(lines_per_file):
        path = os.path.join(out_dir, f"part-{i:03d}.csv")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.utime(path, (STREAM_T0 + i, STREAM_T0 + i))


def _split(ts: np.ndarray, lines: list[str], n_files: int, span: int) -> list[list[str]]:
    """Cut time-ordered lines into files by equal event-time ranges, so
    no file holds an event behind the previous file's watermark."""
    cut = np.searchsorted(ts, STREAM_T0 + span * np.arange(1, n_files) // n_files)
    bounds = [0, *cut.tolist(), len(lines)]
    return [lines[a:b] for a, b in zip(bounds, bounds[1:])]


def order_backlog(rng, out_dir: str, n_orders: int, n_files: int, timeout_s: int) -> dict:
    """ORDER_EVENT lines: one create per order; 70% are paid 1..600 s
    later (inside the timeout), the rest never are and time out."""
    span = n_orders // 4
    create = STREAM_T0 + np.sort(rng.integers(0, span, n_orders))
    paid = rng.random(n_orders) < 0.7
    pay = create + rng.integers(1, 601, n_orders)
    ids = np.arange(n_orders)
    ts = np.concatenate([create, pay[paid]])
    lines = [f"{i},create,,{c}" for i, c in zip(ids, create)]
    lines += [f"{i},pay,tx{i},{p}" for i, p in zip(ids[paid], pay[paid])]
    order = np.argsort(ts, kind="stable")
    ts, lines = ts[order], [lines[i] for i in order]
    files = _split(ts, lines, n_files, span + 600)
    files[-1].append(f"{n_orders},create,,{STREAM_T0 + span + 600 + timeout_s + SENTINEL_S}")
    _write_files(out_dir, files)
    n_paid = int(paid.sum())
    return {
        "rows": len(lines) + 1,
        "expect": {"payed": n_paid, "order timeout": n_orders - n_paid},
    }


def hot_items_backlog(rng, out_dir: str, n: int, n_files: int) -> dict:
    """USER_BEHAVIOR lines over 4 hours, 1000 items, 60% pv. Every pv
    lands in 12 sliding 1h/5min windows, all closed by the sentinel."""
    span = 4 * 3600
    ts = STREAM_T0 + np.sort(rng.integers(0, span, n))
    items = rng.integers(0, 1000, n)
    pv = rng.random(n) < 0.6
    beh = np.where(pv, "pv", "cart")
    lines = [f"{u},{i},1,{b},{t}" for u, i, b, t in zip(rng.integers(0, 5000, n), items, beh, ts)]
    files = _split(ts, lines, n_files, span)
    files[-1].append(f"0,{10**6},1,pv,{STREAM_T0 + span + SENTINEL_S}")
    _write_files(out_dir, files)
    return {"rows": n + 1, "expect": {"window_counts": 12 * int(pv.sum())}}


def heavy_hitters_backlog(rng, out_dir: str, n: int, n_files: int) -> dict:
    """LOGIN_EVENT lines whose ``ip`` column carries the item: four
    planted heavy items (8% of the stream each) over a 5000-key tail."""
    heavy = rng.random(n) < 0.32
    items = np.where(
        heavy, np.char.add("h", rng.integers(0, 4, n).astype(str)),
        np.char.add("t", rng.integers(0, 5000, n).astype(str)),
    )
    ts = STREAM_T0 + np.arange(n) // 100
    lines = [f"{i % 1000},{it},fail,{t}" for i, (it, t) in enumerate(zip(items, ts))]
    _write_files(out_dir, _split(ts, lines, n_files, int(ts[-1] - STREAM_T0) + 1))
    vals, counts = np.unique(items, return_counts=True)
    return {"rows": n, "expect": {str(v): int(c) for v, c in zip(vals, counts) if v.startswith("h")}}
