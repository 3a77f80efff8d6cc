"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of ``(seed, size)``:

- :func:`write_tables` writes the TPC-H-ish star schema plus the
  ``events``, ``documents`` and ``embeddings`` tables that the
  registered queries read (one parquet file per table, same column
  names and types as the library's fixtures).
- :func:`etl_batches` builds nested JSON order batches for the
  pipeline workload, and :func:`etl_expected` computes the totals the
  pipeline outputs must reproduce.

Values are independent uniform draws with the fixtures' domains.
Money and rates carry at most two decimals, so the query library's
exact-decimal aggregates compare bit-for-bit against DuckDB.
"""

from __future__ import annotations

import datetime as dt
import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo: float, hi: float) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale ``sf`` (sf=0.01 is ~60k lineitems)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(int(150_000 * sf), 150)
    n_supp = max(int(10_000 * sf), 20)
    n_part = max(int(200_000 * sf), 200)
    n_ord = max(int(1_500_000 * sf), 1500)
    n_ev = max(int(1_000_000 * sf), 1000)
    n_users = max(int(15_000 * sf), 15)
    n_doc = max(int(50_000 * sf), 500)
    n_vec = max(int(20_000 * sf), 500)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    li = rng.permutation(n_li)
    out["lineitem"] = pa.table({
        "l_orderkey": okey[li],
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32)[li],
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900, 105_000),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(VOCAB)
    docs = [list(words[rng.integers(0, len(VOCAB), k)]) for k in rng.integers(10, 100, n_doc)]
    # plant near-duplicates, as the fixtures do: one doc in ten copies
    # an earlier doc with one word replaced
    for i in np.sort(rng.choice(np.arange(1, n_doc), n_doc // 10, replace=False)):
        doc = list(docs[int(rng.integers(0, i))])
        doc[int(rng.integers(0, len(doc)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        docs[i] = doc
    texts = [" ".join(d) for d in docs]
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vec = rng.standard_normal((n_vec, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    })
    return out


def write_tables(out_dir: Path, seed: int, sf: float) -> None:
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, out_dir / f"{name}.parquet")


# --- pipeline workload inputs ----------------------------------------

ETL_REGIONS = ["north", "south", "east", "west"]
ETL_DAYS = 8
ETL_SKUS = 40


def etl_batches(seed: int, n_batches: int, orders_per_batch: int) -> list[list[dict]]:
    """Nested order records, one list per landing batch.

    Each order is ``{order_id, day, customer{id, region},
    items[{sku, qty, price}]}``. Prices have two decimals and quantities
    are small integers, so every aggregate is exact in DECIMAL.
    """
    rng = np.random.default_rng([seed, 2])
    base = dt.date(2024, 3, 1)
    batches = []
    oid = 0
    for _ in range(n_batches):
        batch = []
        n_items = rng.integers(1, 6, orders_per_batch)
        for k in n_items:
            skus = rng.integers(0, ETL_SKUS, k)
            batch.append({
                "order_id": oid,
                "day": (base + dt.timedelta(days=int(rng.integers(0, ETL_DAYS)))).isoformat(),
                "customer": {
                    "id": int(rng.integers(0, 1000)),
                    "region": ETL_REGIONS[int(rng.integers(0, len(ETL_REGIONS)))],
                },
                "items": [
                    {
                        "sku": f"sku-{int(s):03d}",
                        "qty": int(rng.integers(1, 10)),
                        "price": int(rng.integers(100, 10_000)) / 100,
                    }
                    for s in skus
                ],
            })
            oid += 1
        batches.append(batch)
    return batches


def write_batch(path: Path, batch: list[dict]) -> None:
    """One JSON-lines file; key order is fixed so bytes are reproducible."""
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w") as f:
        for rec in batch:
            f.write(json.dumps(rec, separators=(",", ":")) + "\n")


def _cents(price: float) -> int:
    return round(price * 100)


def etl_expected(batches: list[list[dict]]) -> dict:
    """Totals after ingesting ``batches`` in order.

    ``keys`` maps ``dk`` ("<day>|<region>") to the aggregate row of the
    latest batch that touched it (upsert semantics); ``report`` maps sku
    to (lines, qty, revenue cents) summed over every appended batch.
    """
    keys: dict[str, tuple[int, int, int]] = {}
    report: dict[str, list[int]] = {}
    lines = 0
    for batch in batches:
        agg: dict[str, list[int]] = {}
        for rec in batch:
            dk = f"{rec['day']}|{rec['customer']['region']}"
            for it in rec["items"]:
                rev = it["qty"] * _cents(it["price"])
                a = agg.setdefault(dk, [0, 0, 0])
                a[0] += 1
                a[1] += it["qty"]
                a[2] += rev
                lines += 1
        for dk, (n, q, rev) in agg.items():
            keys[dk] = (n, q, rev)
        for rec in batch:
            for it in rec["items"]:
                r = report.setdefault(it["sku"], [0, 0, 0])
                r[0] += 1
                r[1] += it["qty"]
                r[2] += it["qty"] * _cents(it["price"])
    return {
        "lines": lines,
        "keys": keys,
        "report": {k: tuple(v) for k, v in report.items()},
    }
