"""Registered-query mix: seeded star-schema tables plus the query list.

The tables mirror the shapes of the repo's TPC-H-ish test data (TESTDATA.md):
the same column names and types, value domains and the 5 % near-duplicate
documents the dedup queries look for, generated from the seed with numpy and
written as one parquet file per table.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: rows per table at scale factor 1 (the repo's test data divides these)
BASE_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000, "orders": 1_500_000,
             "lineitem": 6_000_000, "events": 1_000_000, "documents": 50_000}
SCALE = 0.01

#: registered query -> defining module (the layer its time is charged to),
#: one to three per module: aggregates, grouping sets and windows, fused
#: quality reports, rank and variance statistics, exact tests and FPGrowth,
#: Python-worker FLAC decoding and tokenizing, paragraph dedup and a
#: unigram LM score
QUERIES: dict[str, str] = {
    **dict.fromkeys(["pricing_summary", "cube_orderstatus_priority",
                     "window_customer_order_rank"], "queries.relational"),
    **dict.fromkeys(["quality_report_lineitem", "profile_orders_table"], "queries.quality"),
    **dict.fromkeys(["mann_whitney_click_vs_view", "bartlett_price_by_priority"],
                    "queries.medstats"),
    **dict.fromkeys(["fisher_exact_orders", "fpgrowth_event_rules", "multimodal_decode_flac"],
                    "queries.stats_ml"),
    **dict.fromkeys(["text_quality_scores", "gpt2_pretokenize_docs"], "queries.text_dedup"),
    "paragraph_dedup_docs": "queries.corpus_clean",
    "unigram_logprob_quality": "queries.corpus_pipeline",
}

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
         "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
         "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector",
         "window"]
NAMES = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
THINGS = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
TS0 = np.datetime64("2024-01-01T00:00:00", "us")
DATE0 = np.datetime64("1995-01-01T00:00:00", "us")
DAY_US = 86_400_000_000


def _cents(rng, n, lo, hi):
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng, choices, n):
    return pc.take(pa.array(choices), pa.array(rng.integers(0, len(choices), n)))


def _fmt(prefix: str, keys: np.ndarray) -> pa.Array:
    digits = pc.utf8_lpad(pc.cast(pa.array(keys), pa.string()), 9, "0")
    return pc.binary_join_element_wise(prefix, digits, "")


def _days(rng, n, span_days):
    return pa.array(DATE0 + rng.integers(0, span_days, n) * DAY_US)


def _documents(rng, n) -> pa.Table:
    lengths = rng.integers(10, 100, n)
    words = np.asarray(WORDS)[rng.integers(0, len(WORDS), int(lengths.sum()))]
    cuts = np.cumsum(lengths)[:-1]
    text = [" ".join(w) for w in np.split(words, cuts)]
    # 5 % near duplicates: an earlier document plus one or two " dup" tokens
    for i in rng.choice(np.arange(1, n), n // 20, replace=False):
        text[i] = text[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 3))
    text = pa.array(text)
    langs = np.array(["en"] * 9 + ["zh", "es", "de", "fr"] * 3)
    return pa.table({
        "doc_id": pa.array(np.arange(n)),
        "text": text,
        "lang": pa.array(langs[rng.integers(0, len(langs), n)]),
        "source": pc.binary_join_element_wise("src", pc.cast(pa.array(np.arange(n) % 20),
                                                             pa.string()), ""),
        "n_chars": pc.cast(pc.utf8_length(text), pa.int64()),
    })


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * SCALE)) for k, v in BASE_ROWS.items()}
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
    }
    k = np.arange(n["customer"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(k), "c_name": _fmt("Customer#", k),
        "c_nationkey": pa.array(rng.integers(0, 25, len(k)).astype(np.int32)),
        "c_acctbal": pa.array(_cents(rng, len(k), -999.99, 9999.99)),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], len(k)),
    })
    k = np.arange(n["supplier"])
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(k), "s_name": _fmt("Supplier#", k),
        "s_nationkey": pa.array(rng.integers(0, 25, len(k)).astype(np.int32)),
        "s_acctbal": pa.array(_cents(rng, len(k), -999.99, 9999.99)),
    })
    k = np.arange(n["part"])
    names = [f"{a} {b}" for a in NAMES for b in THINGS]
    out["part"] = pa.table({
        "p_partkey": pa.array(k),
        "p_name": _pick(rng, names, len(k)),
        "p_brand": pc.binary_join_element_wise(
            "Brand#", pc.cast(pa.array(rng.integers(1, 26, len(k))), pa.string()), ""),
        "p_type": _pick(rng, ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"],
                        len(k)),
        "p_size": pa.array(rng.integers(1, 51, len(k)).astype(np.int32)),
        "p_retailprice": pa.array(900 + (k % 1000) / 10.0),
    })
    k = np.arange(n["orders"])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(k),
        "o_custkey": pa.array(rng.integers(0, n["customer"], len(k))),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], len(k)),
        "o_totalprice": pa.array(_cents(rng, len(k), 1000, 500000)),
        "o_orderdate": _days(rng, len(k), 2404),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], len(k)),
    })
    m = n["lineitem"]
    qty = rng.integers(1, 51, m)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m)),
        "l_partkey": pa.array(rng.integers(0, n["part"], m)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m)),
        "l_linenumber": pa.array(rng.integers(1, 8, m).astype(np.int32)),
        "l_quantity": pa.array(qty.astype(float)),
        "l_extendedprice": pa.array(np.round(qty * _cents(rng, m, 18, 2100), 2)),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["F", "O"], m),
        "l_shipdate": _days(rng, m, 2499),
    })
    m = n["events"]
    steps = rng.integers(1, 2 * (30 * DAY_US // m), m)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(m)),
        "ts": pa.array(TS0 + np.cumsum(steps)),
        "user_id": pa.array(rng.integers(0, max(150, m // 67), m)),
        "event_type": _pick(rng, ["click", "view", "purchase", "signup", "error"], m),
        "value": pa.array(np.round(rng.exponential(50.0, m), 2) + 0.01),
        "props": pc.binary_join_element_wise(
            '{"k": ', pc.cast(pa.array(rng.integers(0, 100, m)), pa.string()), "}", ""),
    })
    out["documents"] = _documents(rng, n["documents"])
    return out


def land(work_dir: str, seed: int) -> tuple[str, int]:
    """Write every table as ``<work_dir>/sf/<name>.parquet``; returns the
    directory and total bytes."""
    sf_dir = os.path.join(work_dir, "sf")
    os.makedirs(sf_dir, exist_ok=True)
    total = 0
    for name, table in tables(seed).items():
        path = os.path.join(sf_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return sf_dir, total
