"""Seeded input tables for the query workloads.

Writes the ten tables the query registry reads (``region`` .. ``embeddings``,
see ``nibbler_spark.sources.tables.TABLES``) as one parquet file each, with
the schemas and value domains of the project's synthetic testdata: TPC-H-like
uniform columns, word-soup documents with ~5% planted near-duplicates,
Jan-2024 events and unit-norm 64-d embeddings. Row counts scale with ``sf``
the way the testdata does (lineitem 6M x sf, documents 50k x sf).

The generator is part of the benchmark, not of the program, so that a change
to the program's own tools cannot change the benchmark's inputs. The same
(seed, sf) always gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
P_ADJ = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
P_NOUN = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
P_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
DAY_US = 86_400_000_000
DATE0 = np.datetime64("1995-01-01T00:00:00", "us")
TS0 = np.datetime64("2024-01-01T00:00:00", "us")


def _pick(rng, values: np.ndarray, n: int) -> pa.Array:
    return pa.array(values[rng.integers(0, len(values), size=n)].tolist(), pa.string())


def _days(rng, lo: int, hi: int, n: int) -> pa.Array:
    return pa.array(DATE0 + rng.integers(lo, hi, size=n) * DAY_US, pa.timestamp("us"))


def _tpch(rng, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = (max(5, round(k * sf)) for k in (150_000, 10_000, 200_000))
    n_ord, n_li = max(5, round(1_500_000 * sf)), max(5, round(6_000_000 * sf))
    nk = np.arange(25, dtype=np.int32)
    ck, sk, pk, ok = (np.arange(n, dtype=np.int64) for n in (n_cust, n_supp, n_part, n_ord))
    money = lambda lo, hi, n: pa.array(np.round(rng.uniform(lo, hi, size=n), 2))  # noqa: E731
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(nk),
            "n_name": pa.array([f"NATION_{i}" for i in nk], pa.string()),
            "n_regionkey": pa.array(nk % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(ck),
            "c_name": pa.array([f"Customer#{i:09d}" for i in ck], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust).astype(np.int32)),
            "c_acctbal": money(-1000, 10000, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(sk),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in sk], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp).astype(np.int32)),
            "s_acctbal": money(-1000, 10000, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(pk),
            "p_name": pa.array(
                np.char.add(np.char.add(P_ADJ[rng.integers(0, 8, n_part)], " "),
                            P_NOUN[rng.integers(0, 8, n_part)]).tolist(), pa.string()),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], pa.string()),
            "p_type": _pick(rng, P_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, size=n_part).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 1)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(ok),
            "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord)),
            "o_orderstatus": _pick(rng, np.array(["F", "O", "P"]), n_ord),
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": _days(rng, 0, 2405, n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, size=n_li)),
            "l_partkey": pa.array(rng.integers(0, n_part, size=n_li)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_li)),
            "l_linenumber": pa.array(rng.integers(1, 8, size=n_li).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, size=n_li).astype(np.float64)),
            "l_extendedprice": money(900, 105000, n_li),
            "l_discount": pa.array(np.round(rng.integers(0, 11, size=n_li) * 0.01, 2)),
            "l_tax": pa.array(np.round(rng.integers(0, 9, size=n_li) * 0.01, 2)),
            "l_returnflag": _pick(rng, np.array(["A", "N", "R"]), n_li),
            "l_linestatus": _pick(rng, np.array(["F", "O"]), n_li),
            "l_shipdate": _days(rng, 1, 2501, n_li),
        }),
    }


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, size=n)
    offs = np.concatenate([[0], np.cumsum(lengths)])
    tokens = WORDS[rng.integers(0, len(WORDS), size=int(offs[-1]))]
    texts = [" ".join(tokens[offs[i]:offs[i + 1]]) for i in range(n)]
    # Planted near-duplicates: a copy of an earlier document plus " dup".
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, size=n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _events(rng, n: int, sf: float) -> pa.Table:
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(TS0 + rng.integers(0, 30 * DAY_US, size=n), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, round(15_000 * sf)), size=n)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)], pa.string()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32)),
    })


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write all tables for ``(seed, sf)`` under ``out_dir``; return it.

    Tables are written to a temporary name and renamed, so a directory
    that exists holds complete files.
    """
    rng = np.random.default_rng([seed, round(sf * 1e6)])
    tables = _tpch(rng, sf)
    tables["events"] = _events(rng, max(10, round(1_000_000 * sf)), sf)
    tables["documents"] = _documents(rng, max(50, round(50_000 * sf)))
    tables["embeddings"] = _embeddings(rng, max(50, round(20_000 * sf)))
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tables[name], path + ".part")
        os.replace(path + ".part", path)
    return out_dir
