"""Deterministic analytic tables for the curation and SQL batteries.

The engine's queries read ten parquet tables (``session.TESTDATA_TABLES``):
a TPC-H-ish star schema, an ``events`` table, and the ``documents`` /
``embeddings`` corpora. The benchmark cannot assume any of them exist on
the machine it runs on, so it writes its own copy from a fixed seed with
the same schemas and value domains the queries filter on (brands, part
types, nation and region names, 1995-2001 dates, a 30-word document
vocabulary with planted near-duplicates, 64-dim clustered embeddings).

The tables are fixed (``DATA_SEED``), not drawn from the run's ``--seed``:
the expected result digests in ``digests.json`` are computed once over
them, and a fixed corpus keeps pass times comparable across runs. The run
seed still varies the batch/stream records and every battery's order.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
SF = 0.1  # TPC-H-ish tables and events
CORPUS_SF = 0.05  # documents (2500) and embeddings (1000)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.15, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def _days(start: str, n: np.ndarray) -> np.ndarray:
    return np.datetime64(start, "us") + n.astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    region = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    part = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 1),
        }
    )
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days("1995-01-01", order_day),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days("1995-01-02", rng.integers(0, 2498, n_line)),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def events_table(rng: np.random.Generator, sf: float) -> pa.Table:
    n = int(1_000_000 * sf)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": start + ts.astype("timedelta64[us]"),
            "user_id": rng.integers(0, 1500, n, dtype=np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(60.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def documents_table(rng: np.random.Generator, sf: float) -> pa.Table:
    """Bag-of-words documents; ~5% are an earlier document plus a marker
    word (near-duplicates) and a few are byte-identical copies."""
    n = int(50_000 * sf)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)]))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings_table(rng: np.random.Generator, sf: float, dim: int = 64) -> pa.Table:
    """Unit vectors scattered around ten labelled centroids."""
    n = int(20_000 * sf)
    centroids = rng.normal(0.0, 1.0, (10, dim))
    label = rng.integers(0, 10, n)
    vec = centroids[label] + rng.normal(0.0, 0.8, (n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": label.astype(np.int32),
        }
    )


def build_tables(sf: float = SF, corpus_sf: float = CORPUS_SF, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    tables = tpch_tables(rng, sf)
    tables["events"] = events_table(rng, sf)
    tables["documents"] = documents_table(rng, corpus_sf)
    tables["embeddings"] = embeddings_table(rng, corpus_sf)
    return tables


def _source_tag() -> str:
    with open(__file__, "rb") as f:
        h = hashlib.sha256(f.read()).hexdigest()[:12]
    return f"sf{SF}-c{CORPUS_SF}-s{DATA_SEED}-{h}"


def ensure_tables(root: str) -> str:
    """Write the tables once under ``root`` and return their directory.

    The directory name carries a hash of this file, so editing the
    generator never serves stale tables; the write goes to a temporary
    directory that is renamed into place, so a killed run leaves no
    half-written set behind.
    """
    target = os.path.join(root, f"tables-{_source_tag()}")
    if os.path.isdir(target):
        return target
    tmp = f"{target}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables().items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    try:
        os.rename(tmp, target)
    except OSError:  # another process won the race; its copy is identical
        shutil.rmtree(tmp, ignore_errors=True)
    return target
