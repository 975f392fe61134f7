"""Seeded benchmark inputs.

Two input sets:

* ``write_registry_tables`` — the ten catalog tables (TPC-H-like star
  schema plus events, documents and embeddings) at a scale factor
  ``sf``. Table content comes from a fixed content seed, so every
  workload seed sees the same rows; the workload seed only permutes
  the row order of each file. Row order must not change any query
  result, so the DuckDB oracle answer is a property of the content.
* ``write_erkg_inputs`` — a Senzing entity report made by
  ``tests/senzing_fixture.make_report`` from the workload seed, the
  suspicious-names and country files, and an article set whose texts
  carry planted alias strings from the knowledge base the pipeline
  will build.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Texts over a 30-word vocabulary; about 5% are near-duplicates of
    an earlier text (a copy with one appended token), so the dedup and
    similarity-join queries have pairs to find."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(DOC_WORDS, k)))
    return texts


def registry_tables(sf: float) -> dict[str, pa.Table]:
    """The ten catalog tables at scale ``sf`` from the fixed content seed."""
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_users = max(10, int(15_000 * sf))
    n_events = max(100, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    order_days = rng.integers(0, 2404, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _EPOCH_1995 + order_days * _DAY_US,
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _EPOCH_1995 + rng.integers(1, 2500, n_line) * _DAY_US,
    })
    gaps = rng.exponential(30 * _DAY_US / n_events, n_events).astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), i64),
        "ts": _EPOCH_2024 + np.cumsum(gaps),
        "user_id": pa.array(rng.integers(0, n_users, n_events), i64),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = _documents(rng, n_docs)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], i64),
    })
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = 0.15 * centers[labels] + 0.12 * rng.normal(size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return t


def write_registry_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the tables as single parquet files under ``out_dir``, each
    with its rows in an order drawn from ``seed``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name, table in registry_tables(sf).items():
        order = rng.permutation(table.num_rows)
        pq.write_table(table.take(order), os.path.join(out_dir, f"{name}.parquet"))


def _plantable(alias: str) -> bool:
    """An alias the ruler tier can match as written: non-empty tokens
    separated by single spaces, none of them a document word (so a
    planted span can neither merge with nor be dominated by the text
    around it)."""
    toks = alias.lower().split(" ")
    return bool(alias) and all(toks) and not set(toks) & set(DOC_WORDS)


def write_erkg_inputs(out_dir: str, seed: int, n_entities: int, n_docs: int) -> dict:
    """Write the report, suspicious-names, country and article files.

    Returns their paths plus ``planted``: the (doc_id, lowercased
    alias) pairs every correct entity-linking run must extract. The
    aliases are drawn from the knowledge base that the reference
    oracle derives from the same report, so they are in the ruler's
    pattern set."""
    from tests import reference_oracle
    from tests.senzing_fixture import COUNTRY_CODES, make_report

    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    rows = make_report(rng, n_entities)
    report = os.path.join(out_dir, "senzing_report.jsonl")
    with open(report, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")

    # suspicions: graph names (first non-empty ENTITY_DESC), by stride
    # so the two-hop reach stays a similar share of the graph, plus misses
    graph_names = [
        d
        for r in rows
        for d in [next((x["ENTITY_DESC"] for x in r["RESOLVED_ENTITY"]["RECORDS"] if x["ENTITY_DESC"]), "")]
        if d
    ]
    stride = max(1, len(graph_names) // 16)
    suspicious = os.path.join(out_dir, "suspicious.txt")
    with open(suspicious, "w") as f:
        for name in graph_names[::stride][:16] + ["No Such Person", "Ghost Corp LLC"]:
            f.write(name + "\n")
    countries = os.path.join(out_dir, "country.tsv")
    with open(countries, "w") as f:
        f.write("code\tname\n")
        for code, cname in COUNTRY_CODES + [("ZZZ", "Unused Land")]:
            f.write(f"{code}\t{cname}\n")

    expected = reference_oracle.oracle_pipeline(report, suspicious, countries)
    kb_aliases = sorted(
        {a for a in expected["aliases"] if _plantable(a)}
        | {e["name"] for e in expected["entities"].values() if _plantable(e["name"])}
    )
    nrng = np.random.default_rng(seed)
    texts = _documents(nrng, n_docs)
    planted: set[tuple[int, str]] = set()
    for doc_id in range(n_docs):
        if not kb_aliases or rng.random() < 0.9:
            continue
        words = texts[doc_id].split(" ")
        for _ in range(rng.randint(1, 2)):
            alias = rng.choice(kb_aliases)
            words.insert(rng.randint(0, len(words)), alias)
            planted.add((doc_id, alias.lower()))
        texts[doc_id] = " ".join(words)
    articles = os.path.join(out_dir, "documents.parquet")
    pq.write_table(
        pa.table({"doc_id": pa.array(range(n_docs), pa.int64()), "text": texts}),
        articles,
    )
    return {
        "report": report,
        "suspicious": suspicious,
        "countries": countries,
        "articles": articles,
        "expected": expected,
        "planted": planted,
    }
