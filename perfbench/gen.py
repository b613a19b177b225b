"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes
byte-identical files.  The analytics tables follow the engine's
testdata contract (a TPC-H-like star schema, an ``events`` stream,
``documents`` and unit-norm ``embeddings``) so every registry gate runs
unchanged on the generated directory; the sync payloads come from the
repository's Jobcan fixtures (``tests/jobcan_fixtures.py``).
"""

from __future__ import annotations

import json
import random
import sys
from datetime import datetime
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: letters-only vocabulary: the PII scrub must be a value no-op on the corpus
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

LANGS = ["en", "en", "en", "fr", "es", "zh", "de"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"]
PART_WORDS = (["small", "large", "red", "blue", "cold", "hot"],
              ["ring", "widget", "bolt", "plate", "gizmo", "rod", "anvil"])
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

#: row counts of the analytics tables (about the engine's sf0.001 testdata)
ANALYTICS_SIZES = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "users": 15,
    "documents": 500,
    "embeddings": 500,
}


def _ts(epoch: datetime, seconds: np.ndarray) -> pa.Array:
    base = int(epoch.timestamp() * 1_000_000)
    return pa.array(base + (seconds * 1_000_000).astype(np.int64), pa.timestamp("us"))


def analytics_documents(rng: random.Random, n: int) -> list[str]:
    """Distinct bag-of-words texts; every 12th one (about 8%) is a
    near-duplicate of a distinct earlier original with ``dup`` tokens
    appended, so the duplicate structure is the same for every seed."""
    lengths = [10 + (89 * j) // n for j in range(n)]
    rng.shuffle(lengths)
    texts: list[str] = []
    unused: list[int] = []
    for i in range(n):
        if i >= 12 and i % 12 == 5:
            src = unused.pop(rng.randrange(len(unused)))
            texts.append(texts[src] + " dup" * rng.randint(1, 2))
        else:
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(lengths[i])))
            unused.append(i)
    return texts


def write_analytics_tables(out_dir: Path, seed: int) -> dict[str, int]:
    """Write the ten testdata tables for ``seed`` (one parquet file each);
    returns bytes written per table."""
    rng = random.Random(seed)
    npr = np.random.default_rng(seed)
    n = ANALYTICS_SIZES
    out_dir.mkdir(parents=True, exist_ok=True)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(npr.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": np.round(npr.uniform(-999.99, 9999.99, n["customer"]), 2),
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n["customer"])],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(npr.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": np.round(npr.uniform(-999.99, 9999.99, n["supplier"]), 2),
    })
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": [f"{rng.choice(PART_WORDS[0])} {rng.choice(PART_WORDS[1])}"
                   for _ in range(n["part"])],
        "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n["part"])],
        "p_type": [rng.choice(PART_TYPES) for _ in range(n["part"])],
        "p_size": pa.array(npr.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": [round(900 + i / 10, 1) for i in range(n["part"])],
    })
    n_ord = n["orders"]
    day = 86400.0
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(npr.integers(0, n["customer"], n_ord), pa.int64()),
        "o_orderstatus": [rng.choice("FOP") for _ in range(n_ord)],
        "o_totalprice": np.round(npr.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts(datetime(1995, 1, 1),
                           npr.integers(0, 2400, n_ord).astype(np.float64) * day),
        "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(n_ord)],
    })
    n_li = n["lineitem"]
    qty = npr.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(npr.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(npr.integers(0, n["part"], n_li), pa.int64()),
        "l_suppkey": pa.array(npr.integers(0, n["supplier"], n_li), pa.int64()),
        "l_linenumber": pa.array(npr.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * npr.uniform(900, 2100, n_li), 2),
        "l_discount": npr.integers(0, 11, n_li) / 100.0,
        "l_tax": npr.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [rng.choice("ANR") for _ in range(n_li)],
        "l_linestatus": [rng.choice("FO") for _ in range(n_li)],
        "l_shipdate": _ts(datetime(1995, 1, 2),
                          npr.integers(0, 2500, n_li).astype(np.float64) * day),
    })
    n_ev = n["events"]
    tables["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts(datetime(2024, 1, 1),
                  np.sort(npr.uniform(0, 30 * day, n_ev)).round(6)),
        "user_id": pa.array(npr.integers(0, n["users"], n_ev), pa.int64()),
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(n_ev)],
        "value": np.round(npr.uniform(0.01, 400, n_ev), 2),
        "props": [json.dumps({"k": rng.randint(0, 99)}) for _ in range(n_ev)],
    })
    texts = analytics_documents(rng, n["documents"])
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in texts],
        "source": [f"src{rng.randint(0, 19)}" for _ in texts],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    n_emb = n["embeddings"]
    labels = npr.integers(0, 10, n_emb)
    centers = npr.normal(size=(10, 64))
    vecs = centers[labels] + 0.8 * npr.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    sizes = {}
    for name, table in tables.items():
        path = out_dir / f"{name}.parquet"
        pq.write_table(table, path)
        sizes[name] = path.stat().st_size
    return sizes


# ---------------------------------------------------------------------------
# sync: Jobcan API payloads
# ---------------------------------------------------------------------------

#: request documents the mock API serves, drawn from twice as many
#: fixture documents (six forms, so every gold view has rows); one sync's
#: cost is fixed per store merge, not per document
SYNC_DOCS = 48
#: the seed picks one of this many document sets, so the references of
#: a set (one-shot shreds, about 20 s of Spark work) are computed once
#: and then served from the oracle cache
SYNC_VARIANTS = 4


def write_sync_inputs(out_dir: Path, seed: int) -> tuple[list[dict], dict[str, list[dict]]]:
    """Seeded request documents and the basic entities they reference,
    from the repository's Jobcan fixtures (whose documents are a function
    of their number, so the seed chooses which numbers are served);
    writes both as JSON (the served bytes) and returns them as objects."""
    tests = str(Path(__file__).resolve().parents[1] / "tests")
    if tests not in sys.path:
        sys.path.append(tests)
    from jobcan_fixtures import make_entities, make_request_doc

    rng = random.Random(seed % SYNC_VARIANTS)
    numbers = sorted(rng.sample(range(2 * SYNC_DOCS), SYNC_DOCS))
    docs = [make_request_doc(n, rng) for n in numbers]
    entities = {api: [json.loads(r) for r in rows]
                for api, rows in make_entities(2 * SYNC_DOCS).items()}
    out_dir.mkdir(parents=True, exist_ok=True)
    (out_dir / "documents.jsonl").write_text(
        "".join(json.dumps(d, ensure_ascii=False) + "\n" for d in docs), encoding="utf-8")
    (out_dir / "entities.json").write_text(
        json.dumps(entities, ensure_ascii=False, sort_keys=True), encoding="utf-8")
    return docs, entities
