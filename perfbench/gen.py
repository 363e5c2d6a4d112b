"""Seeded input generator for the benchmark.

The program under test reads ten parquet tables (a TPC-H-like star
schema plus ``events``, ``documents`` and ``embeddings``) from one
directory.  ``base_tables`` builds them at a scale factor with the same
column names, types and value distributions as the repository's
synthetic test data (independent uniform columns; documents drawn from a
31-word vocabulary with about 5 % exact copies carrying a trailing
``dup``).  The base is fixed; the ``--seed`` of a run then picks:

* ``sample``: a Bernoulli(0.9) row sample of every table over 10k rows;
* ``amplify_documents``: ``copies`` copies of ``documents`` in which copy
  *i > 0* replaces a seeded ~10 % of each document's tokens, so every
  document has ``copies - 1`` near-duplicates.

The same seed always yields byte-identical tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
# share of rows ``sample`` keeps, and of tokens ``amplify_documents`` replaces
SAMPLE_FRAC = 0.9
PERTURB_FRAC = 0.10
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_ADJ = "blue old small new hot large cold red".split()
_NOUN = "widget gizmo ring gear bolt plate anvil rod".split()
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = np.array(["en", "es", "zh", "de", "fr"])
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _day(start: dt.datetime, days: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + days.astype("timedelta64[D]").astype("timedelta64[us]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.array(values)[rng.integers(0, len(values), n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(_LANGS[rng.choice(len(_LANGS), n, p=_LANG_P)]),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def base_tables(sf: float) -> dict[str, pa.Table]:
    """The fixed base data at scale factor ``sf`` (lineitem ~ 6M x sf rows)."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 15)
    n_docs, n_emb = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)
    i32, i64 = np.int32, np.int64
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=i32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=i32)),
            "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(i32)),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=i64)),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(i32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _choice(
                rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=i64)),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(i32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    pk = np.arange(n_part, dtype=i64)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk),
            "p_name": pa.array(
                [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]
            ),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
            "p_type": _choice(
                rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(i32)),
            "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1)),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=i64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(i64)),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _day(dt.datetime(1995, 1, 1), rng.integers(0, 2404, n_ord)),
            "o_orderpriority": _choice(
                rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(i64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(i64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(i64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(i32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _choice(rng, ["F", "O"], n_line),
            "l_shipdate": _day(dt.datetime(1995, 1, 2), rng.integers(0, 2499, n_line)),
        }
    )
    ts = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=i64)),
            "ts": pa.array(
                np.datetime64("2024-01-01T00:00:00", "us")
                + (ts * 1e6).astype(np.int64).astype("timedelta64[us]")
            ),
            "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(i64)),
            "event_type": _choice(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
            "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    t["documents"] = _documents(rng, n_docs)
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb, dtype=i64)),
            "embedding": pa.array(list(emb), type=pa.list_(pa.field("element", pa.float32()))),
            "label": pa.array(rng.integers(0, 10, n_emb).astype(i32)),
        }
    )
    return t


def sample(tables: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    """Bernoulli(``SAMPLE_FRAC``) row sample of every table with more than
    10k rows."""
    rng = np.random.default_rng([seed, 1])
    return {
        name: tab.filter(pa.array(rng.random(tab.num_rows) < SAMPLE_FRAC))
        if tab.num_rows > 10_000
        else tab
        for name, tab in tables.items()
    }


def amplify_documents(docs: pa.Table, seed: int, copies: int) -> pa.Table:
    """``copies`` copies of ``docs``; copy i > 0 replaces ~``PERTURB_FRAC``
    of the tokens of every document with seeded vocabulary words."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(_VOCAB)
    n = docs.num_rows
    ids = docs["doc_id"].to_numpy()
    texts = docs["text"].to_pylist()
    out_ids, out_texts = [], []
    for i in range(copies):
        out_ids.append(ids + i * n)
        for text in texts:
            if i == 0:
                out_texts.append(text)
                continue
            toks = np.array(text.split(" "))
            hit = rng.random(len(toks)) < PERTURB_FRAC
            toks[hit] = vocab[rng.integers(0, len(vocab), int(hit.sum()))]
            out_texts.append(" ".join(toks))
    rep = np.tile(np.arange(n), copies)
    return pa.table(
        {
            "doc_id": pa.array(np.concatenate(out_ids).astype(np.int64)),
            "text": pa.array(out_texts),
            "lang": docs["lang"].take(rep),
            "source": docs["source"].take(rep),
            "n_chars": pa.array(np.array([len(t) for t in out_texts], dtype=np.int64)),
        }
    )


def write(tables: dict[str, pa.Table], out_dir: str) -> None:
    """Write one parquet file (one row group) per table."""
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))
