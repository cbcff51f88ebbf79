"""Fixed corpus tables for the ``corpus_ops`` workload.

The tables have the schemas the engine's query registry reads
(``documents``, ``embeddings``, ``lineitem``, ``orders``, ``customer``,
``nation``, ``region``), one parquet file each, so every scan is a single
file. Their shape is fitted to the project's sf0.1 test tables, measured
column by column:

* ``documents`` — 5,000 rows at sf0.1; 10..99 words per text (uniform),
  each drawn uniformly from the same 30-word list; languages en 40%,
  zh/es/fr/de 15% each; ``source`` = ``src{doc_id % 20}``; 5% of the rows
  are near-duplicates, another row's text followed by `` dup``;
* ``embeddings`` — 2,000 rows at sf0.1; 64-dim unit vectors in uniformly
  random directions, a label uniform over 10 classes and independent of
  the vector;
* ``lineitem`` — 4 lines per order; keys, quantity 1..50, price
  900..105,000, discount 0..0.10, tax 0..0.08, flags and ship date
  (1995-01-02..2001-11-04) independent and uniform;
* ``orders`` — 150,000 rows at sf0.1; customer, status, priority, price
  1,000..500,000 and order date (1995-01-01..2001-08-01) uniform;
* ``customer`` — 15,000 rows at sf0.1; nation, balance -999.99..9,999.99
  and segment uniform; 25 nations in 5 regions.

``write_corpus(path, scale)`` writes every table at ``scale`` times its
sf0.1 row count, so the proportions between the tables stay those of sf0.1.
The content comes from a fixed seed: the workload's ``--seed`` does not
change it.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

SEED = 20260101
TABLES = ("documents", "embeddings", "lineitem", "orders", "customer", "nation", "region")
#: sf0.1 row counts
SF01_ROWS = {"documents": 5000, "embeddings": 2000, "orders": 150000, "customer": 15000,
             "part": 20000, "supplier": 1000}
LINES_PER_ORDER = 4
DUP_FRAC = 0.05

_WORDS = ("spark window merge table column vector stream value data small join "
          "filter big group hash customer sort order slow line part fast row the "
          "agg key query a scan batch").split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.40, 0.15, 0.15, 0.15, 0.15)


def _documents(rng: np.random.Generator, n_docs: int) -> pd.DataFrame:
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 100)))])
             for _ in range(n_docs)]
    for i in rng.choice(n_docs, int(round(n_docs * DUP_FRAC)), replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(len(_LANGS), n_docs, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pd.DataFrame:
    vecs = rng.normal(size=(n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64), "embedding": list(vecs),
                         "label": rng.integers(0, 10, n).astype(np.int32)})


def _dates(rng: np.random.Generator, n: int, first: str, last: str) -> np.ndarray:
    span = int((np.datetime64(last) - np.datetime64(first)).astype(int))
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return (np.datetime64(first) + days).astype("datetime64[us]")


def _pick(rng: np.random.Generator, values: list[str], n: int) -> np.ndarray:
    return np.array(values)[rng.integers(0, len(values), n)]


def _relational(rng: np.random.Generator, scale: float) -> dict[str, pd.DataFrame]:
    n_orders = int(SF01_ROWS["orders"] * scale)
    n_customers = int(SF01_ROWS["customer"] * scale)
    n_lines = n_orders * LINES_PER_ORDER
    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_orders, n_lines),
        "l_partkey": rng.integers(0, int(SF01_ROWS["part"] * scale), n_lines),
        "l_suppkey": rng.integers(0, int(SF01_ROWS["supplier"] * scale), n_lines),
        "l_linenumber": rng.integers(1, 8, n_lines).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_lines),
        "l_linestatus": _pick(rng, ["F", "O"], n_lines),
        "l_shipdate": _dates(rng, n_lines, "1995-01-02", "2001-11-04"),
    })
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_customers, n_orders),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": _dates(rng, n_orders, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_orders),
    })
    customer = pd.DataFrame({
        "c_custkey": np.arange(n_customers, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_customers)],
        "c_nationkey": rng.integers(0, 25, n_customers).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_customers), 2),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n_customers),
    })
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    region = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    return {"lineitem": lineitem, "orders": orders, "customer": customer,
            "nation": nation, "region": region}


def write_corpus(path: str, scale: float) -> None:
    """Write every table as ``<path>/<name>.parquet`` (one file each) at
    ``scale`` times its sf0.1 row count."""
    rng = np.random.default_rng(SEED)
    frames = {"documents": _documents(rng, int(SF01_ROWS["documents"] * scale)),
              "embeddings": _embeddings(rng, int(SF01_ROWS["embeddings"] * scale)),
              **_relational(rng, scale)}
    os.makedirs(path, exist_ok=True)
    for name, df in frames.items():
        df.to_parquet(os.path.join(path, f"{name}.parquet"), index=False)
