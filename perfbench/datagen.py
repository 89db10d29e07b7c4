"""Deterministic generator for the benchmark's input tables.

The benchmark reads and writes only inside the checkout it runs in, and
the seed-42 test data the tests and ``bench.py`` read is not part of the
repository, so the benchmark makes its own copy of those tables
(``region nation customer supplier part orders lineitem events documents
embeddings``, one parquet file each) with the same schemas, parquet types
and row counts, and value distributions matched column by column (see
``perfbench/README.md``). Every registry query runs unchanged on them. They
are drawn from a fixed seed (42): the workload seed never changes them, it
only drives the query order and the generated stream inputs.

Run as a script to (re)generate one scale factor:

    python3 perfbench/datagen.py OUT_DIR 0.1
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
# Bump when the generated tables change, so cached copies are rebuilt.
VERSION = "1"

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _rng(table: str) -> np.random.Generator:
    # one independent stream per table: adding a column to one table
    # leaves every other table byte-identical
    return np.random.default_rng([TABLE_SEED, TABLES.index(table)])


def _days(rng, n, start, end):
    first = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - first).astype(int) + 1
    return (first + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def build(sf: float) -> dict[str, pd.DataFrame]:
    """All ten tables at scale factor ``sf`` as pandas frames."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(15, int(15_000 * sf))
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out: dict[str, pd.DataFrame] = {}

    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype="int32"),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32"),
    })

    r = _rng("customer")
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": r.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })

    r = _rng("supplier")
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })

    r = _rng("part")
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    keys = np.arange(n_part, dtype="int64")
    out["part"] = pd.DataFrame({
        "p_partkey": keys,
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(r.integers(0, 8, n_part),
                                                         r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": r.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1),
    })

    r = _rng("orders")
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": r.integers(0, n_cust, n_ord),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(r, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": r.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })

    r = _rng("lineitem")
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": r.integers(0, n_ord, n_line),
        "l_partkey": r.integers(0, n_part, n_line),
        "l_suppkey": r.integers(0, n_supp, n_line),
        "l_linenumber": r.integers(1, 8, n_line).astype("int32"),
        "l_quantity": r.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(r, 900.0, 105000.0, n_line),
        "l_discount": np.round(r.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(r.uniform(0, 0.08, n_line), 2),
        "l_returnflag": r.choice(["A", "N", "R"], n_line),
        "l_linestatus": r.choice(["F", "O"], n_line),
        "l_shipdate": _days(r, n_line, "1995-01-02", "2001-11-04"),
    })

    r = _rng("events")
    gaps = r.exponential(30 * 86400 / n_ev, n_ev)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps * 1e6).astype("int64")
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": ts.astype("datetime64[us]"),
        "user_id": r.integers(0, n_users, n_ev),
        "event_type": r.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })

    r = _rng("documents")
    texts: list[str] = []
    for i in range(n_doc):
        if i > 20 and r.random() < 0.05:
            # near-duplicate of an earlier document: the dedup operators'
            # positive cases
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(r.choice(_WORDS, int(r.integers(10, 101)))))
    doc_ids = np.arange(n_doc, dtype="int64")
    out["documents"] = pd.DataFrame({
        "doc_id": doc_ids,
        "text": texts,
        "lang": r.choice(_LANGS, n_doc, p=_LANG_P),
        "source": [f"src{i % 20}" for i in doc_ids],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })

    r = _rng("embeddings")
    vecs = r.standard_normal((n_emb, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": list(vecs),
        "label": r.integers(0, 10, n_emb).astype("int32"),
    })
    return out


def _write(frames: dict[str, pd.DataFrame], out_dir: str) -> None:
    os.makedirs(out_dir)
    for name, df in frames.items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.cast(pa.schema([
                ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                ("label", pa.int32()),
            ]))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


def ensure(root: str, sf: float) -> str:
    """Return the directory holding the tables at ``sf`` under ``root``,
    generating them on first use. A stamp file marks a complete copy, so
    an interrupted generation is redone rather than half-read."""
    path = os.path.join(root, f"sf{sf:g}")
    stamp = os.path.join(path, f".complete-v{VERSION}")
    if os.path.exists(stamp):
        return path
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    _write(build(sf), tmp)
    open(os.path.join(tmp, f".complete-v{VERSION}"), "w").close()
    os.rename(tmp, path)
    return path


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit("usage: datagen.py OUT_DIR SF")
    print(ensure(sys.argv[1], float(sys.argv[2])))
