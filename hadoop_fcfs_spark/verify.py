"""The DuckDB oracle side of every gate: how it is wired up
(``duck_views``) and what "matches" means (``compare``). The CLI
``verify`` command and the pytest mirror (tests/test_oracle_parity.py)
both judge a gate here, so they cannot disagree.

``compare`` takes pandas frames; the caller does the ``.toPandas()``.
Going through pandas on BOTH sides is deliberate: DuckDB HUGEINT
(un-cast SUM of ints) becomes float64 in pandas while Spark stays int64
— fetchall() would hide that as Python ints (xml_records and
interval_sample once hash-mismatched only in the external value-hash check).
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd

from hadoop_fcfs_spark.tables import TABLES


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with every table present in ``sf_dir``
    registered as a view under its catalog name."""
    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # cheap canonical form tolerant of float formatting differences
        return f"{v:.6g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _normalize(df: pd.DataFrame, cols: list[str]) -> list[tuple[str, ...]]:
    """Columns in name order, values canonicalized, rows sorted."""
    return sorted(tuple(_canon(v) for v in r) for r in df[cols].itertuples(index=False, name=None))


def compare(spark_pd: pd.DataFrame, duck_pd: pd.DataFrame, sf_dir: str) -> str | None:
    """Order-insensitive parity of a gate's Spark result against its
    oracle result: the reason they differ, or ``None`` if they match."""
    cols = sorted(spark_pd.columns)
    if cols != sorted(duck_pd.columns):
        return f"column names differ: {cols} vs {sorted(duck_pd.columns)}"
    if len(spark_pd) != len(duck_pd):
        return f"row count {len(spark_pd)} vs {len(duck_pd)}"
    # hollow-gate guard: matching EMPTY results would be green while
    # verifying nothing (a filter on a value absent from the synthetic
    # data did this once — SURVEY r4 gotcha); every gate must produce
    # rows AT THE sf0.01 GATE SCALE AND ABOVE. At the sf0.001 smoke scale two
    # gates (volume_shipping, frequent_brand_triples) are legitimately
    # below their filters' data threshold — agreeing-empty is still a
    # valid parity pass there, so the guard keys on the SF dir.
    if not sf_dir.rstrip("/").endswith("sf0.001") and len(spark_pd) == 0:
        return "gate returns 0 rows — hollow"
    for c in cols:
        if spark_pd[c].dtype.kind != duck_pd[c].dtype.kind:
            return f"dtype kind differs for {c!r}: spark={spark_pd[c].dtype} duck={duck_pd[c].dtype}"
    a, b = _normalize(spark_pd, cols), _normalize(duck_pd, cols)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:5]
        return f"value mismatch, first diffs: {diff}"
    return None
