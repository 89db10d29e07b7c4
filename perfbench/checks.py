"""Output checks. Each returns ``None`` when the output is right, else a
one-line reason. They run outside the timed window."""

from __future__ import annotations

import hashlib
import math
import os
import pickle

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def duck_connection(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(sf_dir, name)
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_result(run, sql: str, con):
    """The DuckDB oracle's result for ``sql`` over the run's tables.
    Results are kept on disk keyed by the SQL text and the path, size and
    modification time of every table file, so regenerated tables miss the
    cache; returns (frame, connection opened on a miss)."""
    h = hashlib.sha1(sql.encode())
    for name in sorted(os.listdir(run.sf_dir)):
        if name.endswith(".parquet"):
            st = os.stat(os.path.join(run.sf_dir, name))
            h.update(f"\n{run.sf_dir}/{name} {st.st_size} {st.st_mtime_ns}".encode())
    key = h.hexdigest()
    path = os.path.join(run.cache_dir, f"oracle-{key}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f), con
    con = con or duck_connection(run.sf_dir)
    frame = con.execute(sql).df()
    os.makedirs(run.cache_dir, exist_ok=True)
    with open(f"{path}.tmp", "wb") as f:
        pickle.dump(frame, f)
    os.replace(f"{path}.tmp", path)
    return frame, con


def _canon(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _rows(pdf) -> list[tuple]:
    order = sorted(pdf.columns)
    return sorted(tuple(_canon(v) for v in row) for row in pdf[order].itertuples(index=False, name=None))


def oracle_mismatch(spark_pd, duck_pd) -> str | None:
    """The repository's oracle comparison: same column names, same dtype
    kinds, a non-empty result, and equal rows after sorting columns by
    name, rounding floats to 6 significant digits and sorting rows."""
    if sorted(spark_pd.columns) != sorted(duck_pd.columns):
        return f"columns {sorted(spark_pd.columns)} vs {sorted(duck_pd.columns)}"
    if len(spark_pd) != len(duck_pd):
        return f"row count {len(spark_pd)} vs {len(duck_pd)}"
    if len(spark_pd) == 0:
        return "empty result"
    for c in spark_pd.columns:
        if spark_pd[c].dtype.kind != duck_pd[c].dtype.kind:
            return f"dtype of {c}: {spark_pd[c].dtype} vs {duck_pd[c].dtype}"
    if _rows(spark_pd) != _rows(duck_pd):
        return "values differ"
    return None


def content_digest(df: DataFrame) -> tuple[int, int]:
    """(row count, order-insensitive sum of a hash over every column)."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)
