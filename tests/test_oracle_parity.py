"""Replicates the driver's correctness gate locally: run every registered
query on Spark at sf0.01 and compare row-count + values against its DuckDB
oracle (order-insensitive, column-name-sorted), mirroring the driver's
CORRECTNESS check. The comparison itself is ``hadoop_fcfs_spark.verify``,
shared with the CLI ``verify`` command."""

from __future__ import annotations

import pandas as pd
import pytest

from hadoop_fcfs_spark.registry import all_queries
from hadoop_fcfs_spark.verify import compare
from tests.conftest import SF_ORACLE

QUERIES = all_queries()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck):
    spec = QUERIES[name]
    sdf = spec.spark_fn(spark, SF_ORACLE)

    if spec.oracle is None:
        assert len(sdf.collect()) >= 0  # rows-only smoke, mirrors driver's weak check
        return

    reason = compare(sdf.toPandas(), duck.execute(spec.oracle).df(), SF_ORACLE)
    assert reason is None, f"{name}: {reason}"


def test_compare_judges_kind_and_canonical_floats():
    """An int column against the same digits as strings is a mismatch
    (dtype kind); float noise below 6 significant digits is not."""
    ints, strs = pd.DataFrame({"k": [1, 2]}), pd.DataFrame({"k": ["1", "2"]})
    assert "dtype kind" in compare(ints, strs, "sf0.01")
    assert compare(pd.DataFrame({"x": [0.1 + 0.2]}), pd.DataFrame({"x": [0.3]}), "sf0.01") is None
