from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Must be set BEFORE importing hadoop_fcfs_spark.session: its module-level
# DEFAULT_CPUS binds the env var at import time (ADVICE r01 — a setdefault
# inside the fixture ran too late and tests silently used 32 partitions).
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

from hadoop_fcfs_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


def _canon_url_py(u: str) -> str:
    """Pure-Python (re/str only) replay of ``llm.dedup.canonical_url``
    — the engine-free reference both the Spark expression and the
    DuckDB oracle twin are checked against (the rule battery and
    three-engine fuzz in tests/test_llm.py, the variant-invariance
    property in tests/test_property.py)."""
    import re

    from hadoop_fcfs_spark.llm.dedup import _TRACKING_PARAMS

    nofrag = u.split("#", 1)[0]
    rest = re.sub(r"^[a-zA-Z][a-zA-Z0-9+.-]*://", "", nofrag)
    rest = re.sub(r"^www\.", "", rest, flags=re.I)
    pq, _, qs = rest.partition("?")
    hostraw = pq.split("/", 1)[0]
    host = re.sub(r":(80|443)$", "", hostraw.lower())
    path = re.sub(r"/+$", "", pq[len(hostraw):])
    keep = sorted(
        p
        for p in qs.split("&")
        if p
        and not p.split("=", 1)[0].lower().startswith("utm_")
        and p.split("=", 1)[0].lower() not in _TRACKING_PARAMS
    )
    return host + path + (("?" + "&".join(keep)) if keep else "")


@pytest.fixture(scope="session")
def spark():
    # One thread per shuffle partition: SPARK_GRAFT_CPUS (default 8 above)
    # sets both, so the suite runs as wide as the host it is told about.
    s = get_spark("hadoop_fcfs_spark-tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    from hadoop_fcfs_spark.verify import duck_views

    with duck_views(SF_ORACLE) as con:
        yield con
