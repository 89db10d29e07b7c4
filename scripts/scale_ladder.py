#!/usr/bin/env python
"""Empirical scale ladder for the flagship shapes (r6 verdict #4):
measure wall-time vs input size at sf0.1 ×1 / ×4 / ×8 synthetic
blowups and report the scaling exponent alpha (t ~ N^alpha) per query.

Blowup construction (distribution-preserving, no new testdata):
- documents: K disjoint copies; copy k>0 rotates the alphabet by k
  (`translate`), so every copy's internal near-dup/shingle structure
  is ISOMORPHIC to the original while copies share ~no shingles —
  the similarity graph scales as K disjoint copies of the real one.
  Naive content-salted copies would instead make every doc a near-dup
  of its K-1 clones and measure a different (quadratic-cluster)
  workload.
- orders: K copies with key offsets and +0.01*k on o_totalprice so the
  distinct-score grain (what the AUC rank pass shuffles) scales too.
- lineitem (r8, for the iterative node-state join shape): K copies
  with l_orderkey offsets, suppliers untouched — the comparison log
  the bradley_terry edge collapse consumes scales xK while the node
  grain (1000 suppliers) stays fixed, exactly the cluster-scale shape
  (unbounded preference log, bounded item universe).
- embeddings (r8, for the broadcast-state iterative shape): K copies
  with vec_id offsets, vectors untouched — copy 0 keeps vec_ids
  0..N-1 so the k-lowest-id kmeans init is unchanged, and duplicated
  points leave every truncating-division centroid update bit-identical
  ((K*s)//(K*n) == s//n), so the fixed-iteration trajectory is
  invariant and the ladder measures pure per-iteration data cost.
- events (r8, for the global-running-max replay shape): K copies with
  event_id offsets AND ts shifted by k*31 days (the table spans 30),
  so arrival order stays a total order and event time stays monotone
  across copies — the high-water-mark structure (and the audit's
  late/dup profile) is copy-invariant while the one range exchange
  carries xK rows.

Run: python scripts/scale_ladder.py [query ...]  (defaults to the full
flagship list; prints one JSON line per rung, then the exponent table;
~5 min on local[32] for the full list).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from hadoop_fcfs_spark.caching import release_waypoints  # noqa: E402
from hadoop_fcfs_spark.registry import all_queries  # noqa: E402
from hadoop_fcfs_spark.session import get_spark  # noqa: E402
from hadoop_fcfs_spark.tables import TABLES  # noqa: E402

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARMUP_SF = "/root/testdata/sf0.001"
QUERIES = [
    "corpus_pipeline_v6",
    "jaccard_prefix_dedup",
    "dedup_minhash_lsh",
    "roc_auc_orderstatus",
    # r8 (VERDICT r7 #6): the two iterative shapes, iteration count
    # held fixed by their gates (kmeans k=8 x2, bradley_terry x3)
    # while the data scales x4/x8.
    "kmeans_embedding_cells",
    "bradley_terry_suppliers",
    # r8 cont.: the sequential-replay shape (ONE range exchange over
    # arrival order + summary-row offsets) — the headline entry whose
    # cost is dominated by that single data-sized shuffle.
    "watermark_late_audit",
]
RUNGS = (1, 4, 8)  # override with --rungs 1,4,8,16 (r8 verdict #4)

ALPHA = "abcdefghijklmnopqrstuvwxyz"


def build_rung(k_copies: int, out_dir: str) -> None:
    con = duckdb.connect()
    for name in TABLES:
        src = os.path.join(BASE, f"{name}.parquet")
        dst = os.path.join(out_dir, f"{name}.parquet")
        blown = ("documents", "orders", "lineitem", "embeddings", "events")
        if name not in blown or k_copies == 1:
            os.symlink(src, dst)
            continue
        if name == "events":
            parts = [
                f"SELECT event_id + {k * 10_000_000} AS event_id, "
                f"ts + {k * 31} * INTERVAL 1 DAY AS ts, "
                f"user_id, event_type, value, props "
                f"FROM read_parquet('{src}')"
                for k in range(k_copies)
            ]
            q = " UNION ALL ".join(parts)
        elif name == "lineitem":
            parts = [
                f"SELECT * REPLACE (l_orderkey + {k * 1_000_000_000} "
                f"AS l_orderkey) FROM read_parquet('{src}')"
                for k in range(k_copies)
            ]
            q = " UNION ALL ".join(parts)
        elif name == "embeddings":
            parts = [
                f"SELECT * REPLACE (vec_id + {k * 10_000_000} AS vec_id) "
                f"FROM read_parquet('{src}')"
                for k in range(k_copies)
            ]
            q = " UNION ALL ".join(parts)
        elif name == "documents":
            parts = []
            for k in range(k_copies):
                rot = ALPHA[k % 26:] + ALPHA[: k % 26]
                text = (
                    "text" if k == 0
                    else f"translate(text, '{ALPHA}', '{rot}')"
                )
                parts.append(
                    f"SELECT doc_id + {k * 10_000_000} AS doc_id, "
                    f"{text} AS text, lang, source, n_chars "
                    f"FROM read_parquet('{src}')"
                )
            q = " UNION ALL ".join(parts)
        else:  # orders
            parts = []
            for k in range(k_copies):
                parts.append(
                    f"SELECT o_orderkey + {k * 1_000_000_000} AS o_orderkey, "
                    f"o_custkey, o_orderstatus, "
                    f"o_totalprice + {k} * 0.01 AS o_totalprice, "
                    f"o_orderdate, o_orderpriority "
                    f"FROM read_parquet('{src}')"
                )
            q = " UNION ALL ".join(parts)
        con.execute(f"COPY ({q}) TO '{dst}' (FORMAT PARQUET)")
    con.close()


def main() -> None:
    args = sys.argv[1:]
    rungs = list(RUNGS)
    if "--rungs" in args:
        i = args.index("--rungs")
        rungs = [int(x) for x in args[i + 1].split(",")]
        del args[i:i + 2]
    queries = args or QUERIES
    spark = get_spark("scale_ladder")
    q = {name: all_queries()[name].spark_fn for name in queries}
    for name in queries:  # JIT warmup outside timed region
        q[name](spark, WARMUP_SF).write.format("noop").mode("overwrite").save()
        release_waypoints()

    results: dict[str, dict[int, float]] = {n: {} for n in queries}
    root = tempfile.mkdtemp(prefix="ladder_")
    try:
        for rung in rungs:
            d = os.path.join(root, f"x{rung}")
            os.makedirs(d)
            build_rung(rung, d)
            for name in queries:
                best = None
                for _ in range(2):
                    release_waypoints()
                    spark.catalog.clearCache()
                    s = time.perf_counter()
                    q[name](spark, d).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    e = time.perf_counter() - s
                    best = e if best is None else min(best, e)
                results[name][rung] = round(best, 3)
            print(json.dumps({"rung": rung, **{n: results[n][rung] for n in queries}}))
    finally:
        shutil.rmtree(root, ignore_errors=True)

    lo, hi, prev = rungs[0], rungs[-1], rungs[-2] if len(rungs) > 1 else rungs[0]
    header = ", ".join(f"t_x{r}" for r in rungs)
    print(f"\nquery, {header}, alpha({lo}->{hi}), alpha({prev}->{hi})")
    for name in queries:
        ts = [results[name][r] for r in rungs]
        # single rung: hi == lo, log(1) == 0 — no exponent computable
        a_full = (
            math.log(ts[-1] / ts[0]) / math.log(hi / lo)
            if hi != lo else float("nan")
        )
        a_last = (
            math.log(ts[-1] / ts[-2]) / math.log(hi / prev)
            if len(rungs) > 1 else float("nan")
        )
        tcols = ", ".join(str(t) for t in ts)
        print(f"{name}, {tcols}, {a_full:.2f}, {a_last:.2f}")


if __name__ == "__main__":
    main()
