"""Capture explain("formatted") of one kcore peel round (r6 session-2
touched kcore: dead layout sort removed, hinted-SHJ init without the
trailing repartition, pinned loop shuffle width).

    python scripts/capture_kcore_plan_r06.py before|after [out_dir]

Run with tag=before from a worktree of the pre-change commit.
Mirrors kcore's round body on either tree (feature-detected by
source inspection), on the sf0.1 tri graph.
"""

from __future__ import annotations

import inspect
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main():
    tag = sys.argv[1] if len(sys.argv) > 1 else "after"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06"
    )
    os.makedirs(out_dir, exist_ok=True)

    import importlib

    # importlib lookup: a package __init__ re-export of the `kcore`
    # FUNCTION shadows the submodule attribute (same gotcha as pregel
    # in capture_plans_r06.py)
    K = importlib.import_module("olive_spark.algorithms.kcore")
    from olive_spark.ingest.resolve import testdata_tri_graph
    from olive_spark.pregel import stable_partitioning
    from olive_spark.session import get_spark

    spark = get_spark(app_name=f"capture_kcore_{tag}", master="local[8]",
                      shuffle_partitions=8)
    spark.conf.set("spark.sql.debug.maxToStringFields", "200")
    g = testdata_tri_graph(spark, SF_DIR)
    g.edge_count()

    src = inspect.getsource(getattr(K, "_kcore_impl", K))
    new_shape = "sortWithinPartitions(" not in src
    ctx = (
        stable_partitioning(spark, disable_aqe=True,
                            shuffle_partitions=g.num_partitions)
        if new_shape
        else stable_partitioning(spark, disable_aqe=True)
    )
    with ctx:
        edges = g.edges
        verts = g.vertices
        P = g.num_partitions
        sym = edges.select("src", "dst").union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).repartition(P, "src")
        if not new_shape:
            sym = sym.sortWithinPartitions("src")
        sym = sym.cache()
        deg0 = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        if new_shape:
            state = verts.join(deg0.hint("shuffle_hash"),
                               verts["id"] == deg0["src"], "left")
        else:
            state = verts.join(deg0, verts["id"] == deg0["src"], "left")
        state = state.select(
            "id", F.coalesce("deg", F.lit(0)).alias("deg"),
            F.lit(False).alias("removed"),
        )
        if not new_shape:
            state = state.repartition(P, "id")
        state = state.localCheckpoint(eager=False)
        state.count()

        k = 3
        peel = state.filter(~F.col("removed") & (F.col("deg") < k)).select("id")
        msgs = (
            peel.hint("shuffle_hash").alias("p")
            .join(sym.alias("e"), F.col("p.id") == F.col("e.src"))
            .groupBy(F.col("e.dst").alias("id"))
            .agg(F.count(F.lit(1)).alias("dec"))
        )
        peel_cond = ~F.col("removed") & (F.col("deg") < k)
        new_state = state.join(msgs.hint("shuffle_hash"), "id", "left").select(
            "id",
            F.when(F.col("removed"), F.col("deg"))
            .otherwise(F.col("deg") - F.coalesce("dec", F.lit(0))).alias("deg"),
            (F.col("removed") | (F.col("deg") < k)).alias("removed"),
            peel_cond.cast("long").alias("_peeled"),
            F.when(peel_cond, F.col("deg")).otherwise(F.lit(0)).alias("_peel_deg"),
        )
        text = new_state._sc._jvm.PythonSQLUtils.explainString(
            new_state._jdf.queryExecution(), "formatted"
        )
    path = os.path.join(out_dir, f"kcore_round_{tag}.txt")
    with open(path, "w") as f:
        f.write("== one kcore peel round (init + round-1 plan)\n\n")
        f.write(text)
    print(f"wrote {path}: {len(text.splitlines())} lines")


if __name__ == "__main__":
    main()
