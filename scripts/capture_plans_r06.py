"""Capture explain("formatted") for every bench query's hot plan.

Writes plans/r06/<query>_<tag>.txt. Works against BOTH the round-start
tree and the optimized tree (feature-detects the module shapes), so the
before/after pair is produced by running this same script from a
worktree of the old commit (tag=before) and from the optimized tree
(tag=after):

    python scripts/capture_plans_r06.py before|after [out_dir]

For the pregel-family queries the captured plan is the steady-state
per-superstep DataFrame exactly as the loop builds it (init state is
localCheckpointed and materialized first, like in the loop). For
triangles the plan is the per-vertex result before the single action;
for HITS one full round's new_state; for ingest the resolved cached
edge table + degrees.

Uses the sf0.1 testdata graphs and the same synthetic power graph as
bench.py, with a local[8] master — plan SHAPE is what is captured
here, not time.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _explain_str(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _write(out_dir: str, name: str, tag: str, text: str, header: str = "") -> None:
    path = os.path.join(out_dir, f"{name}_{tag}.txt")
    with open(path, "w") as f:
        if header:
            f.write(f"== {header}\n\n")
        f.write(text)
    n_ex = sum(
        ("Exchange" in line and "ReusedExchange" not in line)
        for line in text.splitlines()
        if line.startswith("(") or "Exchange" in line
    )
    print(f"{name}_{tag}: {len(text.splitlines())} lines, ~{n_ex} Exchange mentions")


def _superstep_df(graph, program, broadcast_threshold=1_000_000):
    """Build the steady-state superstep DataFrame the pregel loop runs,
    on either code version."""
    import importlib

    # sys.modules lookup: olive_spark/__init__ re-exports a `pregel`
    # FUNCTION that shadows the submodule attribute
    P = importlib.import_module("olive_spark.pregel")

    state_cols = list(program.init.keys())
    frontier_driven = not program.full_frontier
    if frontier_driven and "_active" not in state_cols:
        state_cols.append("_active")

    if hasattr(P, "_build_superstep"):  # optimized tree
        with_outdeg = P._uses_outdeg(program)
        state = P._init_state(graph, program, None, with_outdeg=with_outdeg)
        if frontier_driven and "_active" not in program.init:
            state = state.withColumn("_active", F.lit(True))
        state = state.localCheckpoint(eager=False)
        state.count()
        frontier_size = graph.vertex_count()
        return P._build_superstep(
            graph.edges, state, program, state_cols,
            frontier_size, broadcast_threshold, with_outdeg,
        )

    # round-start tree: replicate the loop body verbatim (pregel.py
    # lines 415-468 of the r5 code)
    state = P._init_state(graph, program, None)
    if frontier_driven and "_active" not in program.init:
        state = state.withColumn("_active", F.lit(True))
    state = state.repartition(graph.num_partitions, "id").localCheckpoint(eager=False)
    state.count()
    frontier_size = graph.vertex_count()
    edges = graph.edges
    if program.full_frontier:
        act = state
    else:
        act = state.filter(F.col("_active"))
    act_hinted = (
        F.broadcast(act)
        if frontier_size <= broadcast_threshold
        else act.hint("shuffle_hash")
    )
    j = act_hinted.alias("s").join(edges.alias("e"), F.col("s.id") == F.col("e.src"))
    msgs = j.select(F.col("e.dst").alias("id"), program.gather.alias("g"))
    if program.agg_df is not None:
        acc = program.agg_df(msgs)
    else:
        acc = msgs.groupBy("id").agg(program.agg(F.col("g")).alias("accum"))
    joined = state.join(acc.hint("shuffle_hash"), "id", "left")
    accum = F.col("accum")
    if program.accum_default is not None:
        accum = F.coalesce(accum, F.lit(program.accum_default))
    joined = joined.withColumn("accum", accum)
    cond = program.cond
    if cond is None:
        cond = F.lit(True)
    if program.accum_default is None:
        cond = cond & F.col("accum").isNotNull()
    joined = joined.withColumn("_upd", cond)
    new_cols = [F.col("id"), F.col("outdeg")]
    for name in state_cols:
        if name == "_active":
            new_cols.append(F.col("_upd").alias("_active"))
            continue
        expr = program.update.get(name)
        if expr is None:
            new_cols.append(F.col(name))
        else:
            new_cols.append(F.when(F.col("_upd"), expr).otherwise(F.col(name)).alias(name))
    return joined.select(*new_cols)


def _triangles_df(graph):
    import olive_spark.algorithms.triangles as T

    if hasattr(T, "_undirected_simple"):  # optimized tree
        und = T._undirected_simple(graph).cache()
        oriented = (
            T._oriented_edges(graph, und)
            .repartition(graph.num_partitions, "u")
            .cache()
        )
        e1 = oriented.select(F.col("u").alias("a"), F.col("v").alias("b"))
        e2 = oriented.select(F.col("u").alias("a"), F.col("v").alias("c"))
        wedges = e1.join(e2.hint("shuffle_hash"), "a").filter(F.col("b") < F.col("c"))
        closing = und.select(F.col("a").alias("b"), F.col("b").alias("c"))
        tris = wedges.join(closing.hint("shuffle_hash"), ["b", "c"], "left_semi")
    else:  # round-start tree (triangles.py r5)
        oriented = T._oriented_edges(graph).cache()
        e1 = oriented.select(F.col("u").alias("a"), F.col("v").alias("b"))
        e2 = oriented.select(F.col("u").alias("a"), F.col("v").alias("c"))
        wedges = e1.join(e2, "a").filter(F.col("b") < F.col("c"))
        closing = oriented.select(
            F.col("u").alias("b"), F.col("v").alias("c")
        ).unionByName(oriented.select(F.col("v").alias("b"), F.col("u").alias("c")))
        tris = wedges.join(closing, ["b", "c"], "left_semi").cache()
    per = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("triangles"))
    )
    per_all = graph.vertices.join(per, "id", "left").select(
        "id", F.coalesce("triangles", F.lit(0)).alias("triangles")
    )
    return per_all


def _hits_round_df(graph):
    import importlib
    import inspect

    H = importlib.import_module("olive_spark.algorithms.hits")

    edges = graph.edges
    rev = graph.reversed_edges()
    # the loop body lived in _hits_impl until the loops moved onto
    # pregel.iterate; the module source covers both trees
    src = inspect.getsource(getattr(H, "_hits_impl", H))

    def _hinted(df):
        return F.broadcast(df)

    if "live_snapshots" in src or "_half_round" in src:  # restricted score tables
        if hasattr(graph, "loop_layout"):  # late-r6: compact loop layout
            graph = graph.loop_layout()
            edges = graph.edges
            rev = graph.reversed_edges()
        verts = graph.vertices
        state = verts.select("id", F.lit(1.0).alias("hub"))
        if "no repartition" not in src and "_half_round" not in src:  # pre-batch-6
            state = state.repartition(graph.num_partitions, "id")
        state = state.localCheckpoint(eager=False)
        state.count()
        a_msg = (
            _hinted(state).alias("s")
            .join(edges.alias("e"), F.col("s.id") == F.col("e.src"))
            .select(F.col("e.dst").alias("id"), F.col("s.hub").alias("g"))
            .groupBy("id")
            .agg(F.sum("g").alias("a_raw"))
            .localCheckpoint(eager=False)
        )
        auth = H._normalize(a_msg, "a_raw", "auth")
        h_msg = (
            _hinted(auth).alias("a")
            .join(rev.alias("r"), F.col("a.id") == F.col("r.src"))
            .select(F.col("r.dst").alias("id"), F.col("a.auth").alias("g"))
            .groupBy("id")
            .agg(F.sum("g").alias("h_raw"))
        )
        return H._normalize(h_msg, "h_raw", "hub")

    # round-start tree: verts-complete round
    verts = graph.degrees().select("id")
    state = verts.select("id", F.lit(1.0).alias("hub"))
    state = state.repartition(graph.num_partitions, "id").localCheckpoint(eager=False)
    state.count()

    a_msg = (
        _hinted(state).alias("s")
        .join(edges.alias("e"), F.col("s.id") == F.col("e.src"))
        .select(F.col("e.dst").alias("id"), F.col("s.hub").alias("g"))
        .groupBy("id")
        .agg(F.sum("g").alias("a_raw"))
    )
    a_raw = verts.join(a_msg.hint("shuffle_hash"), "id", "left").select(
        "id", F.coalesce("a_raw", F.lit(0.0)).alias("a_raw")
    )
    auth = H._normalize(a_raw, "a_raw", "auth")
    h_msg = (
        _hinted(auth).alias("a")
        .join(rev.alias("r"), F.col("a.id") == F.col("r.src"))
        .select(F.col("r.dst").alias("id"), F.col("a.auth").alias("g"))
        .groupBy("id")
        .agg(F.sum("g").alias("h_raw"))
    )
    h_raw = verts.join(h_msg.hint("shuffle_hash"), "id", "left").select(
        "id", F.coalesce("h_raw", F.lit(0.0)).alias("h_raw")
    )
    return H._normalize(h_raw, "h_raw", "hub")


def main():
    tag = sys.argv[1] if len(sys.argv) > 1 else "after"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06"
    )
    os.makedirs(out_dir, exist_ok=True)

    import inspect
    from contextlib import contextmanager

    from olive_spark.session import get_spark
    from olive_spark.ingest.resolve import testdata_graph, testdata_tri_graph
    from olive_spark.pregel import stable_partitioning

    # the r6 loops run with AQE fully off (stable_partitioning grew a
    # disable_aqe flag); capture the superstep plans under the same
    # mode the loop uses on this tree
    if "disable_aqe" in inspect.signature(stable_partitioning).parameters:
        def loop_ctx(spark):
            return stable_partitioning(spark, disable_aqe=True)
    else:
        def loop_ctx(spark):
            return stable_partitioning(spark)

    spark = get_spark(app_name=f"capture_plans_r06_{tag}", master="local[8]",
                      shuffle_partitions=8)
    spark.conf.set("spark.sql.debug.maxToStringFields", "200")

    # --- graphs (same construction as bench.py) --------------------------
    g_bi = testdata_graph(spark, SF_DIR)
    g_bi.edge_count()
    g_bi.degrees().count()
    g_tri = testdata_tri_graph(spark, SF_DIR)
    g_tri.edge_count()

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    g_pow = bench.synth_power_graph(spark, 400_000, 50_000, 8)
    g_pow.edge_count()
    g_pow.degrees().count()

    # --- pagerank superstep (both graphs share the plan shape) ----------
    from olive_spark.pregel import ACCUM, PregelProgram
    from olive_spark.pregel import src as s_

    pr_prog = PregelProgram(
        init={"rank": F.lit(1.0 / max(g_pow.vertex_count(), 1))},
        gather=s_("rank") / s_("outdeg"),
        agg=F.sum,
        update={"rank": F.lit(0.85) * ACCUM() + F.lit(0.15 / max(g_pow.vertex_count(), 1))},
        cond=None,
        accum_default=0.0,
        full_frontier=True,
    )
    with loop_ctx(spark):
        df = _superstep_df(g_pow, pr_prog)
        _write(out_dir, "pagerank_superstep", tag, _explain_str(df),
               "steady-state PageRank superstep (power graph shape; "
               "pagerank10_tpch is identical modulo the input graph)")

    # --- cc superstep (frontier-driven, symmetrized closure) -------------
    cc_prog = PregelProgram(
        init={"component": F.col("id")},
        gather=s_("component"),
        agg=F.min,
        update={"component": ACCUM()},
        cond=ACCUM() < F.col("component"),
        accum_default=None,
        full_frontier=False,
    )
    g_sym = g_tri.symmetrized()
    with loop_ctx(spark):
        df = _superstep_df(g_sym, cc_prog)
        _write(out_dir, "cc_superstep", tag, _explain_str(df),
               "steady-state CC superstep over the symmetrized closure")

    # --- bfs superstep ----------------------------------------------------
    from olive_spark.algorithms.bfs import INF32

    bfs_prog = PregelProgram(
        init={
            "level": F.when(F.col("id") == 0, F.lit(0)).otherwise(F.lit(INF32)).cast("long"),
            "_active": F.col("id") == 0,
        },
        gather=s_("level") + F.lit(1),
        agg=F.min,
        update={"level": ACCUM()},
        cond=F.col("level") == INF32,
        accum_default=None,
        full_frontier=False,
    )
    with loop_ctx(spark):
        df = _superstep_df(g_tri, bfs_prog)
        _write(out_dir, "bfs_superstep", tag, _explain_str(df),
               "steady-state BFS superstep (frontier-driven)")

    # --- label propagation superstep --------------------------------------
    from olive_spark.algorithms.labelprop import _mode_agg

    lp_prog = PregelProgram(
        init={"label": F.col("id")},
        gather=s_("label"),
        agg=None,
        agg_df=_mode_agg,
        update={"label": ACCUM()},
        cond=None,
        accum_default=None,
        full_frontier=True,
    )
    with loop_ctx(spark):
        df = _superstep_df(g_sym, lp_prog)
        _write(out_dir, "labelprop_superstep", tag, _explain_str(df),
               "steady-state label-propagation superstep (mode agg)")

    # --- triangles ---------------------------------------------------------
    with stable_partitioning(spark):
        df = _triangles_df(g_tri)
        _write(out_dir, "triangles", tag, _explain_str(df),
               "triangle per-vertex counts (full plan before the single action)")

    # --- hits round ---------------------------------------------------------
    with loop_ctx(spark):
        df = _hits_round_df(g_bi)
        _write(out_dir, "hits_round", tag, _explain_str(df),
               "one full HITS round (auth half + hub half + normalize)")

    # --- ingest -------------------------------------------------------------
    from olive_spark.fixtures import chain_graph
    from olive_spark.ingest.pages import synth_pages
    from olive_spark.ingest.resolve import build_graph_from_pages

    n, e = chain_graph(2_000)
    pages = synth_pages(spark, n, e, num_partitions=8)
    graph, _ = build_graph_from_pages(spark, pages, id_method="hash",
                                      num_partitions=8)
    _write(out_dir, "ingest_edges", tag, _explain_str(graph.edges),
           "resolved edge table of the ingest path (pre-cache lineage)")
    _write(out_dir, "ingest_degrees", tag, _explain_str(graph.degrees()),
           "degrees over the resolved ingest graph")

    print("done:", out_dir)


if __name__ == "__main__":
    main()
