"""Plan-shape invariants of the loops' step functions, planned the way
the superstep kernel plans them: inside ``loop_scope`` (AQE off, shuffle
width pinned), against materialized snapshots.

The cached-layout invariant: a step's physical plan never puts an
Exchange between an ``InMemoryTableScan`` of a cached layout and the
join / aggregate / cogroup that consumes it — the E-sized side is probed
in place and only the narrow state or message side moves. The one-time
exchange that built the cache lives inside the cached relation, which is
not a child of the scan, so it is not walked.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import functions as F

from olive_spark.fixtures import chain_graph, grid_graph
from olive_spark.graph import Graph
from olive_spark.pregel import loop_scope

#: operators that consume a cached layout; an Exchange above them moves
#: the (narrow) output, not the cached side
_CONSUMERS = ("Join", "Aggregate", "CoGroup")


def _cached_scan_exchanges(df, layout_col: str) -> tuple[int, list[str]]:
    """(number of scans of cached layouts — cached relations with a
    ``layout_col`` column — in the executed plan, the Exchanges found
    between any of them and its consuming operator). Cached vertex
    tables feeding the narrow state side are not layouts: they may move."""
    scans, bad = 0, []

    def walk(node, path):
        nonlocal scans
        name = node.nodeName()
        if name == "InMemoryTableScan":
            out = node.output()
            if layout_col not in {out.apply(i).name() for i in range(out.size())}:
                return
            scans += 1
            for anc in reversed(path):
                if any(c in anc for c in _CONSUMERS):
                    break
                if anc == "Exchange":
                    bad.append(" <- ".join(path))
            return
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i), path + [name])

    walk(df._jdf.queryExecution().executedPlan(), [])
    return scans, bad


def _assert_cached_scans_in_place(df, layout_col: str = "src") -> None:
    scans, bad = _cached_scan_exchanges(df, layout_col)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert scans, plan
    assert not bad, f"Exchange above a cached scan: {bad}\n{plan}"


def _snapshot(df):
    df = df.localCheckpoint(eager=False)
    df.count()
    return df


@contextmanager
def _aqe_on(spark):
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_hits_half_rounds_probe_cached_layouts_in_place(spark):
    from olive_spark.algorithms.hits import _half_round, _normalize

    n, e = grid_graph()
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    with loop_scope(g):
        hub = _snapshot(g.vertices.select("id", F.lit(1.0).alias("hub")))
        a_msg = _half_round(hub, g.edges, "hub", "a_raw")
        _assert_cached_scans_in_place(a_msg)
        auth = _normalize(_snapshot(a_msg), "a_raw", "auth")
        h_msg = _half_round(auth, g.reversed_edges(), "auth", "h_raw")
        _assert_cached_scans_in_place(h_msg)
    g.unpersist()


def test_kcore_peel_round_probes_cached_adjacency_in_place(spark):
    from olive_spark.algorithms.kcore import _peel_round, _peel_state0, _sym_layout

    n, e = chain_graph(30)
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    with loop_scope(g):
        sym = _sym_layout(g)
        state = _snapshot(_peel_state0(g, sym))
        _assert_cached_scans_in_place(_peel_round(state, sym, 3))
    sym.unpersist()
    g.unpersist()


def test_csr_gather_scans_blocks_in_place(spark):
    """Blocks cached under AQE on (as callers build them) are still
    scanned in place by a superstep planned in the loop scope: the only
    exchanges move the (id, value, pid) state into the cogroup and the
    per-partition partials into the final aggregate."""
    from olive_spark.csr import _pagerank_step, _relax_step, build_blocks

    n, e = grid_graph()
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    with _aqe_on(spark):
        blocks = build_blocks(g)
        blocks.count()
    with loop_scope(g):
        ranks = g.vertices.select("id", F.lit(1.0 / n).alias("rank"))
        _assert_cached_scans_in_place(
            _pagerank_step(g, blocks, ranks, 0.85, 0.15 / n), "dsts")
        levels = _snapshot(g.vertices.select(
            "id", F.lit(0).alias("level"), (F.col("id") == 0).alias("_active")))
        step = _relax_step(blocks, g.num_partitions, levels, "level",
                           kernel=lambda v, c: v + 1.0, cast="int")
        _assert_cached_scans_in_place(step, "dsts")
        assert "FlatMapCoGroupsInPandas" in step._jdf.queryExecution().executedPlan().toString()
    blocks.unpersist()
    g.unpersist()


def test_ppr_large_seed_init_is_a_broadcast_join(spark):
    """A seed set above PPR_SEED_LITERAL_MAX enters the init state by a
    broadcast join of the seed DataFrame — never as an In-list literal."""
    from olive_spark.algorithms.pagerank import PPR_SEED_LITERAL_MAX
    from olive_spark.pregel import PregelProgram, _init_state

    n = PPR_SEED_LITERAL_MAX + 500
    g = Graph.from_edge_list(spark, [(i, (i + 1) % n) for i in range(n)],
                             n_vertices=n, num_partitions=4)
    seeds = spark.createDataFrame(
        [(s,) for s in range(PPR_SEED_LITERAL_MAX + 100)], schema="id long"
    ).withColumn("_is_seed", F.lit(True))
    prog = PregelProgram(
        init={"pref": F.coalesce(F.col("_is_seed"), F.lit(False)).cast("double")},
        gather=F.lit(0.0), agg=F.sum, update={},
    )
    with loop_scope(g):
        plan = _init_state(g, prog, seeds)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert " IN (" not in plan, "seed ids leaked into an In-list literal"
    g.unpersist()
