"""Per-partition CSR adjacency blocks — the vectorized fast path.

The reference materializes each partition's subgraph as CSR arrays once
and then runs every superstep's gather over them (Partition::fromSubgraph,
partition.h:234-336; CSR layout csrGraph.h:55-84). The Spark twin:

- ``build_blocks``: one pass over the src-hash-partitioned edge table
  packs each partition's adjacency into numpy CSR arrays (unique srcs,
  offsets, dst indices, out-degrees) shipped as binary columns — ONE
  row per partition, cached. Built once, reused across supersteps.
- ``gather_sum``: per superstep, a ``cogroup().applyInPandas`` pairs
  each CSR block with the vertex-state rows that hash to the same
  partition (ids co-hash with srcs by construction), gathers
  ``value[src]/outdeg`` (or a caller-supplied numpy kernel) along all
  out-edges with numpy fancy indexing, and partially reduces by dst
  inside the partition (pandas C-level groupby — the analogue of the
  reference's per-partition accumulate, oliveKernel.h:67-84). Only the
  per-partition partial sums cross the shuffle (the outbox,
  messageBox.h:52-142); a final ``groupBy(dst).sum`` completes the
  reduce (the scatter, oliveKernel.h:92-106).

The loops (``bfs_csr``, ``cc_csr``, ``sssp_csr``, ``pagerank_csr``)
run on the superstep kernel (``pregel.iterate``): per superstep one
lazy snapshot of the vertex state and ONE barrier action (the next
frontier's size), AQE off with the shuffle width pinned to
``graph.num_partitions`` (the count the blocks are built at),
superseded snapshots freed.

Equivalence with the pure-DataFrame path is asserted in tests; which
path is faster depends on edge-table width and JVM-vs-Arrow transfer
cost — measured in bench.py, not assumed.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from olive_spark.graph import Graph
from olive_spark.pregel import iterate

BLOCK_SCHEMA = (
    "pid int, n_src long, nnz long, srcs binary, offsets binary, "
    "dsts binary, outdeg binary, weights binary"
)


def _pid(col, p: int):
    return F.pmod(F.xxhash64(col), F.lit(p)).cast("int")


def build_blocks(graph: Graph, num_partitions: int | None = None) -> DataFrame:
    """Pack each src-hash partition's adjacency into CSR arrays.

    Returns a cached DataFrame with ONE row per non-empty partition.
    """
    p = num_partitions or graph.num_partitions

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        src = pdf["src"].to_numpy(np.int64)
        dst = pdf["dst"].to_numpy(np.int64)
        w = pdf["weight"].to_numpy(np.float64)
        order = np.argsort(src, kind="stable")
        src, dst, w = src[order], dst[order], w[order]
        usrc, counts = np.unique(src, return_counts=True)
        offsets = np.zeros(len(usrc) + 1, dtype=np.int64)
        np.cumsum(counts, out=offsets[1:])
        return pd.DataFrame(
            {
                "pid": [int(pdf["pid"].iloc[0])],
                "n_src": [len(usrc)],
                "nnz": [len(dst)],
                "srcs": [usrc.tobytes()],
                "offsets": [offsets.tobytes()],
                "dsts": [dst.tobytes()],
                "outdeg": [counts.tobytes()],
                "weights": [w.tobytes()],
            }
        )

    e = graph.edges.withColumn("pid", _pid(F.col("src"), p))
    packed = e.groupBy("pid").applyInPandas(pack, schema=BLOCK_SCHEMA)
    # FlatMapGroupsInPandas does NOT expose its child's hash partitioning
    # (the output pid is a fresh attribute), so caching `packed` directly
    # leaves the cached relation with Unknown partitioning and EVERY
    # superstep's cogroup re-Exchanges the E-sized binary blocks above the
    # cache scan. One explicit hash repartition at build time stamps the
    # InMemoryRelation with hashpartitioning(pid, p); the cogroup then
    # scans the blocks in place and shuffles only the narrow state side
    # (plan-asserted in tests/test_plan_invariants.py).
    return packed.repartition(p, "pid").cache()


def gather_sum(
    blocks: DataFrame,
    state: DataFrame,
    value_col: str,
    num_partitions: int,
    kernel: Callable[[np.ndarray, np.ndarray], np.ndarray] | None = None,
    reduce_op: str = "sum",
    edge_kernel: Callable[[np.ndarray, np.ndarray], np.ndarray] | None = None,
) -> DataFrame:
    """One edge-expansion pass over the CSR blocks.

    state must contain (id, <value_col>). kernel(values_per_src,
    outdeg_per_src) -> per-SRC gather value (default: value/outdeg, the
    PageRank gather, PageRank.cu:53-55); it is then repeated along each
    src's out-edges and reduced by dst. edge_kernel(per_edge_src_vals,
    edge_weights) -> per-EDGE gather value, applied after the per-src
    repeat — the weighted-gather hook (SSSP.cu:56-58's dist + weight).
    Returns (id, accum) partials fully reduced (sum or min).

    FRONTIER-DRIVEN by construction: only srcs present in ``state`` are
    gathered from (missing srcs are masked out of the edge walk, the
    CSR twin of the workset gate in oliverKernel.h:148-178) — pass the
    full state for edgeMap semantics, or just the active rows for
    edgeFilter semantics (BFS/CC frontiers).
    """
    st = state.select("id", value_col).withColumn(
        "pid", _pid(F.col("id"), num_partitions)
    )

    def run(block_it: pd.DataFrame, state_it: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id": pd.Series([], dtype="int64"),
                              "partial": pd.Series([], dtype="float64")})
        if len(block_it) == 0 or len(state_it) == 0:
            return empty
        row = block_it.iloc[0]
        usrc = np.frombuffer(row["srcs"], dtype=np.int64)
        counts = np.frombuffer(row["outdeg"], dtype=np.int64)
        dst = np.frombuffer(row["dsts"], dtype=np.int64)
        series = pd.Series(
            state_it[value_col].to_numpy(np.float64),
            index=state_it["id"].to_numpy(np.int64),
        )
        w = (
            np.frombuffer(row["weights"], dtype=np.float64)
            if edge_kernel is not None
            else None
        )
        # frontier mask by MEMBERSHIP, not NaN sentinel: a src whose
        # state value is genuinely NaN must still propagate NaN, not be
        # silently treated as absent from the frontier.
        active = pd.Index(usrc).isin(series.index)
        vals = series.reindex(usrc).to_numpy(np.float64)
        if not active.all():
            edge_mask = np.repeat(active, counts)
            dst = dst[edge_mask]
            if w is not None:
                w = w[edge_mask]
            usrc, counts, vals = usrc[active], counts[active], vals[active]
        if len(usrc) == 0:
            return empty
        per_src = kernel(vals, counts) if kernel else vals / counts
        per_edge = np.repeat(per_src, counts)
        if edge_kernel is not None:
            per_edge = edge_kernel(per_edge, w)
        s = pd.Series(per_edge)
        grouped = s.groupby(dst)
        partial = grouped.sum() if reduce_op == "sum" else grouped.min()
        # pandas groupby reduces skip NaN; propagate it explicitly so a
        # NaN state value poisons its dsts (membership-mask contract)
        nan_mask = np.isnan(per_edge)
        if nan_mask.any():
            partial[np.unique(dst[nan_mask])] = np.nan
        return pd.DataFrame(
            {"id": partial.index.to_numpy(np.int64), "partial": partial.to_numpy()}
        )

    msgs = (
        blocks.groupBy("pid")
        .cogroup(st.groupBy("pid"))
        .applyInPandas(lambda b, s: run(b, s), schema="id long, partial double")
    )
    # The Arrow boundary converts a pandas NaN partial to NULL; `partial`
    # has no other null source, so a null here IS the NaN poison from a
    # NaN-valued src — re-materialize it as NaN instead of letting
    # sum/min silently skip it (membership-mask contract).
    agg_fn = F.sum if reduce_op == "sum" else F.min
    agg = F.when(
        F.count(F.lit(1)) > F.count("partial"), F.lit(float("nan"))
    ).otherwise(agg_fn(F.col("partial")))
    return msgs.groupBy("id").agg(agg.alias("accum"))


def _relax_step(blocks: DataFrame, p: int, state: DataFrame, col: str,
                kernel, edge_kernel=None, cast: str | None = None) -> DataFrame:
    """One frontier-driven min-relaxation superstep: only the rows
    flagged ``_active`` (improved last superstep) gather along their
    out-edges; a vertex takes the min candidate when it beats its
    ``col`` value, and is active next superstep iff it did."""
    frontier = state.filter(F.col("_active")).select(
        "id", F.col(col).cast("double").alias("_v")
    )
    acc = gather_sum(blocks, frontier, "_v", p, kernel=kernel,
                     reduce_op="min", edge_kernel=edge_kernel)
    cand = F.col("accum") if cast is None else F.col("accum").cast(cast)
    improved = F.col("accum").isNotNull() & (cand < F.col(col))
    return state.join(acc, "id", "left").select(
        "id", F.when(improved, cand).otherwise(F.col(col)).alias(col),
        improved.alias("_active"),
    )


def _relax(graph: Graph, blocks: DataFrame, state0: DataFrame, col: str,
           max_iterations: int, **step_kw) -> DataFrame:
    """Run ``_relax_step`` on the kernel from ``state0`` (id, col,
    _active) until no vertex improves; returns (id, col)."""
    p = graph.num_partitions
    run = iterate(
        graph, lambda _snapshot: state0,
        lambda state, _row, snapshot: snapshot(
            _relax_step(blocks, p, state, col, **step_kw)),
        [F.sum(F.col("_active").cast("long")).alias("_n")],
        max_iterations,
        halt=lambda _prev, row, _k: not row["_n"],
    )
    return run.state.select("id", col)


def bfs_csr(
    graph: Graph,
    source: int,
    max_iterations: int = 10_000,
    blocks: DataFrame | None = None,
) -> DataFrame:
    """Frontier-driven BFS over CSR blocks (the edgeFilter/vertexFilter
    pattern, BFS.cu:124-148): per superstep only the CURRENT frontier's
    rows are shipped to the block cogroup, so late supersteps walk only
    the frontier's out-edges — the CSR twin of the frontier-driven
    DataFrame path (algorithms/bfs.py), equivalence-tested against it.
    Returns (id, level) with unreached vertices at level 2^31-1."""
    INF = (1 << 31) - 1
    own_blocks = blocks is None
    if own_blocks:
        blocks = build_blocks(graph)
    is_src = F.col("id") == source
    state0 = graph.vertices.select(
        "id", F.when(is_src, F.lit(0)).otherwise(F.lit(INF)).alias("level"),
        is_src.alias("_active"),
    )
    out = _relax(graph, blocks, state0, "level", max_iterations,
                 kernel=lambda vals, counts: vals + 1.0, cast="int")
    if own_blocks:
        # the returned state is checkpointed — safe to drop the cached
        # E-sized block table we built internally (leak fix, ADVICE r3)
        blocks.unpersist()
    return out


def cc_csr(
    graph: Graph,
    max_iterations: int = 10_000,
    blocks: DataFrame | None = None,
) -> DataFrame:
    """Connected components (min-label propagation) over CSR blocks —
    identical semantics to algorithms.cc.connected_components: the
    adjacency is symmetrized once, labels start at id, and per superstep
    only the CHANGED vertices (the frontier) gather along their
    out-edges with a min reduce. Returns (id, component).

    When ``blocks`` is supplied it must be built over the SYMMETRIZED
    edge table; when None, it is built (and freed) internally.
    """
    own_blocks = blocks is None
    if own_blocks:
        # sym is the graph's memoized symmetrized closure (shared with
        # the DataFrame CC/LP paths) — graph.unpersist() releases it
        blocks = build_blocks(graph.symmetrized(), num_partitions=graph.num_partitions)
    # round 0: every vertex is in the frontier (it just "changed" to id)
    state0 = graph.vertices.select(
        "id", F.col("id").cast("double").alias("component"), F.lit(True).alias("_active")
    )
    out = _relax(graph, blocks, state0, "component", max_iterations,
                 kernel=lambda v, c: v)
    if own_blocks:
        blocks.unpersist()
    return out.select("id", F.col("component").cast("long").alias("component"))


def sssp_csr(
    graph: Graph,
    source: int,
    max_iterations: int | None = None,
    blocks: DataFrame | None = None,
) -> DataFrame:
    """Weighted SSSP (Bellman-Ford, frontier pruning) over CSR blocks —
    identical semantics to algorithms.sssp.sssp_weighted: gather =
    dist[src] + weight (the edge_kernel hook), reduce = min, frontier =
    vertices whose distance improved. Returns (id, distance) with
    unreached = +Infinity."""
    own_blocks = blocks is None
    if own_blocks:
        blocks = build_blocks(graph)
    if max_iterations is None:
        max_iterations = graph.vertex_count()
    is_src = F.col("id") == source
    state0 = graph.vertices.select(
        "id", F.when(is_src, F.lit(0.0)).otherwise(F.lit(float("inf"))).alias("distance"),
        is_src.alias("_active"),
    )
    out = _relax(graph, blocks, state0, "distance", max_iterations,
                 kernel=lambda v, c: v, edge_kernel=lambda per_edge, w: per_edge + w)
    if own_blocks:
        blocks.unpersist()
    return out


def _pagerank_step(graph: Graph, blocks: DataFrame, state: DataFrame,
                   damping: float, add_const: float) -> DataFrame:
    """One PageRank superstep: gather rank/outdeg over the blocks, then
    the vertex phase over the cached hash(id, P) vertex table."""
    acc = gather_sum(blocks, state, "rank", graph.num_partitions)
    return graph.vertices.join(acc, "id", "left").select(
        "id",
        (F.lit(damping) * F.coalesce("accum", F.lit(0.0)) + F.lit(add_const)).alias("rank"),
    )


def pagerank_csr(
    graph: Graph,
    iterations: int,
    damping: float = 0.85,
    blocks: DataFrame | None = None,
) -> DataFrame:
    """PageRank over CSR blocks — identical semantics to
    algorithms.pagerank.pagerank_fixed (dangling mass lost, duplicate
    edges counted). Returns (id, rank)."""
    n = graph.vertex_count()
    own_blocks = blocks is None
    if own_blocks:
        blocks = build_blocks(graph)
    add_const = (1.0 - damping) / n
    run = iterate(
        graph, lambda _snapshot: graph.vertices.select("id", F.lit(1.0 / n).alias("rank")),
        lambda state, _row, snapshot: snapshot(
            _pagerank_step(graph, blocks, state, damping, add_const)),
        [F.count(F.lit(1))],
        iterations,
    )
    if own_blocks:
        blocks.unpersist()
    return run.state
