"""The superstep kernel (pregel.iterate): jobs per superstep and conf
isolation of every loop that runs on it."""

from __future__ import annotations

import itertools
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from olive_spark.algorithms.cc import connected_components_stars
from olive_spark.algorithms.hits import hits
from olive_spark.algorithms.kcore import kcore
from olive_spark.algorithms.pagerank import pagerank_fixed
from olive_spark.csr import bfs_csr, cc_csr, pagerank_csr, sssp_csr
from olive_spark.fixtures import chain_graph
from olive_spark.graph import Graph
from olive_spark.pregel import iterate

#: loop name -> call(graph, k) running k supersteps (the chain fixture
#: keeps every loop from converging before k+1 = 3 supersteps)
LOOPS = {
    "bfs_csr": lambda g, k: bfs_csr(g, source=0, max_iterations=k),
    "cc_csr": lambda g, k: cc_csr(g, max_iterations=k),
    "sssp_csr": lambda g, k: sssp_csr(g, source=0, max_iterations=k),
    "pagerank_csr": lambda g, k: pagerank_csr(g, iterations=k),
    "kcore": lambda g, k: kcore(g, k=3, max_rounds=k).state,
    "hits": lambda g, k: hits(g, iterations=k),
    "connected_components_stars": lambda g, k: connected_components_stars(g, max_rounds=k),
    "pregel": lambda g, k: pagerank_fixed(g, iterations=k).state,
}

#: jobs per extra superstep before the loops shared one kernel, at
#: local[4] with AQE and coalescing on (the CSR loops took 4-7: an eager
#: snapshot re-planned stage by stage under AQE plus a separate count)
PARENT_JOBS_PER_SUPERSTEP = {"kcore": 1, "hits": 3, "connected_components_stars": 6}

AQE_KEYS = (
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.shuffle.partitions",
)

_GROUPS = itertools.count()


@contextmanager
def _production_conf(spark, shuffle_partitions: str = "4"):
    """AQE and coalescing on (the production session's defaults) for a
    block; the test session runs AQE off, which hides AQE's job split."""
    prev = [spark.conf.get(k) for k in AQE_KEYS]
    for k, v in zip(AQE_KEYS, ("true", "true", shuffle_partitions)):
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in zip(AQE_KEYS, prev):
            spark.conf.set(k, v)


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` submits, counted under a job group of its own."""
    sc = spark.sparkContext
    group = f"test-iterate-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def chain(spark):
    n, e = chain_graph(40)
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    yield g
    g.unpersist()


@pytest.mark.parametrize("name", [n for n in LOOPS if n != "pregel"])
def test_jobs_per_superstep(spark, chain, name):
    """Under production conf (AQE and coalescing on), one more superstep
    costs one more Spark job in the CSR loops; the stars checksum rides
    the barrier (one job fewer than before); HITS and k-core cost no
    more than before."""
    call = LOOPS[name]
    call(chain, 2)  # warm the graph's caches and layouts
    with _production_conf(spark):
        extra = _jobs(spark, lambda: call(chain, 3)) - _jobs(spark, lambda: call(chain, 2))
    if name in PARENT_JOBS_PER_SUPERSTEP:
        parent = PARENT_JOBS_PER_SUPERSTEP[name]
        if name == "connected_components_stars":
            assert extra == parent - 1
        else:
            assert 1 <= extra <= parent
    else:
        assert extra == 1


@pytest.mark.parametrize("name", list(LOOPS))
def test_loop_restores_session_conf(spark, chain, name):
    """A loop's AQE-off, pinned-width scope never outlives the call."""
    with _production_conf(spark, shuffle_partitions="7"):
        before = [spark.conf.get(k) for k in AQE_KEYS]
        LOOPS[name](chain, 2)
        assert [spark.conf.get(k) for k in AQE_KEYS] == before == ["true", "true", "7"]


def test_conf_restored_when_a_step_raises(spark, chain, monkeypatch):
    import olive_spark.csr as csr

    def boom(*_a, **_k):
        raise RuntimeError("step failed")

    with _production_conf(spark, shuffle_partitions="7"):
        with pytest.raises(RuntimeError, match="step failed"):
            iterate(chain, lambda snapshot: snapshot(chain.vertices),
                    lambda state, row, snapshot: boom(), [F.count(F.lit(1))], 3)
        assert [spark.conf.get(k) for k in AQE_KEYS] == ["true", "true", "7"]
        monkeypatch.setattr(csr, "gather_sum", boom)
        with pytest.raises(RuntimeError, match="step failed"):
            csr.bfs_csr(chain, source=0, max_iterations=2)
        assert [spark.conf.get(k) for k in AQE_KEYS] == ["true", "true", "7"]


def test_kernel_frees_superseded_snapshots(spark, chain):
    """Each barrier frees the previous superstep's snapshots; the last
    ones stay resident for the caller, and the halt test sees the
    previous and the current barrier row."""
    persisted = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keySet())  # noqa: E731
    before = persisted()
    seen = []

    def step(state, row, snapshot):
        return snapshot(state.select("id", (F.col("x") + 1).alias("x")))

    def halt(prev, row, k):
        seen.append((prev["s"], row["s"], k))
        return k == 3

    run = iterate(chain, lambda snapshot: snapshot(chain.vertices.select("id", F.lit(0).alias("x"))),
                  step, [F.sum("x").alias("s")], 10, halt=halt)
    assert run.supersteps == 3 and run.converged and run.free_failures == 0
    assert seen == [(0, 40, 1), (40, 80, 2), (80, 120, 3)]
    assert [m["superstep"] for m in run.metrics] == [1, 2, 3]
    final = persisted() - before
    assert len(final) == 1  # only the final snapshot
    assert run.state.agg(F.sum("x")).first()[0] == 120
    spark.sparkContext._jsc.getPersistentRDDs().get(final.pop()).unpersist(False)
