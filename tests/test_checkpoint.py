"""Durable checkpoints: lineage metrics + resume-equals-straight-run."""

from __future__ import annotations

import numpy as np
import pytest

from olive_spark.algorithms.pagerank import pagerank
from olive_spark.algorithms.bfs import bfs
from olive_spark.checkpoint import CheckpointStore
from olive_spark.fixtures import chain_graph, grid_graph, ordered_graph_9
from olive_spark.graph import Graph


def ranks(res):
    return {r["id"]: r["rank"] for r in res.state.collect()}


def _multi_partition(spark, fixture, monkeypatch):
    """A 4-partition graph that pregel iterates at 4 partitions (the
    compact loop layout would fold these tiny fixtures into one)."""
    monkeypatch.setenv("OLIVE_LOOP_ROWS_PER_PARTITION", "1")
    n, e = fixture
    return Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)


def test_checkpoint_and_lineage(spark, tmp_path):
    n, e = grid_graph()
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    store = CheckpointStore(spark, str(tmp_path / "ckpt"), run_id="r1")
    res = pagerank(g, epsilon=None, max_iterations=5, checkpoint_store=store,
                   checkpoint_every=1)
    assert res.supersteps == 5
    assert store.latest_superstep() == 5
    lin = store.lineage()
    cols = set(lin.columns)
    assert cols == {"run_id", "superstep", "partition_id", "rows", "bytes", "ms"}
    # every superstep logged; row counts sum to N per superstep
    per_step = {r["superstep"]: r["total"] for r in
                lin.groupBy("superstep").sum("rows").withColumnRenamed("sum(rows)", "total").collect()}
    assert set(per_step) == {1, 2, 3, 4, 5}
    assert all(v == n for v in per_step.values())


def test_superstep_shuffle_metrics(spark, tmp_path, monkeypatch):
    """comp/comm split per superstep (olive.h:131-150 analogue): the
    multi-partition run must record nonzero shuffle read+write bytes
    and executor time for every superstep, both in PregelResult.metrics
    and in the CheckpointStore supersteps log."""
    g = _multi_partition(spark, grid_graph(), monkeypatch)
    store = CheckpointStore(spark, str(tmp_path / "ckpt_sh"), run_id="rsh")
    res = pagerank(g, epsilon=None, max_iterations=3, checkpoint_store=store)
    assert len(res.metrics) == 3
    for m in res.metrics:
        assert m["shuffle_read_bytes"] > 0
        assert m["shuffle_write_bytes"] > 0
        assert m["executor_run_ms"] > 0
        assert m["tasks"] > 0
        assert m["comp_ms"] >= 0
    logged = store.superstep_metrics()
    assert len(logged) == 3
    assert all(m["shuffle_read_bytes"] > 0 for m in logged)


def test_shuffle_metrics_opt_out(spark):
    """collect_shuffle_metrics=False keeps the metrics lean (bench mode)."""
    from olive_spark.pregel import PregelProgram, pregel
    from pyspark.sql import functions as F

    n, e = grid_graph()
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    prog = PregelProgram(
        init={"x": F.lit(0.0)},
        gather=F.lit(1.0),
        agg=F.sum,
        update={"x": F.col("accum")},
        accum_default=0.0,
        full_frontier=True,
    )
    res = pregel(g, prog, max_iterations=2, collect_shuffle_metrics=False)
    assert all("shuffle_read_bytes" not in m for m in res.metrics)


def test_resume_equals_straight_run(spark, tmp_path):
    """Kill after superstep k, resume from checkpoint -> identical final
    state (north-rule resumability; SURVEY.md §5 property test)."""
    n, e = grid_graph()
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)

    straight = pagerank(g, epsilon=None, max_iterations=10)
    r_straight = ranks(straight)

    store = CheckpointStore(spark, str(tmp_path / "ckpt2"), run_id="r2")
    partial = pagerank(g, epsilon=None, max_iterations=4, checkpoint_store=store)
    assert store.latest_superstep() == 4

    resumed = pagerank(g, epsilon=None, max_iterations=10, checkpoint_store=store,
                       checkpoint_every=1, resume=True)
    assert resumed.supersteps == 10
    r_resumed = ranks(resumed)
    for i in range(n):
        assert r_straight[i] == r_resumed[i], i  # bit-identical


def test_resume_frontier_algorithm(spark, tmp_path):
    """Frontier state survives the checkpoint too (BFS mid-traversal)."""
    n, e = chain_graph(12)
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)

    straight = bfs(g, source=0)
    exp = {r["id"]: r["level"] for r in straight.state.collect()}

    store = CheckpointStore(spark, str(tmp_path / "ckpt3"), run_id="r3")
    bfs(g, source=0, max_iterations=4, checkpoint_store=store)
    resumed = bfs(g, source=0, checkpoint_store=store, resume=True)
    got = {r["id"]: r["level"] for r in resumed.state.collect()}
    assert got == exp
    assert resumed.converged


def test_crash_safety_marker(spark, tmp_path):
    """A snapshot without the commit marker is invisible to resume."""
    import os, shutil
    n, e = grid_graph()
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=2)
    store = CheckpointStore(spark, str(tmp_path / "ckpt4"), run_id="r4")
    pagerank(g, epsilon=None, max_iterations=3, checkpoint_store=store)
    assert store.latest_superstep() == 3
    # simulate crash mid-write of superstep 4: dir exists, no marker
    os.makedirs(store._step_dir(4) + "/state", exist_ok=True)
    assert store.latest_superstep() == 3


def test_checkpoint_file_uri_root(spark, tmp_path):
    """The store speaks the Hadoop FileSystem API: a file:// URI root
    (the object-store code path) works end-to-end, including resume."""
    n, e = grid_graph()
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    store = CheckpointStore(spark, f"file://{tmp_path}/ckpt_uri", run_id="r5")
    partial = pagerank(g, epsilon=None, max_iterations=3, checkpoint_store=store)
    assert store.latest_superstep() == 3
    resumed = pagerank(g, epsilon=None, max_iterations=6, checkpoint_store=store,
                       resume=True)
    straight = pagerank(g, epsilon=None, max_iterations=6)
    assert ranks(resumed) == ranks(straight)
    # driver-side metrics landed one object per superstep
    ms = store.superstep_metrics()
    assert [m["superstep"] for m in ms] == [1, 2, 3, 4, 5, 6]


def test_lineage_attributes_written_partitions(spark, tmp_path):
    """Lineage rows describe the WRITTEN files: distinct partition ids,
    per-file byte sizes that sum to the snapshot's real size."""
    import os

    n, e = grid_graph()
    g = Graph.from_edge_list(spark, e, n_vertices=n, num_partitions=4)
    store = CheckpointStore(spark, str(tmp_path / "ckpt_lin"), run_id="r6")
    pagerank(g, epsilon=None, max_iterations=2, checkpoint_store=store)
    lin = store.lineage().filter("superstep = 1").collect()
    assert sum(r["rows"] for r in lin) == n
    assert len({r["partition_id"] for r in lin}) == len(lin)
    state_dir = store._step_dir(1) + "/state"
    disk = sum(
        os.path.getsize(os.path.join(state_dir, f))
        for f in os.listdir(state_dir) if f.startswith("part-")
    )
    assert sum(r["bytes"] for r in lin) == disk


def test_durable_superstep_is_one_job(spark, tmp_path, monkeypatch):
    """A durably checkpointed superstep is ONE Spark job: the snapshot
    write, which also evaluates the barrier aggregates. Lineage and row
    counts come from the driver, the read-back infers no schema."""
    from olive_spark.pregel import _PREGEL_RUN_COUNTER

    g = _multi_partition(spark, grid_graph(), monkeypatch)
    store = CheckpointStore(spark, str(tmp_path / "ckpt_jobs"), run_id="rj")
    # pregel tags superstep k's jobs "olive-superstep-r<token>-<k>", with
    # token drawn from this counter: peek it by drawing one ahead
    token = next(_PREGEL_RUN_COUNTER) + 1
    res = pagerank(g, epsilon=None, max_iterations=3, checkpoint_store=store)
    assert res.supersteps == 3
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = spark.sparkContext.statusTracker()
    jobs = [
        len(tracker.getJobIdsForGroup(f"olive-superstep-r{token}-{k}"))
        for k in (1, 2, 3)
    ]
    assert jobs == [1, 1, 1]
    assert store.lineage().filter("superstep = 3").count() == 4


@pytest.mark.parametrize("every", [1, 2])
def test_observed_barrier_pagerank_halts_identically(spark, tmp_path, monkeypatch, every):
    """The convergence fold observed on the snapshot write stops the loop
    at the same superstep, with bit-identical ranks, as the re-scan
    aggregate of the localCheckpoint path — also when the two paths
    alternate (checkpoint_every=2)."""
    g = _multi_partition(spark, ordered_graph_9(), monkeypatch)
    plain = pagerank(g, epsilon=1e-7)
    store = CheckpointStore(spark, str(tmp_path / f"ckpt_pr{every}"), run_id="rp")
    durable = pagerank(g, epsilon=1e-7, checkpoint_store=store, checkpoint_every=every)
    assert plain.converged and durable.converged
    assert durable.supersteps == plain.supersteps < 100
    assert ranks(durable) == ranks(plain)


@pytest.mark.parametrize("every", [1, 2])
def test_observed_barrier_bfs_active_counts(spark, tmp_path, monkeypatch, every):
    """The frontier count observed on the snapshot write equals the
    re-scan count of the localCheckpoint path, superstep by superstep."""
    g = _multi_partition(spark, grid_graph(), monkeypatch)
    plain = bfs(g, source=0)
    store = CheckpointStore(spark, str(tmp_path / f"ckpt_bfs{every}"), run_id="rb")
    durable = bfs(g, source=0, checkpoint_store=store, checkpoint_every=every)
    active = [m["active"] for m in plain.metrics]
    assert active[-1] == 0 and max(active) > 1
    assert [m["active"] for m in durable.metrics] == active
