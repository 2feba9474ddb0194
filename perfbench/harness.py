"""One round of a workload: timed load steps and jobs, untimed checks.

A round loads its inputs into a cached graph, then runs the workload's
jobs back to back on one driver thread. Only the load steps and the
jobs are timed. After each job, outside the timed region, the result
is checked against a reference and released, and the cache is checked
before the next job starts, so no job can be timed against a result a
previous job left cached.
"""

from __future__ import annotations

import sys
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from spans import Span, Tracer


def cache_state(spark) -> tuple[int, frozenset]:
    """(CacheManager entries, ids of persisted RDDs)."""
    entries = spark._jsparkSession.sharedState().cacheManager().numCachedEntries()
    rdds = frozenset(int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet())
    return int(entries), rdds


def release_snapshots(df: DataFrame, keep: frozenset) -> None:
    """Unpersist the localCheckpoint snapshots a result DataFrame reads.

    Results such as ``hits``' scores, ``KCoreResult.state`` and
    ``pagerank_csr``'s ranks are projections over checkpointed RDDs the
    engine gives no handle for. Their owner is the caller, so the
    benchmark frees every persisted RDD leaf of the result's plan that
    was not already persisted before the job (``keep``).
    """
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getName().endswith("LogicalRDD"):
            rdd = leaf.rdd()
            if rdd.id() not in keep:
                rdd.unpersist(False)


@dataclass
class JobRecord:
    name: str
    seconds: float
    loop_edge_steps: int = 0  # loop-graph edges x supersteps, 0 if no loop


@dataclass
class Round:
    spark: object
    tracer: Tracer
    #: the untimed first round of a run, which runs every loop for one
    #: superstep only (see run.py)
    warmup: bool = False
    load_s: float = 0.0
    jobs: list[JobRecord] = field(default_factory=list)
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    baseline: tuple | None = None

    def iters(self, n: int) -> int:
        """Supersteps for a loop that runs ``n`` in a timed round."""
        return 1 if self.warmup else n

    def load(self, name: str, layer: str, fn):
        with self.tracer.span(name, layer) as s:
            out = fn()
        self.load_s += s.seconds
        return out

    def check_load(self, name: str, check) -> None:
        """Check what the load built, then pin the cache it left as the
        state every job must start from."""
        self.attempted += 1
        with self.tracer.span("check", "bench"):
            self._record(name, check)
        self.baseline = cache_state(self.spark)

    def job(self, name: str, layer: str, call, finish=None, check=None,
            release=None, loop=None, inspect=None) -> None:
        """Time ``finish(call())``; then, untimed, check and release.

        loop(result) -> (loop-graph edges, supersteps) for the
        superstep throughput metric. inspect(result, span) attaches
        engine-reported numbers to the span when tracing.
        """
        self.attempted += 1
        before = cache_state(self.spark)
        if before != self.baseline:
            self.fail(name, f"cache not clean before job: {before} != {self.baseline}")
            return
        result = None
        ok = True
        try:
            with self.tracer.span(name, layer) as span:
                result = call()
                span.extra["call_end"] = time.monotonic()
                self.tracer.retag()
                if finish is not None:
                    finish(result)
        except Exception:
            self.fail(name, traceback.format_exc())
            ok = False
        steps = 0
        with self.tracer.span("check", "bench"):
            try:
                if ok and check is not None:
                    self._record(name, lambda: check(result))
                if ok and loop is not None:
                    edges, supersteps = loop(result)
                    steps = edges * supersteps
                if ok and inspect is not None and self.tracer.enabled:
                    inspect(result, span)
            finally:
                if result is not None and release is not None:
                    release(result)
        if ok:
            self.jobs.append(JobRecord(name, span.seconds, steps))

    def finish(self) -> None:
        """Everything the round built must be released by now."""
        entries, rdds = cache_state(self.spark)
        if entries or rdds:
            self.fail("round", f"round left {entries} cached plans, RDDs {sorted(rdds)}")

    # -- results ----------------------------------------------------------
    @property
    def analytics_s(self) -> float:
        return sum(j.seconds for j in self.jobs)

    def _record(self, name: str, check) -> None:
        try:
            problem = check()
        except Exception:
            problem = traceback.format_exc()
        if problem:
            self.fail(name, problem)

    def fail(self, name: str, why: str) -> None:
        self.failures.append(name)
        sys.stderr.write(f"perfbench: {name} failed: {why}\n")


def span_of(tracer: Tracer, name: str) -> Span:
    """The most recent span called ``name``."""
    return next(s for s in reversed(tracer.spans) if s.name == name)
