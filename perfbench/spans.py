"""Spans around the benchmark's calls into ``olive_spark`` layers.

A span records name, layer, start, end, parent span and run id. Spans
are kept in memory and written out as JSON when the run ends. When
tracing is on, every span also carries its own Spark job group (set
through ``olive_spark.metrics.SuperstepMetricsCollector``), so the stage
metrics of the jobs submitted inside it can be read back after it ends.
When tracing is off the same spans are recorded but nothing is tagged
and no stage metrics are read: the untraced run pays only the clock
reads.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from olive_spark.metrics import SuperstepMetricsCollector


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float | None = None
    run_id: str = ""
    #: engine-reported numbers attached after the span ended
    extra: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        #: seconds spent tagging inside spans: what tracing adds to the
        #: timed region (stage metrics are read after the round)
        self.overhead_s = 0.0
        self._stack: list[Span] = []
        self._spark = spark
        self._collector = (
            SuperstepMetricsCollector(spark, prefix=f"perfbench-{run_id}-")
            if enabled else None
        )

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, layer, parent, time.monotonic(),
                 run_id=self.run_id)
        self.spans.append(s)
        self._stack.append(s)
        self.retag()
        try:
            yield s
        finally:
            s.end = time.monotonic()
            self._stack.pop()
            self.retag()

    def add(self, name: str, layer: str, parent: Span, start: float,
            end: float, **extra) -> Span:
        """Record a span the engine reported rather than one the
        benchmark timed (a superstep loop inside an algorithm call)."""
        s = Span(len(self.spans), name, layer, parent.id, start, end,
                 run_id=self.run_id, extra=extra)
        self.spans.append(s)
        return s

    def retag(self) -> None:
        """Point the job-group tag at the innermost open span.

        ``pregel`` tags each superstep with its own group and clears the
        tag to None when the loop ends, so the benchmark calls this
        after every loop call; otherwise the action that materializes
        the loop's result would run untagged.
        """
        if self._collector is None:
            return
        t0 = time.monotonic()
        if self._stack:
            self._collector.tag(self._stack[-1].id)
        else:
            self._collector.clear()
        self.overhead_s += time.monotonic() - t0

    # -- read back after the span has ended (outside the timed region) --
    def _family(self, span: Span) -> list[int]:
        """``span`` and its descendants (children follow their parent)."""
        family = [span.id]
        for s in self.spans:
            if s.parent in family:
                family.append(s.id)
        return family

    def stage_metrics(self, span: Span) -> dict:
        """Stage totals of the jobs tagged with ``span``'s group or a
        descendant's."""
        total: dict = {}
        for sid in self._family(span) if self._collector else []:
            for k, v in self._collector.collect(sid).items():
                total[k] = total.get(k, 0) + v
        return total

    def job_ids(self, span: Span) -> list[int]:
        """Ids of the jobs tagged with ``span``'s group or a descendant's."""
        if self._collector is None:
            return []
        tracker = self._spark.sparkContext.statusTracker()
        return sorted(j for sid in self._family(span)
                      for j in tracker.getJobIdsForGroup(f"perfbench-{self.run_id}-{sid}"))

    def job_range_stats(self, first: int, last: int) -> dict:
        """Spill bytes and peak execution memory over every stage of the
        jobs ``first..last`` (job ids are sequential on one driver
        thread, so this covers the loop's own superstep groups too)."""
        store = self._spark._jsparkSession.sparkContext().statusStore()
        seen: set[int] = set()
        spill = peak = 0
        for jid in range(first, last + 1):
            sids = store.job(jid).stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # skipped stage: no attempt recorded
                    continue
                spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
                peak = max(peak, st.peakExecutionMemory())
        return {"spill_bytes": int(spill),
                "peak_execution_memory_mb": peak / 2**20}

    def self_seconds(self, spans: list[Span]) -> dict[int, float]:
        """Span duration minus the time its direct children cover."""
        covered: dict[int, float] = {s.id: 0.0 for s in spans}
        for s in spans:
            if s.parent in covered:
                covered[s.parent] += s.seconds
        return {s.id: s.seconds - covered[s.id] for s in spans}

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]
