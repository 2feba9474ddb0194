"""Durable per-superstep checkpointing with per-partition lineage.

North-rule requirement: every superstep checkpoints frontier and state
so any run is resumable mid-iteration, with per-partition lineage and
metrics. The reference has no persistence at all (state lives in GPU
buffers, grd.h:44-170); this is new engineering the 100TB design point
demands — a 100-superstep PageRank over a trillion edges WILL lose
executors. The frontier travels inside the state snapshot as the
``_active`` column (pregel.py), so one table per superstep suffices.

All filesystem operations (markers, listings, sizes, footers, lineage
and metric records) go through the Hadoop FileSystem API, so the store
works against any scheme Spark can write — ``file://``, ``hdfs://``,
``s3a://`` — not just the driver's local disk (r1 used os.* and broke on
object stores).

Storage layout (plain parquet snapshots, no Iceberg table):

    <root>/<run_id>/superstep=<k>/state/     parquet
    <root>/<run_id>/superstep=<k>/_SUCCESS_OLIVE  commit marker (atomic:
        written only after the snapshot and its lineage land -> a crashed
        write is invisible to resume)
    <root>/<run_id>/lineage/<k>.json         JSON lines, one per WRITTEN
        partition file: (run_id, superstep, partition_id, rows, bytes, ms)
        — rows from the file's parquet footer, bytes from the file's
        length (r1 recomputed partition ids on the re-read scan, which
        described the read layout, not the write).
    <root>/<run_id>/supersteps/<k>.json      driver-side metrics, one
        object per superstep (append-free: object stores can't append)

A checkpoint costs exactly one Spark job — the snapshot write. Lineage
rows and footer row counts are written and read on the driver, and the
snapshot is read back with the written schema, so no schema-inference
job runs; a caller can fold its own aggregates into the write with
``DataFrame.observe`` (pregel's superstep barrier does).

Checkpoint read-back also truncates lineage growth: the returned
DataFrames are fresh parquet scans with single-node plans, replacing an
ever-growing iterative plan (SURVEY.md §4 custom-work item 1).
"""

from __future__ import annotations

import json
import re
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MARKER = "_SUCCESS_OLIVE"

_LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("superstep", T.IntegerType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("rows", T.LongType(), False),
        T.StructField("bytes", T.LongType(), False),
        T.StructField("ms", T.DoubleType(), False),
    ]
)


class CheckpointStore:
    def __init__(self, spark: SparkSession, root: str, run_id: str = "run0"):
        self.spark = spark
        self.root = root.rstrip("/")
        self.run_id = run_id
        self.base = f"{self.root}/{run_id}"
        self._jvm = spark._jvm
        self._jconf = spark._jsc.hadoopConfiguration()
        self._mkdirs(self.base)

    # ---- Hadoop FileSystem helpers (scheme-agnostic) ---------------------
    def _hpath(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def _fs(self, p: str):
        return self._hpath(p).getFileSystem(self._jconf)

    def _mkdirs(self, p: str) -> None:
        self._fs(p).mkdirs(self._hpath(p))

    def _exists(self, p: str) -> bool:
        return bool(self._fs(p).exists(self._hpath(p)))

    def _write_text(self, p: str, text: str) -> None:
        out = self._fs(p).create(self._hpath(p), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def _list_names(self, p: str) -> list[str]:
        fs = self._fs(p)
        if not fs.exists(self._hpath(p)):
            return []
        return [st.getPath().getName() for st in fs.listStatus(self._hpath(p))]

    # ----------------------------------------------------------------------
    def _step_dir(self, superstep: int) -> str:
        return f"{self.base}/superstep={superstep}"

    def checkpoint(self, superstep: int, state: DataFrame) -> DataFrame:
        """Write the state snapshot, return a fresh scan of it.

        The write is the only Spark job: per-written-partition lineage
        rows — the Spark analogue of the reference's per-partition
        comp/comm profiling (olive.h:131-150) — come from the files'
        parquet footers and lengths, and the scan reuses ``state``'s
        schema instead of inferring it. Aggregates the caller attached
        with ``state.observe(...)`` are evaluated by that one write.
        """
        d = self._step_dir(superstep)
        t0 = time.monotonic()
        state.write.mode("overwrite").parquet(f"{d}/state")
        ms = (time.monotonic() - t0) * 1000.0

        self._write_lineage(superstep, ms)
        # commit marker LAST: resume only ever sees complete snapshots
        self._write_text(
            f"{d}/{MARKER}", json.dumps({"superstep": superstep, "ms": ms})
        )
        return self.spark.read.schema(state.schema).parquet(f"{d}/state")

    def _write_lineage(self, superstep: int, ms: float) -> None:
        """One JSON line per WRITTEN partition file — rows from the
        file's parquet footer, bytes from its length on the target
        filesystem — in one object per superstep (append-free)."""
        parquet = self._jvm.org.apache.parquet.hadoop
        state_dir = f"{self._step_dir(superstep)}/state"
        lines = []
        for st in self._fs(state_dir).listStatus(self._hpath(state_dir)):
            m = re.match(r"part-(\d+)", st.getPath().getName())
            if not (st.isFile() and m):
                continue
            reader = parquet.ParquetFileReader.open(
                parquet.util.HadoopInputFile.fromStatus(st, self._jconf)
            )
            try:
                rows = int(reader.getRecordCount())
            finally:
                reader.close()
            record = {
                "run_id": self.run_id,
                "superstep": superstep,
                "partition_id": int(m.group(1)),
                "rows": rows,
                "bytes": int(st.getLen()),
                "ms": ms,
            }
            lines.append(json.dumps(record) + "\n")
        self._write_text(f"{self.base}/lineage/{superstep:06d}.json", "".join(lines))

    def log_superstep(self, metrics: dict) -> None:
        """Record driver-side superstep metrics (active count, wall ms)
        as one object per superstep — append-free, object-store-safe."""
        self._mkdirs(f"{self.base}/supersteps")
        k = int(metrics.get("superstep", 0))
        self._write_text(
            f"{self.base}/supersteps/{k:06d}.json", json.dumps(metrics) + "\n"
        )

    # ----------------------------------------------------------------------
    def latest_superstep(self) -> int | None:
        """Highest superstep with a commit marker, or None."""
        best = None
        for entry in self._list_names(self.base):
            if entry.startswith("superstep="):
                k = int(entry.split("=", 1)[1])
                if self._exists(f"{self.base}/{entry}/{MARKER}"):
                    best = k if best is None else max(best, k)
        return best

    def load(self, superstep: int) -> DataFrame:
        d = self._step_dir(superstep)
        if not self._exists(f"{d}/{MARKER}"):
            raise FileNotFoundError(f"no committed checkpoint at superstep {superstep}")
        return self.spark.read.parquet(f"{d}/state")

    def superstep_metrics(self) -> list[dict]:
        """All driver-side superstep metric records, ordered."""
        out = []
        for name in sorted(self._list_names(f"{self.base}/supersteps")):
            if not name.endswith(".json"):
                continue
            fs = self._fs(self.base)
            stream = fs.open(self._hpath(f"{self.base}/supersteps/{name}"))
            try:
                text = self._jvm.org.apache.commons.io.IOUtils.toString(
                    stream, "UTF-8"
                )
            finally:
                stream.close()
            out.append(json.loads(text))
        return out

    def lineage(self) -> DataFrame:
        return self.spark.read.schema(_LINEAGE_SCHEMA).json(f"{self.base}/lineage")
