"""Per-stage lineage + metrics and checkpoint resume (north rule).

``barrier`` is the one materialization point of the classify stages
(pipeline's two leaves, scene_dist's ``dist_*`` stages): a
localCheckpoint, or with a StageRunner a fingerprinted stage table.
``output_cut`` is the one cut of a classify entry point's result, so a
job's sink and counts share one run of the plan.

Every StageRunner stage writes its output to a stage table (parquet here;
Iceberg in production — same write API) together with a row in the
``_lineage`` table:

  (run_id, stage, input_fingerprint, rows_out, n_partitions, wall_ms,
   written_at_ms, per-file row counts)

Resume: a stage whose (stage, input_fingerprint) already has a SUCCESS
marker is read back instead of recomputed — the reference's
keepIntermediates temp-file pattern (fmask/fmask.py:206-216) made
restart-safe.

A stage barrier costs only its own write. The row counts come from the
footers of the parquet files the write produced (one file per write
task that had rows, or a single empty file when none had), the lineage
row is a parquet file written by pyarrow, and the stage is read back
with the schema Spark stored in those footers — no re-scan, no
schema-inference job, no Python-RDD job (the stats-while-writing idea
of Delta Lake, VLDB 2020). ``n_partitions`` therefore counts written
files, and ``max_partition_rows``/``median_partition_rows`` are per
written file: write-side skew evidence, which a read-back would hide by
merging small files into fewer partitions.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

LINEAGE_DIR = "_lineage"
# the footer key under which Spark stores a written frame's schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
# column order and types of a Spark-inferred one-row dict frame, so
# lineage files written before the pyarrow writer read back unchanged
LINEAGE_SCHEMA = pa.schema([
    ("input_fingerprint", pa.string()),
    ("max_partition_rows", pa.int64()),
    ("median_partition_rows", pa.int64()),
    ("n_partitions", pa.int64()),
    ("rows_out", pa.int64()),
    ("run_id", pa.string()),
    ("stage", pa.string()),
    ("wall_ms", pa.int64()),
    ("written_at_ms", pa.int64()),
])
_LINEAGE_DDL = ", ".join(
    f"{f.name} {'string' if f.type == pa.string() else 'bigint'}"
    for f in LINEAGE_SCHEMA)


def stage_fingerprint(spark: SparkSession, logic: str) -> str:
    """Fingerprint for StageRunner stage tables: sha256 over the logic
    identity (Scene.key() / rendered SQL / params repr) PLUS the
    session's registered input identity (sources.registered_input_identity
    — sf_dir + per-file mtime/size). Resuming in the same workdir after
    either the logic or the input data changed re-runs the stage instead
    of silently reusing a stale table."""
    from ..sources import registered_input_identity
    ident = registered_input_identity(spark)
    return hashlib.sha256(f"{ident}||{logic}".encode()).hexdigest()[:16]


def barrier(spark: SparkSession, runner: "StageRunner | None", stage: str,
            logic: str, build: "callable[[], DataFrame]") -> DataFrame:
    """``build()`` as a fresh leaf: the runner's stage ``stage``
    (resumed while ``logic`` and the input are unchanged), else a
    localCheckpoint — the reference's keepIntermediates temp raster
    (fmask/fmask.py:206-216)."""
    if runner is None:
        return build().localCheckpoint()
    return runner.run(stage, stage_fingerprint(spark, logic), build)


def output_cut(df: DataFrame) -> DataFrame:
    """A classify entry point's result, cut once: a lazy
    localCheckpoint. Its first action (the sink's write, or the counts
    when there is no sink) computes and caches the rows; every later
    action reads the cached blocks instead of re-planning the classify
    plan and re-running its kernels. Under AQE the shuffle map stages
    below the cut run here; only the result stage waits for that first
    action."""
    return df.localCheckpoint(eager=False)


class StageRunner:
    def __init__(self, spark: SparkSession, workdir: str, run_id: str):
        self.spark = spark
        self.workdir = workdir
        self.run_id = run_id
        os.makedirs(os.path.join(workdir, LINEAGE_DIR), exist_ok=True)

    def _stage_path(self, stage: str) -> str:
        return os.path.join(self.workdir, f"stage_{stage}")

    def _marker_path(self, stage: str) -> str:
        return os.path.join(self.workdir, f"stage_{stage}._fingerprint.json")

    def is_done(self, stage: str, input_fingerprint: str) -> bool:
        mp = self._marker_path(stage)
        if not os.path.exists(mp):
            return False
        with open(mp) as f:
            meta = json.load(f)
        return meta.get("input_fingerprint") == input_fingerprint

    def _read_back(self, path: str) -> tuple[DataFrame, list[int]]:
        """The stage table under the schema Spark wrote into its
        footers (no inference job), plus the row count of every file."""
        metas = [pq.read_metadata(f)
                 for f in sorted(glob.glob(os.path.join(path, "part-*")))]
        if not metas:
            raise FileNotFoundError(f"stage table {path} has no data files")
        schema = StructType.fromJson(
            json.loads(metas[0].metadata[_SPARK_SCHEMA_KEY]))
        return (self.spark.read.schema(schema).parquet(path),
                [m.num_rows for m in metas])

    def run(self, stage: str, input_fingerprint: str,
            build: "callable[[], DataFrame]") -> DataFrame:
        """Build-or-resume a stage; always returns the stage DataFrame
        (read back from the stage table, so downstream plans cut here —
        the materialization barrier that keeps codegen units small)."""
        path = self._stage_path(stage)
        if self.is_done(stage, input_fingerprint):
            return self._read_back(path)[0]

        t0 = time.perf_counter()
        build().write.mode("overwrite").parquet(path)
        wall_ms = int((time.perf_counter() - t0) * 1000)

        out, counts = self._read_back(path)
        counts.sort()
        lineage_row = {
            "run_id": self.run_id,
            "stage": stage,
            "input_fingerprint": input_fingerprint,
            "rows_out": sum(counts),
            "n_partitions": len(counts),
            "max_partition_rows": counts[-1],
            "median_partition_rows": counts[len(counts) // 2],
            "wall_ms": wall_ms,
            "written_at_ms": int(time.time() * 1000),
        }
        pq.write_table(
            pa.Table.from_pylist([lineage_row], schema=LINEAGE_SCHEMA),
            os.path.join(self.workdir, LINEAGE_DIR,
                         f"part-{uuid.uuid4().hex}.parquet"))
        with open(self._marker_path(stage), "w") as f:
            json.dump({"input_fingerprint": input_fingerprint,
                       **lineage_row}, f)
        return out

    def lineage(self) -> DataFrame:
        return self.spark.read.schema(_LINEAGE_DDL).parquet(
            os.path.join(self.workdir, LINEAGE_DIR))

