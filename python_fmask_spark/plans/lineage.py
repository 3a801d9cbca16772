"""Per-stage lineage + metrics and checkpoint resume (north rule).

Every pipeline stage writes its output to a stage table (parquet here;
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


def classify_checkpointed(spark: SparkSession, table: str, workdir: str,
                          run_id: str = "run1") -> DataFrame:
    """Checkpoint-resumable classify with the SAME plan shape as
    pipeline.classify: pass 1, the slim bit-packed pixel frame, the
    per-cell dim frame, and the identity/digest dim each materialize as
    fingerprinted stage tables with lineage; the cogrouped scene kernel
    runs over the staged leaves and a restart skips completed stages."""
    from .. import pipeline
    from ..operators.scene import (DIM_COLS, PX_EXCHANGE_SQL,
                                   SCENE_OUT_SCHEMA_SLIM,
                                   scene_cogroup_kernel)
    from ..operators.scene import FmaskParams

    runner = StageRunner(spark, workdir, run_id)
    fp = f"{table}:v2-slim"

    view = pipeline.materialize_pass1(spark, table, runner=runner)

    px = runner.run("px", fp, lambda: spark.sql(
        pipeline.tail_sql_from_pass1(
            view, "pass3", f"SELECT {PX_EXCHANGE_SQL} FROM pass3")))
    ang = ", ".join(f"first({k}) AS {k}" for k in DIM_COLS[3:])
    dims = runner.run("dims", fp, lambda: spark.sql(
        pipeline.tail_sql_from_pass1(
            view, "thresholds",
            f"""SELECT t.cell_id,
                  cast(t.tlow as double) AS g_tlow,
                  cast(t.thigh as double) AS g_thigh,
                  t.b4_17 AS g_b4_17,
                  a.sun_az, a.sun_zen, a.sat_az, a.sat_zen
                FROM thresholds t
                JOIN (SELECT cell_id, {ang}
                      FROM pass1 GROUP BY cell_id) a
                  ON a.cell_id = t.cell_id""")))
    ident = runner.run("ident", fp, lambda: spark.sql(
        f"""SELECT cell_id, r, c, url, sha2(text, 256) AS text_sha256
            FROM {view}"""))

    def build_final() -> DataFrame:
        out = (px.groupBy("cell_id")
               .cogroup(dims.groupBy("cell_id"))
               .applyInPandas(scene_cogroup_kernel(FmaskParams()),
                              schema=SCENE_OUT_SCHEMA_SLIM))
        return (out.join(ident, ["cell_id", "r", "c"])
                .select("url", "cell_id", "r", "c", "fmask_class",
                        "cloud_id", "cloud_height_du",
                        "cloud_base_temp_c", "text_sha256"))

    return runner.run("final_class", fp + ":px", build_final)
