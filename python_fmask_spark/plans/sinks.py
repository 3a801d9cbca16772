"""Mask sinks: the raster sink (S3) and thematic metadata sink (S4).

The reference writes a single-band thematic raster and attaches a GDAL
color table + raster attribute table of class names
(fmask/fmask.py:1338-1351). The Spark-native equivalents:

* S3 — the mask table itself, written through the DataFrameWriterV2
  (``df.writeTo``) surface, partitioned by cell_id. Format is Iceberg
  when the runtime has it (the production target: snapshots +
  table-properties survive engine restarts), falling back to the
  session catalog's parquet provider in this sandbox — the API surface
  (writeTo / tableProperty / partitionedBy / createOrReplace) is
  identical either way. A provider check (provider_resolves) comes
  first, so a session without Iceberg never plans a doomed write.
* S4 — the color table + class-name RAT as (a) TBLPROPERTIES on the
  mask table (``fmask.color_table`` / ``fmask.class_names`` JSON) and
  (b) a first-class ``<name>_rat`` dimension table joinable onto the
  mask (class_value, class_name, red, green, blue, alpha).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

# GDAL color table rows (class, R, G, B, A) — fmask/fmask.py:1338-1342
COLOR_TABLE = [
    (2, 255, 0, 255, 255),     # cloud
    (3, 255, 255, 0, 255),     # cloud shadow
    (4, 85, 255, 255, 255),    # snow
    (5, 0, 0, 255, 255),       # water
]

# RAT "Classification" column — fmask/fmask.py:1346-1347
CLASS_NAMES = ["Null", "Valid", "Cloud", "Cloud Shadow", "Snow", "Water"]


def class_rat_df(spark: SparkSession) -> DataFrame:
    """The raster attribute table as a dimension table: one row per
    class value, with the reference's class names and color entries
    (colorless classes carry NULL channels, like a GDAL CT default)."""
    colors = {c: (r, g, b, a) for c, r, g, b, a in COLOR_TABLE}
    rows = []
    for value, name in enumerate(CLASS_NAMES):
        rgba = colors.get(value, ("NULL",) * 4)
        rows.append(f"({value}, '{name}', {', '.join(map(str, rgba))})")
    # a VALUES relation lives in the JVM; a Python list would run a
    # Python-worker job just to build six rows
    return spark.sql(
        f"SELECT * FROM VALUES {', '.join(rows)} "
        "AS rat(class_value, class_name, red, green, blue, alpha)")


def provider_resolves(spark: SparkSession, provider: str) -> bool:
    """Whether the session's JVM resolves the data source ``provider``
    the way Spark's own lookup does (DataSource.lookupDataSource): a
    DataSourceRegister whose shortName() it is, found by ServiceLoader
    over the context-or-Spark class loader, else a loadable class
    ``provider`` or ``provider.DefaultSource``. Spark's last step, the
    Python data-source registry, is left out: asking it starts a Python
    worker (lookup_data_sources), and Iceberg is a JVM source."""
    jvm = spark.sparkContext._jvm
    utils = jvm.org.apache.spark.util.Utils
    loader = utils.getContextOrSparkClassLoader()
    register = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.sources.DataSourceRegister", False, loader)
    found = jvm.java.util.ServiceLoader.load(register, loader).iterator()
    while found.hasNext():
        if found.next().shortName().lower() == provider.lower():
            return True
    return any(utils.classIsLoadable(c)
               for c in (provider, f"{provider}.DefaultSource"))


def write_mask(df: DataFrame, name: str) -> str:
    """Write the mask table through writeTo, partitioned by cell_id,
    with the thematic metadata attached; returns the format actually
    used ('iceberg' or the parquet fallback).

    Iceberg is tried only when provider_resolves says the session has
    it; otherwise the write goes straight to parquet, with the same
    RuntimeWarning the failed attempt gives, so a session without
    Iceberg plans (and, for a lazily cut frame, computes) the mask
    write once. A session that has it keeps the attempt and its
    is_provider_missing fallback."""
    spark = df.sparkSession
    used = "iceberg"
    props = {
        "fmask.color_table": json.dumps(COLOR_TABLE),
        "fmask.class_names": json.dumps(CLASS_NAMES),
    }

    def looks_like_managed_mask_output(path: str) -> bool:
        # Refuse to delete a directory that merely SHARES the table's
        # lowercased name (e.g. external/unmanaged data parked under the
        # warehouse): a stale managed mask table contains only Spark
        # writer artifacts — partition dirs on the partition column,
        # parquet part files, and/or a _SUCCESS marker.
        try:
            entries = os.listdir(path)
        except OSError:
            return False
        if not entries:
            return True
        for e in entries:
            ok = (e == "_SUCCESS" or e.startswith("_temporary")
                  or e.startswith("cell_id=")
                  or (e.startswith("part-") and ".parquet" in e)
                  or e.startswith("."))
            if not ok:
                return False
        return True

    def clear_stale_location(tbl: str) -> None:
        # The default session catalog is in-memory: a crashed previous
        # process leaves the managed-table DIRECTORY under the warehouse
        # while the new session's catalog has no entry, and create then
        # fails with LOCATION_ALREADY_EXISTS. Only remove the location
        # when the catalog genuinely doesn't know the table AND the
        # directory's layout is a Spark-written mask table.
        import shutil
        if "." in tbl or spark.catalog.tableExists(tbl):
            return
        wh = spark.conf.get("spark.sql.warehouse.dir", "")
        wh = wh.removeprefix("file:")
        path = os.path.join(wh, tbl.lower())
        if wh and os.path.isdir(path) \
                and looks_like_managed_mask_output(path):
            shutil.rmtree(path, ignore_errors=True)

    def replace(tbl: str, frame: DataFrame, provider: str,
                mask: bool) -> None:
        # ``mask``: the mask table, partitioned by cell_id and carrying
        # the thematic TBLPROPERTIES; otherwise the RAT dimension table
        from pyspark.sql import functions as F
        # Atomic-ish replace without RTAS (the V1 session catalog — the
        # parquet fallback — has no createOrReplace): create under a
        # staging name first, and only drop + rename once the create has
        # SUCCEEDED — a failed create leaves the previous table intact.
        # KNOWN WINDOW: between the DROP below and the RENAME there is
        # no live table under ``tbl``; a crash in that window leaves
        # the finished staging table to recover from manually. True
        # atomic swap needs a V2/Iceberg catalog (REPLACE TABLE).
        staging = f"{tbl}__staging"
        spark.sql(f"DROP TABLE IF EXISTS {staging}")
        clear_stale_location(staging)
        clear_stale_location(tbl)
        w = frame.writeTo(staging).using(provider)
        if mask:
            w = w.partitionedBy(F.col("cell_id"))
            for k, v in props.items():
                w = w.tableProperty(k, v)
        w.create()
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(f"ALTER TABLE {staging} RENAME TO {tbl}")
        if mask:
            try:
                # The V1 catalog drops the partition registry on rename;
                # recover it. Iceberg/unpartitioned providers don't need
                # (or support) MSCK — ignore.
                spark.sql(f"MSCK REPAIR TABLE {tbl}")
            except Exception:
                pass

    def is_provider_missing(e: Exception) -> bool:
        # Only the "Iceberg isn't installed in this session" error class
        # downgrades; genuine Iceberg misconfiguration (bad catalog conf,
        # permission, schema errors) propagates.
        msg = str(e).lower()
        return any(s in msg for s in (
            "failed to find data source", "cannot find catalog",
            "catalog plugin", "classnotfound", "not a valid spark sql"
            " data source", "unsupported data source type"))

    missing = None
    if provider_resolves(spark, used):
        try:
            replace(name, df, used, mask=True)
        except Exception as e:
            if not is_provider_missing(e):
                raise
            missing = e
    else:
        missing = f"no data source resolves '{used}'"
    if missing is not None:
        import warnings
        warnings.warn(
            f"write_mask: provider 'iceberg' unavailable in this session "
            f"({missing}); downgrading to the session catalog's parquet "
            f"provider", RuntimeWarning, stacklevel=2)
        used = "parquet"
        replace(name, df, used, mask=True)

    replace(f"{name}_rat", class_rat_df(spark), used, mask=False)
    return used


def read_mask_metadata(spark: SparkSession, name: str) -> dict:
    """Read back the thematic metadata from TBLPROPERTIES."""
    rows = spark.sql(f"SHOW TBLPROPERTIES {name}").collect()
    props = {r["key"]: r["value"] for r in rows}
    return {
        "color_table": json.loads(props["fmask.color_table"]),
        "class_names": json.loads(props["fmask.class_names"]),
    }
