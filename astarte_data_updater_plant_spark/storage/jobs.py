"""Periodic maintenance jobs — the background work Cassandra did
implicitly (tombstone GC, TTL expiry) made explicit and schedulable.

Each job is a pure batch Spark job over the storage layout written by
``streaming.sinks``: idempotent, safe to re-run, partition-parallel.
On a lakehouse (Delta/Iceberg) these become MERGE/DELETE statements
with identical semantics; on plain parquet they rewrite to a fresh
directory and swap, which is the pattern below. Inputs and outputs
are read with the tables' declared schemas (``layout.DEVICE_TABLE_SCHEMAS``):
no schema-inference job, and an input that holds no rows yet reads as
an empty table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .layout import (
    DEVICE_TABLE_SCHEMAS,
    compact_properties,
    live_view,
    select_declared,
    write_device_table,
)


def _read(spark: SparkSession, path: str, table: str) -> DataFrame:
    return spark.read.schema(DEVICE_TABLE_SCHEMAS[table]).parquet(path)


def compact_property_log(
    spark: SparkSession, log_path: str, out_path: str
) -> int:
    """Fold the append-only property upsert/tombstone log into its LWW
    state table (queries.ex:87-155 as a batch job). Returns the number
    of live rows written."""
    log = _read(spark, log_path, "property_log")
    live = select_declared(compact_properties(log), "individual_properties")
    write_device_table(
        live,
        out_path,
        order=("device_id", "interface", "path"),
        mode="overwrite",
    )
    return _read(spark, out_path, "individual_properties").count()


def vacuum_datastreams(
    spark: SparkSession, path: str, now: Column, out_path: str
) -> int:
    """Drop TTL-expired datastream rows (queries.ex:299-306,
    impl.ex:527-533): scan+filter+rewrite, partition-parallel. Returns
    rows retained."""
    live = live_view(_read(spark, path, "individual_datastreams"), now)
    write_device_table(
        select_declared(live, "individual_datastreams_vacuumed"), out_path, mode="overwrite"
    )
    return _read(spark, out_path, "individual_datastreams_vacuumed").count()


def run_maintenance(spark: SparkSession, base_dir: str, now: Column) -> dict:
    """One maintenance cycle over a sink directory tree: compact the
    property log and vacuum expired datastreams. Returns row counts."""
    stats = {}
    stats["properties_live"] = compact_property_log(
        spark, f"{base_dir}/property_log", f"{base_dir}/individual_properties"
    )
    stats["datastreams_live"] = vacuum_datastreams(
        spark,
        f"{base_dir}/individual_datastreams",
        now,
        f"{base_dir}/individual_datastreams_vacuumed",
    )
    return stats
