"""Warehouse sink + export (SURVEY.md §2A S10/S11).

The reference loads its aggregate into DuckDB (``duckdb_api.py:40-47``,
after a defensive copytree — anti-pattern §4.2-3) and exports via pandas
(``duckdb2csv.py:5-18``).  The engine's warehouse is the Spark SQL catalog:
Parquet-backed managed tables with idempotent dynamic-partition overwrite
(fixes the append-duplication anti-pattern §4.2-5).  DuckDB survives only
as the test oracle.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession


def save_as_table(
    df: DataFrame,
    table: str,
    partition_by: Sequence[str] = (),
    mode: str = "overwrite",
) -> None:
    """Idempotent warehouse load.

    With ``partition_by``, re-running a month's load replaces exactly
    that month's partitions and leaves the other months in place —
    reruns converge instead of duplicating (the reference's append bug,
    ``process_data.py:125``).  ``saveAsTable`` in overwrite mode
    replaces the whole table, so an existing table with the same
    columns and partitioning is overwritten by position through
    ``INSERT OVERWRITE ... WITH ('partitionOverwriteMode' = 'dynamic')``
    — the SQL form of ``insertInto``, which, unlike
    ``DataFrameWriter.insertInto``, honours the per-write option.  The
    session's ``partitionOverwriteMode`` is never changed."""
    spark = df.sparkSession
    if partition_by and mode == "overwrite" and spark.catalog.tableExists(
        table
    ):
        existing = spark.catalog.listColumns(table)
        cols = [c.name for c in existing]
        parts = [c.name for c in existing if c.isPartition]
        if parts == list(partition_by) and set(cols) == set(df.columns):
            spark.sql(
                f"INSERT OVERWRITE {table} "
                "WITH ('partitionOverwriteMode' = 'dynamic') "
                "SELECT * FROM {src}",
                src=df.select(*cols),
            )
            return
    writer = df.write.format("parquet").mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.saveAsTable(table)


def save_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 32,
    sort_cols: Sequence[str] = (),
    mode: str = "overwrite",
) -> None:
    """Bucketed (hash-clustered) warehouse table: the shuffle you pay
    ONCE at write time instead of on every join/aggregation.

    Two tables bucketed by the same key into the same bucket count
    join with NO Exchange on either side — at 100 TB that deletes the
    dominant cost of every fact-to-fact join on the bucket key (see
    tests/test_runner_lake.py for the plan-level proof).  ``sort_cols``
    additionally pre-sorts within buckets, removing the join's Sort.
    Only metastore tables can be bucketed (path-written parquet loses
    the bucket spec) — this is the reason save_bucketed targets the
    catalog, not a path."""
    writer = df.write.format("parquet").mode(mode).bucketBy(
        n_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def export_csv(
    spark: SparkSession, table: str, path: str, single_file: bool = True
) -> None:
    """Warehouse table → CSV for dashboards (S11 parity).

    ``coalesce(1)`` only when a single file is demanded (dashboard-sized
    outputs); large exports keep natural parallelism."""
    df = spark.table(table)
    if single_file:
        df = df.coalesce(1)
    df.write.mode("overwrite").option("header", "true").csv(path)
