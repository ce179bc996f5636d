"""Completeness frontier — the engine's confirmed_flush_lsn (T5/T6/F11).

The reference reads replication progress from the slot's
confirmed_flush_lsn (check_batch_replication_status.sql:74-82) and decides
"batch complete ⟺ frontier ≥ batch completion LSN". Our engine owns that
signal: every applied micro-batch appends its max applied LSN per table to a
small frontier table; the status operators read MAX(applied_lsn) as the
frontier. This is an *event-progress* watermark (monotone high-water mark),
not Spark's lateness watermark — a plain aggregate, no custom operator.

Append-only + max() read = safe under retries (re-appending an old frontier
never moves the max backwards).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.lsn import long_to_lsn


def append_frontier(
    spark,
    frontier_path: str,
    batch_id: int,
    applied_lsn_long: int | None,
    n_events: int,
) -> None:
    """Record a micro-batch's max applied LSN and event count.

    The caller has already aggregated the batch (``apply_stream`` takes
    both numbers from its one stats pass, ``apply.drop_metrics``), so this
    writes a single driver-built row and never scans the batch. The row's
    schema is the one ``monitor.heartbeat`` appends too, so a frontier dir
    always reads as one table. (A parameterized literal SELECT, not
    ``createDataFrame``: it plans in the JVM with no Python worker.)"""
    spark.sql(
        "SELECT CAST(:lsn AS BIGINT) AS applied_lsn_long, "
        "CAST(:n AS BIGINT) AS n_events, CAST(:batch AS INT) AS micro_batch_id",
        args={"lsn": applied_lsn_long, "n": n_events, "batch": batch_id},
    ).write.mode("append").parquet(frontier_path)


def current_frontier(spark, frontier_path: str) -> DataFrame:
    """The frontier: max applied LSN across all recorded micro-batches."""
    f = spark.read.parquet(frontier_path)
    return f.agg(
        F.max("applied_lsn_long").alias("frontier_lsn_long")
    ).withColumn("frontier_lsn", long_to_lsn("frontier_lsn_long"))
