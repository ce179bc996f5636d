"""Polling monitor (T8) + heartbeat (T9).

The reference's monitor loop polls check_batch_status every `interval`
seconds until `timeout` (verify_replication.py:148-167, defaults 300s/10s);
Debezium heartbeats advance the frontier on idle tables
(postgres.json:439-455).
"""

from __future__ import annotations

import logging
import time
from typing import Callable

from pyspark.sql import functions as F

logger = logging.getLogger(__name__)


def poll_until(
    check: Callable[[], bool],
    timeout_s: float = 300.0,
    interval_s: float = 10.0,
    clock: Callable[[], float] = time.monotonic,
    sleep: Callable[[float], None] = time.sleep,
) -> bool:
    """Poll `check` until it returns True or timeout (monitor loop analog).

    clock/sleep injectable for deterministic tests."""
    deadline = clock() + timeout_s
    while True:
        if check():
            return True
        if clock() >= deadline:
            return False
        sleep(interval_s)


def wait_replication_complete(
    spark,
    status_fn: Callable[[], "object"],
    batch_id: int,
    timeout_s: float = 300.0,
    interval_s: float = 10.0,
    **poll_kw,
) -> bool:
    """verify_replication.py:72-97 analog: re-evaluate the status query per
    poll, complete when the batch row reports replication_complete."""

    def check() -> bool:
        rows = (
            status_fn()
            .filter(F.col("latest_batch_id") == batch_id)
            .select("replication_complete")
            .collect()
        )
        return bool(rows) and bool(rows[0][0])

    return poll_until(check, timeout_s, interval_s, **poll_kw)


def heartbeat(spark, frontier_path: str) -> None:
    """Advance-on-idle: re-append the current max frontier row so downstream
    freshness checks see progress even with zero new events (T9).

    Append-only + max() read semantics make this a no-op for the frontier
    VALUE while refreshing its recency.

    A missing frontier (no batch applied yet) is a normal no-op; any OTHER
    read failure is logged before continuing — a silently-swallowed
    misconfigured path would look exactly like a healthy idle pipeline to
    every downstream freshness check (ADVICE r3)."""
    from pyspark.errors import AnalysisException

    def _is_path_missing(e: Exception) -> bool:
        # typed check first (stable across Spark versions), message substring
        # only as a last resort for non-AnalysisException wrappers
        if isinstance(e, AnalysisException):
            cls = e.getCondition()
            if cls is not None:
                return cls == "PATH_NOT_FOUND"
        return "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e)

    try:
        f = spark.read.parquet(frontier_path)
    except Exception as e:
        if not _is_path_missing(e):
            logger.warning(
                "heartbeat: frontier read failed at %s: %s", frontier_path, e
            )
        return
    f.agg(
        F.max("applied_lsn_long").alias("applied_lsn_long"),
        F.lit(0).cast("long").alias("n_events"),
        F.max("micro_batch_id").alias("micro_batch_id"),
    ).write.mode("append").parquet(frontier_path)


def fingerprint_check(
    src_fn: Callable[[], "object"],
    tgt_fn: Callable[[], "object"],
    key_cols: list,
    n_buckets: int = 1024,
    hash_cols: list | None = None,
    bucket_of=None,
) -> list[int]:
    """One O(buckets) divergence check: returns the mismatched bucket ids.

    The live-pipeline form of ``operators.recon.fingerprint_diff`` — each
    side re-reads through its callable (a fresh ``spark.read`` picks up
    files the apply stream committed since the last poll), reduces to one
    (count, checksum) row per key-hash bucket, and only the flagged bucket
    ids cross to the driver (bounded by n_buckets — ints, never rows).
    An empty return means every bucket is PROVEN divergence-free up to
    checksum collision (~2^-32 per bucket)."""
    from ..operators.recon import fingerprint_diff

    summary = fingerprint_diff(
        src_fn(),
        tgt_fn(),
        key_cols,
        n_buckets=n_buckets,
        hash_cols=hash_cols,
        bucket_of=bucket_of,
    )
    return sorted(
        r["bucket"]
        for r in summary.filter(~F.col("bucket_match")).collect()
    )


def wait_fingerprint_match(
    src_fn: Callable[[], "object"],
    tgt_fn: Callable[[], "object"],
    key_cols: list,
    n_buckets: int = 1024,
    hash_cols: list | None = None,
    bucket_of=None,
    timeout_s: float = 300.0,
    interval_s: float = 10.0,
    **poll_kw,
) -> tuple[bool, list[int]]:
    """Poll the bucket-fingerprint check until the sides converge or
    timeout — the reference's verify loop (verify_replication.py:148-167
    polls count + full row compare per interval) upgraded to the
    O(buckets) fast path: per poll, network cost is independent of table
    size/width, and a divergence names the exact buckets to drill into
    (``operators.recon.fingerprint_drilldown``).

    Returns (converged, last_mismatched_buckets) — on timeout the second
    element pinpoints where the pipeline still diverges."""
    last_bad: list[int] = []

    def check() -> bool:
        nonlocal last_bad
        last_bad = fingerprint_check(
            src_fn, tgt_fn, key_cols,
            n_buckets=n_buckets, hash_cols=hash_cols, bucket_of=bucket_of,
        )
        return not last_bad

    ok = poll_until(check, timeout_s, interval_s, **poll_kw)
    return ok, last_bad
