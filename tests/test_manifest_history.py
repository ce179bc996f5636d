"""describe_history: commit audit stamps (operation kind, touched-bucket
count, live buckets, timestamps), vacuum interaction."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from postgres_cdc_reconciliation_spark.operators.manifest_target import (
    commit_delta,
    compact,
    describe_history,
    vacuum,
)

N_BUCKETS = 4


def _df(spark, n=40, bump=0.0):
    return spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") + F.lit(bump)).alias("v")
    )


def test_history_rows_and_stamps(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("hist"))
    commit_delta(_df(spark), root, ["k"], list(range(N_BUCKETS)), N_BUCKETS)
    # delta touching a subset: complete new content of bucket 0 and 1 only
    from postgres_cdc_reconciliation_spark.operators.apply import bucket_expr

    sub = _df(spark, bump=100.0).filter(
        bucket_expr(["k"], N_BUCKETS).isin([0, 1])
    )
    commit_delta(sub, root, ["k"], [0, 1], N_BUCKETS)
    compact(spark, root, ["k"], N_BUCKETS)

    h = describe_history(spark, root).orderBy("version").collect()
    assert [r["version"] for r in h] == [0, 1, 2]
    assert [r["operation"] for r in h] == ["delta", "delta", "full"]
    assert h[0]["buckets_rewritten"] == N_BUCKETS
    assert h[1]["buckets_rewritten"] == 2
    assert h[2]["buckets_rewritten"] == N_BUCKETS  # full rewrite
    assert all(r["n_buckets"] == N_BUCKETS for r in h)
    assert all(r["live_buckets"] == N_BUCKETS for r in h)
    stamps = [r["committed_at"] for r in h]
    assert all(s is not None for s in stamps)
    assert stamps == sorted(stamps)  # same writer, monotone wall clock


def test_history_shrinks_with_vacuum(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("hist"))
    for bump in (0.0, 1.0, 2.0, 3.0):
        commit_delta(
            _df(spark, bump=bump), root, ["k"], list(range(N_BUCKETS)), N_BUCKETS
        )
    assert describe_history(spark, root).count() == 4
    vacuum(spark, root, keep_manifests=2, min_attempt_age_seconds=0)
    got = describe_history(spark, root).orderBy("version").collect()
    assert [r["version"] for r in got] == [2, 3]


def test_history_empty_target_fails_loud(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("hist"))
    with pytest.raises(FileNotFoundError):
        describe_history(spark, root)


def test_engine_facade_target_history(spark, tmp_path_factory):
    from postgres_cdc_reconciliation_spark.engine import Engine

    root = str(tmp_path_factory.mktemp("hist"))
    commit_delta(_df(spark), root, ["k"], list(range(N_BUCKETS)), N_BUCKETS)
    assert Engine(spark).target_history(root).count() == 1
