"""Key-routed point lookup over a manifest target (read_keys): correct
rows, O(touched buckets) IO, composite keys, version pinning, manifests
without stamps, and absent keys."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from postgres_cdc_reconciliation_spark.operators.apply import bucket_expr
from postgres_cdc_reconciliation_spark.operators.manifest_target import (
    MANIFEST_DIR,
    commit_delta,
    read_keys,
    read_snapshot,
)

N_BUCKETS = 8


def _commit_range(spark, root, n=200, bump=0.0):
    df = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 2 + F.lit(bump)).alias("v")
    )
    return commit_delta(df, root, ["k"], list(range(N_BUCKETS)), N_BUCKETS)


def test_lookup_returns_exactly_requested_rows(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pl"))
    _commit_range(spark, root)
    got = {r["k"]: r["v"] for r in read_keys(spark, root, ["k"], [3, 77, 150]).collect()}
    assert got == {3: 6.0, 77: 154.0, 150: 300.0}


def test_lookup_reads_only_routed_buckets(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pl"))
    _commit_range(spark, root)
    keys = [5]
    df = read_keys(spark, root, ["k"], keys)
    full = read_snapshot(spark, root)
    # the single key routes to exactly one bucket dir
    wanted = spark.createDataFrame([(5,)], ["k"]).select(
        bucket_expr(["k"], N_BUCKETS).alias("b")
    ).first()["b"]
    touched = {f for f in df.inputFiles()}
    assert touched, "lookup must read at least the routed bucket"
    assert all(f"_bucket={wanted}" in f for f in touched)
    assert len(touched) < len(full.inputFiles())


def test_absent_keys_yield_no_rows(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pl"))
    _commit_range(spark, root, n=50)
    assert read_keys(spark, root, ["k"], [999, 12345]).count() == 0


def test_composite_key_lookup(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pl"))
    df = spark.createDataFrame(
        [(1, "a", 10.0), (1, "b", 11.0), (2, "a", 20.0), (2, "b", 21.0)],
        "k1 long, k2 string, v double",
    )
    commit_delta(df, root, ["k1", "k2"], list(range(N_BUCKETS)), N_BUCKETS)
    got = {
        (r["k1"], r["k2"]): r["v"]
        for r in read_keys(
            spark, root, ["k1", "k2"], [(1, "b"), (2, "a"), (9, "z")]
        ).collect()
    }
    assert got == {(1, "b"): 11.0, (2, "a"): 20.0}


def test_version_pin_reads_old_values(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pl"))
    v0 = _commit_range(spark, root, n=40)
    v1 = _commit_range(spark, root, n=40, bump=1000.0)
    assert read_keys(spark, root, ["k"], [7], version=v0).first()["v"] == 14.0
    assert read_keys(spark, root, ["k"], [7], version=v1).first()["v"] == 1014.0
    assert read_keys(spark, root, ["k"], [7]).first()["v"] == 1014.0


def test_empty_keys_rejected(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pl"))
    _commit_range(spark, root, n=10)
    with pytest.raises(ValueError, match="non-empty"):
        read_keys(spark, root, ["k"], [])


def test_arity_mismatch_rejected(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pl"))
    _commit_range(spark, root, n=10)
    with pytest.raises(ValueError, match="value"):
        read_keys(spark, root, ["k"], [(1, 2)])


def test_legacy_manifest_without_stamp_fails_loud(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("pl"))
    _commit_range(spark, root, n=10)
    # strip the n_buckets stamp, simulating a pre-stamp manifest
    mpath = f"{root}/{MANIFEST_DIR}/v0.json"
    doc = json.load(open(mpath))
    del doc["n_buckets"]
    with open(mpath, "w") as f:
        json.dump(doc, f)
    # the direct rewrite invalidates Hadoop LocalFS's checksum sidecar
    import os

    crc = f"{root}/{MANIFEST_DIR}/.v0.json.crc"
    if os.path.exists(crc):
        os.remove(crc)
    with pytest.raises(ValueError, match="'n_buckets' stamp"):
        read_keys(spark, root, ["k"], [1])


def test_all_keys_route_to_dead_buckets(spark, tmp_path_factory):
    """A target whose only live bucket is not the requested key's bucket
    returns an empty, correctly-shaped frame."""
    root = str(tmp_path_factory.mktemp("pl"))
    # commit a single row -> exactly one live bucket
    one = spark.createDataFrame([(42, 1.0)], "k long, v double")
    b42 = one.select(bucket_expr(["k"], N_BUCKETS).alias("b")).first()["b"]
    commit_delta(one, root, ["k"], [b42], N_BUCKETS)
    # find a key routed to a DIFFERENT (dead) bucket
    probe = next(
        k
        for k in range(1000)
        if spark.createDataFrame([(k,)], ["k"])
        .select(bucket_expr(["k"], N_BUCKETS).alias("b"))
        .first()["b"]
        != b42
    )
    out = read_keys(spark, root, ["k"], [probe])
    assert out.columns == ["k", "v"]
    assert out.count() == 0


def test_engine_facade_point_lookup(spark, tmp_path_factory):
    from postgres_cdc_reconciliation_spark.engine import Engine

    root = str(tmp_path_factory.mktemp("pl"))
    _commit_range(spark, root, n=30)
    got = {r["k"]: r["v"] for r in Engine(spark).point_lookup(root, ["k"], [4, 9]).collect()}
    assert got == {4: 8.0, 9: 18.0}


def test_large_key_list_switches_to_semi_join(spark, tmp_path_factory):
    """Above the IN-list threshold the lookup answers identically through
    the broadcast semi-join path (plan-size protection)."""
    root = str(tmp_path_factory.mktemp("pl"))
    _commit_range(spark, root, n=5000)
    keys = list(range(0, 5000, 2)) + [999999]  # 2501 keys > 2048 threshold
    df = read_keys(spark, root, ["k"], keys)
    plan = df._jdf.queryExecution().optimizedPlan().toString().lower()
    assert "leftsemi" in plan  # join path, not a 2501-literal IN list
    assert df.count() == 2500
    # and a small list still takes the IN path
    small = read_keys(spark, root, ["k"], [2, 4])
    assert small.count() == 2
