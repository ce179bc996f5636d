"""Key-routed point lookup over a manifest target (read_keys): correct
rows, O(touched buckets) IO, composite keys, version pinning, manifests
without stamps, absent keys, routing by the stored key type, reads with
the stamped schema, and the lookup's Spark job count."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from postgres_cdc_reconciliation_spark.operators.apply import bucket_expr
from postgres_cdc_reconciliation_spark.operators.manifest_target import (
    MANIFEST_DIR,
    _bucket_path,
    commit_delta,
    delete_keys,
    read_buckets,
    read_keys,
    read_manifest,
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


def test_keys_outside_the_stamped_key_schema_rejected(spark, tmp_path_factory):
    """Keys are typed from the target's key columns, so a value of another
    type, or a key column the target lacks, fails loud instead of routing
    to an arbitrary bucket."""
    root = str(tmp_path_factory.mktemp("pl"))
    _commit_range(spark, root, n=10)
    for bad in ("abc", 1.5):  # 1.5 must not truncate to key 1
        with pytest.raises(ValueError, match="key types struct<k:bigint>"):
            read_keys(spark, root, ["k"], [bad])
    with pytest.raises(ValueError, match="not in the target's schema"):
        delete_keys(spark, root, ["nope"], [1])


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


@pytest.mark.parametrize(
    "ddl, key_cols, key_of",
    [
        ("k int, v double", ["k"], lambda i: i),
        ("k long, v double", ["k"], lambda i: i),
        ("k string, v double", ["k"], lambda i: f"key-{i}"),
        ("k1 long, k2 string, v double", ["k1", "k2"], lambda i: (i, f"s{i % 7}")),
    ],
    ids=["int", "long", "string", "long_string"],
)
def test_keys_route_as_the_stored_key_type(spark, tmp_path_factory, ddl, key_cols, key_of):
    """Python keys hash as the target's key-column type, not as the type
    Python values would infer to (an int typed as long hashes to another
    bucket), for both the lookup and the delete."""
    root = str(tmp_path_factory.mktemp("pl"))

    def as_tuple(k):
        return k if isinstance(k, tuple) else (k,)

    rows = [(*as_tuple(key_of(i)), float(i)) for i in range(200)]
    commit_delta(
        spark.createDataFrame(rows, ddl), root, key_cols, list(range(N_BUCKETS)), N_BUCKETS
    )
    wanted = [key_of(i) for i in range(0, 200, 10)]
    got = read_keys(spark, root, key_cols, wanted).collect()
    assert sorted(tuple(r[c] for c in key_cols) for r in got) == sorted(
        as_tuple(k) for k in wanted
    )

    v0 = read_manifest(spark, root)[0]
    gone = [key_of(10), key_of(20), key_of(30)]
    assert delete_keys(spark, root, key_cols, gone) == v0 + 1
    left = {tuple(r[c] for c in key_cols) for r in read_snapshot(spark, root).collect()}
    assert left == {as_tuple(key_of(i)) for i in range(200)} - {as_tuple(k) for k in gone}


def _typed_target(spark, root):
    """One commit of timestamp, decimal, int and string columns, with
    NULLs in every non-key column."""
    from datetime import datetime
    from decimal import Decimal

    rows = [
        (
            i,
            None if i % 5 == 0 else datetime(2024, 1, 1 + i % 28, i % 24),
            None if i % 7 == 0 else Decimal(i) / 4,
            None if i % 3 == 0 else f"s{i}",
        )
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "k int not null, ts timestamp, d decimal(10,2), s string")
    commit_delta(df, root, ["k"], list(range(N_BUCKETS)), N_BUCKETS)


def _evolved_target(spark, root):
    """The typed target after an additive schema-evolution commit, which
    rewrites every live bucket (the apply path's evolution rule)."""
    _typed_target(spark, root)
    _, mapping = read_manifest(spark, root)
    evolved = read_snapshot(spark, root).withColumn(
        "extra", F.when(F.col("k") % 2 == 0, F.col("k").cast("long"))
    )
    commit_delta(evolved, root, ["k"], sorted(mapping), N_BUCKETS)


@pytest.mark.parametrize("make_target", [_typed_target, _evolved_target], ids=["typed", "evolved"])
def test_stamped_schema_reads_match_inferred_reads(spark, tmp_path_factory, make_target):
    """read_snapshot, read_buckets and read_keys take their schema from
    the manifest stamp; schema (nullability included) and rows equal an
    inferred read of the same files."""
    root = str(tmp_path_factory.mktemp("pl"))
    make_target(spark, root)
    _, mapping = read_manifest(spark, root)

    def inferred(buckets):
        return spark.read.parquet(*[_bucket_path(root, b, mapping[b]) for b in buckets])

    some = sorted(mapping)[:3]
    keys = list(range(0, 100, 9))
    cases = [
        (read_snapshot(spark, root), inferred(sorted(mapping))),
        (read_buckets(spark, root, some), inferred(some)),
        (
            read_keys(spark, root, ["k"], keys),
            inferred(sorted(mapping)).filter(F.col("k").isin(keys)),
        ),
    ]
    for got, want in cases:
        assert got.schema == want.schema
        assert sorted(got.collect()) == sorted(want.collect())
        assert got.count() > 0


def test_point_lookup_runs_one_spark_job(spark, tmp_path_factory):
    """Building a lookup runs no Spark job (key routing on the driver, no
    schema inference); collecting it runs exactly one, the scan."""
    root = str(tmp_path_factory.mktemp("pl"))
    _commit_range(spark, root)
    sc = spark.sparkContext

    def jobs_of(fn):
        group = f"pl-jobs-{root}-{fn.__name__}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    def build():
        return read_keys(spark, root, ["k"], [5])

    df, built = jobs_of(build)
    rows, ran = jobs_of(df.collect)
    assert [r["k"] for r in rows] == [5]
    assert (built, ran) == (0, 1)
