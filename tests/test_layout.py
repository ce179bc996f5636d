"""Physical-layout guarantees, asserted against the optimized plans:
bucketed join has no shuffle, partitioned scan prunes, salted join is
row-equivalent to the plain join."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from postgres_cdc_reconciliation_spark.operators.layout import (
    salted_join,
    write_bucketed,
    write_partitioned,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_bucketed_join_eliminates_shuffle(spark, sf_dir, tmp_path):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    write_bucketed(o, "orders_b", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    write_bucketed(li.withColumnRenamed("l_orderkey", "o_orderkey"),
                   "lineitem_b", ["o_orderkey"], 8, sort_cols=["o_orderkey"])

    ob = spark.table("orders_b")
    lb = spark.table("lineitem_b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = ob.join(lb, "o_orderkey").groupBy("o_orderstatus").count()
        plan = _plan(joined)
        # bucketed SMJ: no shuffle Exchange feeding the join
        n_shuffle = len(re.findall(r"Exchange hashpartitioning", plan))
        assert "SortMergeJoin" in plan
        assert n_shuffle == 0, f"expected shuffle-free bucketed join, got {n_shuffle}"
        # sanity: same result as unbucketed
        base = (
            o.join(li, o.o_orderkey == li.l_orderkey)
            .groupBy("o_orderstatus")
            .count()
        )
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, base.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_partition_pruning(spark, sf_dir, tmp_path):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "order_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year")
    write_partitioned(o, path, ["order_year"])
    scan = spark.read.parquet(path).filter(F.col("order_year") == 1997)
    plan = _plan(scan)
    assert re.search(r"PartitionFilters: \[.*order_year.*1997", plan), plan
    expected = o.filter(F.col("order_year") == 1997).count()
    assert scan.count() == expected


def test_salted_join_row_equivalent(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("k"), "o_totalprice"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_orderkey").alias("k"), "l_quantity"
    )
    plain = li.join(o, "k").count()
    salted = salted_join(li, o, "k", n_salts=4).count()
    assert salted == plain


def test_zorder_clusters_both_dimensions(spark, sf_dir, tmp_path):
    """Z-ordered files must have (on average) much narrower per-file
    min/max spans on BOTH clustered columns than a hash-shuffled layout —
    that span ratio IS the data-skipping win (row-group stats pruning)."""
    import pyarrow.parquet as pq
    import glob

    from postgres_cdc_reconciliation_spark.operators.layout import (
        write_zordered,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )

    def mean_span(path, col):
        spans, total = [], None
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index(col)
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                spans.append(st.max - st.min)
        return sum(spans) / len(spans)

    zpath = str(tmp_path / "zordered")
    rpath = str(tmp_path / "shuffled")
    write_zordered(li, zpath, ["l_orderkey", "l_partkey"], n_files=8)
    li.repartition(8).write.mode("overwrite").parquet(rpath)

    full_o = mean_span(rpath, "l_orderkey")
    full_p = mean_span(rpath, "l_partkey")
    z_o = mean_span(zpath, "l_orderkey")
    z_p = mean_span(zpath, "l_partkey")
    # both dimensions cluster (a plain sort would only win on its leading
    # column), and the min/max AREA — the 2-D data-skipping factor —
    # shrinks ~n_files-fold (measured 5.1x at 8 files; 3x floor for drift)
    assert z_o < full_o and z_p < full_p, (z_o, full_o, z_p, full_p)
    assert (full_o * full_p) > 3 * (z_o * z_p), (z_o, z_p, full_o, full_p)

    # correctness: clustering must not change query results
    zread = spark.read.parquet(zpath)
    want = li.filter(
        (F.col("l_orderkey") < 500) & (F.col("l_partkey") < 50)
    ).count()
    got = zread.filter(
        (F.col("l_orderkey") < 500) & (F.col("l_partkey") < 50)
    ).count()
    assert got == want


def test_bucket_layout_sidecar_roundtrip_and_validation(spark, tmp_path):
    """ADVICE r5: every bucketed write stamps a layout sidecar with its
    n_buckets; a later caller with a different count must fail loudly
    instead of silently mis-pruning."""
    import pytest

    from postgres_cdc_reconciliation_spark.operators.apply import (
        _LAYOUT_SIDECAR,
        _read_layout_n_buckets,
        validate_bucket_layout,
        write_bucketed_target,
    )

    df = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
    target = str(tmp_path / "t")
    write_bucketed_target(df, target, ["k"], n_buckets=8, dynamic=False)

    assert _read_layout_n_buckets(spark, target) == 8
    validate_bucket_layout(spark, target, 8)  # matching count: fine
    with pytest.raises(ValueError, match="bucket layout mismatch"):
        validate_bucket_layout(spark, target, 16)
    with pytest.raises(ValueError, match="bucket layout mismatch"):
        validate_bucket_layout(spark, target, 4)

    # the sidecar must be invisible to parquet reads
    assert spark.read.parquet(target).count() == 100

    # pre-sidecar (legacy) target: only the weaker max-dir check applies
    import os

    os.remove(os.path.join(target, _LAYOUT_SIDECAR))
    validate_bucket_layout(spark, target, 8)
    validate_bucket_layout(spark, target, 16)  # legacy: larger passes
    with pytest.raises(ValueError, match="bucket layout mismatch"):
        validate_bucket_layout(spark, target, 4)  # dirs exceed the count


def test_apply_stream_rejects_mismatched_bucket_count(spark, tmp_path):
    """The apply merge path validates its n_buckets against the target
    layout before pruning (ADVICE r5's silent-corruption contract)."""
    import json

    import pytest

    from postgres_cdc_reconciliation_spark.operators.apply import apply_stream
    from postgres_cdc_reconciliation_spark.sources.cdc import (
        parse_stream,
        read_cdc_stream,
        unwrap,
    )

    def env(i, lsn):
        return {
            "op": "r",
            "before": None,
            "after": {
                "order_id": i,
                "customer_id": i,
                "amount": f"{i}.00",
                "ts": "2026-01-01 00:00:00",
                "batch_id": 0,
            },
            "source": {
                "lsn": lsn,
                "txId": 1,
                "ts_ms": 1700000000000,
                "schema": "public",
                "table": "orders",
            },
        }

    src = tmp_path / "in"
    src.mkdir()
    with open(src / "b1.json", "w") as f:
        for i in range(1, 6):
            f.write(
                json.dumps({"key": str(i), "value": json.dumps(env(i, f"0/{i:X}"))})
                + "\n"
            )
    target = str(tmp_path / "target")

    def run(ckpt, n_buckets):
        q = (
            apply_stream(
                unwrap(parse_stream(read_cdc_stream(spark, file_path=str(src)))),
                target,
                ["order_id"],
                str(tmp_path / ckpt),
                n_buckets=n_buckets,
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run("ckpt1", 8)
    with open(src / "b2.json", "w") as f:
        f.write(
            json.dumps({"key": "1", "value": json.dumps(env(1, "0/10"))}) + "\n"
        )
    with pytest.raises(Exception, match="bucket layout mismatch"):
        run("ckpt2", 16)
    run("ckpt3", 8)  # matching count still applies cleanly


def test_dynamic_write_validates_layout_first(spark, tmp_path):
    """A dynamic (touched-buckets) write with the wrong n_buckets must fail
    BEFORE writing: otherwise it merges mis-computed _bucket dirs into the
    existing layout and re-stamps the sidecar with the wrong count,
    recording the corruption as valid. A fresh target (nothing on disk)
    defines its own layout; a static write may re-bucket freely."""
    import os

    import pytest

    from postgres_cdc_reconciliation_spark.operators.apply import (
        _read_layout_n_buckets,
        write_bucketed_target,
    )

    df = spark.range(100).selectExpr("id AS k", "id * 2 AS v")

    # fresh target: first dynamic write defines the layout
    fresh = str(tmp_path / "fresh")
    write_bucketed_target(df, fresh, ["k"], n_buckets=8, dynamic=True)
    assert _read_layout_n_buckets(spark, fresh) == 8

    # wrong count on an existing layout: refused, nothing changed
    n_dirs_before = len(
        [d for d in os.listdir(fresh) if d.startswith("_bucket=")]
    )
    with pytest.raises(ValueError, match="bucket layout mismatch"):
        write_bucketed_target(df, fresh, ["k"], n_buckets=16, dynamic=True)
    assert _read_layout_n_buckets(spark, fresh) == 8
    assert (
        len([d for d in os.listdir(fresh) if d.startswith("_bucket=")])
        == n_dirs_before
    )

    # static rewrite re-buckets legitimately and re-stamps
    write_bucketed_target(df, fresh, ["k"], n_buckets=4, dynamic=False)
    assert _read_layout_n_buckets(spark, fresh) == 4


def test_dynamic_write_leaves_one_file_per_bucket_dir(spark, tmp_path):
    """An overwrite-protocol write clusters its rows on the bucket id: a
    dynamic overwrite of a frame spread over 16 partitions leaves exactly
    one file in every bucket dir, with the rows unchanged."""
    import glob

    from postgres_cdc_reconciliation_spark.operators.apply import (
        read_target,
        write_bucketed_target,
    )

    target = str(tmp_path / "t")
    df = spark.range(200).selectExpr("id AS k", "id * 2 AS v")
    write_bucketed_target(df, target, ["k"], n_buckets=4, dynamic=False)
    # complete new content of every bucket, scattered over 16 tasks
    new = df.selectExpr("k", "IF(k % 3 = 0, v + 1, v) AS v").repartition(16)
    write_bucketed_target(new, target, ["k"], n_buckets=4, dynamic=True)

    per_dir = {
        d: len(glob.glob(f"{d}/*.parquet"))
        for d in glob.glob(f"{target}/_bucket=*")
    }
    assert len(per_dir) == 4
    assert set(per_dir.values()) == {1}, per_dir
    got = sorted((r["k"], r["v"]) for r in read_target(spark, target).collect())
    assert got == [(k, 2 * k + (1 if k % 3 == 0 else 0)) for k in range(200)]


def _zone_table(spark, tmp_path, n=2000, n_files=10):
    from postgres_cdc_reconciliation_spark.operators.layout import (
        write_range_clustered,
    )

    path = str(tmp_path / "zoned")
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") * 3).alias("v"),
        F.concat(F.lit("s"), (F.col("id") % 50).cast("string")).alias("tag"),
    )
    written = write_range_clustered(
        df, path, "k", n_files=n_files, extra_stats_cols=["v"]
    )
    return path, df, written


def test_range_clustered_write_stamps_zones(spark, tmp_path):
    import glob
    import json

    path, _df, written = _zone_table(spark, tmp_path)
    assert written == len(glob.glob(f"{path}/*.parquet")) == 10
    doc = json.load(open(f"{path}/_pcr_zonemap.json"))
    assert doc["cluster_col"] == "k"
    assert len(doc["files"]) == 10
    # every file has zones for both stat columns, and the k zones are
    # (nearly) disjoint contiguous ranges — the clustering property
    zones = sorted(z["k"] for z in doc["files"].values())
    for (lo_a, hi_a), (lo_b, _hi_b) in zip(zones, zones[1:]):
        assert lo_a <= hi_a < lo_b


def test_read_range_prunes_files_and_matches_full_scan(spark, tmp_path):
    from postgres_cdc_reconciliation_spark.operators.layout import read_range

    path, df, written = _zone_table(spark, tmp_path)
    out = read_range(spark, path, "k", 100, 299)
    expect = df.filter((F.col("k") >= 100) & (F.col("k") <= 299))
    assert sorted(r["k"] for r in out.collect()) == sorted(
        r["k"] for r in expect.collect()
    )
    # the pruning claim itself: the scan's file list is a strict subset
    assert 1 <= len(out.inputFiles()) < written


def test_read_range_secondary_column_and_open_bounds(spark, tmp_path):
    from postgres_cdc_reconciliation_spark.operators.layout import read_range

    path, df, _w = _zone_table(spark, tmp_path)
    # v = 3k is also clustered (correlated with k): pruning works on the
    # extra stats column too
    out = read_range(spark, path, "v", None, 300)
    assert len(out.inputFiles()) < 10
    assert out.count() == df.filter(F.col("v") <= 300).count()
    # half-open lower bound
    hi = read_range(spark, path, "k", 1900, None)
    assert hi.count() == 100
    assert len(hi.inputFiles()) == 1


def test_read_range_empty_window_keeps_schema(spark, tmp_path):
    from postgres_cdc_reconciliation_spark.operators.layout import read_range

    path, df, _w = _zone_table(spark, tmp_path)
    out = read_range(spark, path, "k", 10_000, 20_000)
    assert out.count() == 0
    assert out.columns == df.columns


def test_read_range_unstamped_column_reads_everything_correctly(spark, tmp_path):
    from postgres_cdc_reconciliation_spark.operators.layout import read_range

    path, df, written = _zone_table(spark, tmp_path)
    # tag has no stamped zone: no pruning, but results stay exact
    out = read_range(spark, path, "tag", "s1", "s1")
    assert len(out.inputFiles()) == written
    assert out.count() == df.filter(F.col("tag") == "s1").count()


def test_read_range_timestamp_iso_bounds(spark, tmp_path):
    from postgres_cdc_reconciliation_spark.operators.layout import (
        read_range,
        write_range_clustered,
    )

    path = str(tmp_path / "ts_zoned")
    df = spark.range(400).select(
        F.col("id").alias("k"),
        F.expr(
            "cast('2024-01-01 00:00:00' as timestamp_ntz) "
            "+ make_interval(0, 0, 0, 0, cast(id as int), 0, 0)"
        ).alias("ts"),
    )
    write_range_clustered(df, path, "ts", n_files=8)
    out = read_range(
        spark, path, "ts", "2024-01-03 00:00:00", "2024-01-05 00:00:00"
    )
    assert len(out.inputFiles()) < 8
    assert out.count() == 49  # hours 48..96 inclusive


def test_target_stats_and_bucket_stats_footer_only(spark, tmp_path):
    from postgres_cdc_reconciliation_spark.operators.apply import bucket_expr
    from postgres_cdc_reconciliation_spark.operators.manifest_target import (
        bucket_stats,
        commit_delta,
        target_stats,
    )

    root = str(tmp_path / "tgt")
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("x")
    )
    commit_delta(df, root, ["k"], list(range(8)), 8)
    stats = target_stats(spark, root, cols=["k", "x"]).collect()[0]
    assert stats["n_rows"] == 1000
    assert stats["min_k"] == 0 and stats["max_k"] == 999
    assert stats["min_x"] == 0.0 and stats["max_x"] == 1998.0
    assert stats["n_files"] >= 8 and stats["n_bytes"] > 0

    per = bucket_stats(spark, root).collect()
    assert sum(r["n_rows"] for r in per) == 1000
    assert {r["bucket"] for r in per} == set(
        r["_b"] for r in df.select(bucket_expr(["k"], 8).alias("_b")).distinct().collect()
    )


def test_zordered_zone_skipping_both_dimensions(spark, tmp_path):
    from postgres_cdc_reconciliation_spark.operators.layout import (
        read_range,
        write_zordered,
    )

    path = str(tmp_path / "z_zoned")
    df = spark.range(4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    write_zordered(df, path, ["x", "y"], bits=6, n_files=16, stamp_zones=True)
    total = len(spark.read.parquet(path).inputFiles())
    assert total == 16
    # BOTH dimensions prune — the z-order property a single-column sort
    # lacks — and results stay exact
    for col in ("x", "y"):
        out = read_range(spark, path, col, 0, 7)
        assert len(out.inputFiles()) < total, col
        assert out.count() == df.filter(F.col(col).between(0, 7)).count()


def test_read_box_2d_prunes_tighter_than_either_dimension(spark, tmp_path):
    from postgres_cdc_reconciliation_spark.operators.layout import (
        read_box,
        read_range,
        write_zordered,
    )

    path = str(tmp_path / "box_zoned")
    df = spark.range(8192).select(
        (F.col("id") % 128).alias("x"),
        (F.col("id") / 128).cast("long").alias("y"),
        (F.col("id") * 2).alias("v"),
    )
    write_zordered(df, path, ["x", "y"], bits=7, n_files=16, stamp_zones=True)
    fx = len(read_range(spark, path, "x", 0, 15).inputFiles())
    fy = len(read_range(spark, path, "y", 0, 7).inputFiles())
    box = read_box(spark, path, {"x": (0, 15), "y": (0, 7)})
    fbox = len(box.inputFiles())
    assert fbox <= min(fx, fy)
    assert fbox < 16
    want = df.filter(
        F.col("x").between(0, 15) & F.col("y").between(0, 7)
    ).count()
    assert box.count() == want


def test_read_box_empty_predicates_rejected(spark, tmp_path):
    import pytest

    from postgres_cdc_reconciliation_spark.operators.layout import read_box

    path, _df, _w = _zone_table(spark, tmp_path)
    with pytest.raises(ValueError, match="non-empty"):
        read_box(spark, path, {})


def test_read_box_unknown_column_and_bad_bound_fail_loud(spark, tmp_path):
    # ADVICE r10: a predicate naming an unstamped-schema column used to
    # surface as a bare KeyError, and a type-mismatched bound as a
    # TypeError mid-prune — both must be ValueErrors naming the column
    import pytest

    from postgres_cdc_reconciliation_spark.operators.layout import (
        read_box,
        read_range,
    )

    path, _df, _w = _zone_table(spark, tmp_path)
    with pytest.raises(ValueError, match="'nope'.*not in the stamped schema"):
        read_box(spark, path, {"nope": (0, 10)})
    with pytest.raises(ValueError, match="'k'.*not comparable"):
        read_range(spark, path, "k", "abc", "def")
    with pytest.raises(ValueError, match="'k'.*lower, upper"):
        read_box(spark, path, {"k": 5})


def _bloom_table(spark, tmp_path):
    """Range-clustered by k (10 files) + bloom stamped on the UNclustered
    id column — zones can't prune id probes, blooms can."""
    from postgres_cdc_reconciliation_spark.operators.layout import (
        stamp_bloom,
        write_range_clustered,
    )

    path = str(tmp_path / "bloomed")
    # id is a pseudo-random permutation-ish mapping so each file holds a
    # scattered, file-local set of ids
    df = spark.range(2000).select(
        F.col("id").alias("k"),
        ((F.col("id") * 7919) % 2000).alias("uid"),
        F.concat(F.lit("tag"), (F.col("id") % 5)).alias("tag"),
    )
    written = write_range_clustered(df, path, "k", n_files=10)
    stamp_bloom(spark, path, ["uid", "tag"], fpp=0.01)
    return path, df, written


def test_bloom_point_probe_exact_and_pruned(spark, tmp_path):
    from postgres_cdc_reconciliation_spark.operators.layout import read_point

    path, df, written = _bloom_table(spark, tmp_path)
    out = read_point(spark, path, {"uid": 777})
    expect = df.filter(F.col("uid") == 777).collect()
    got = out.collect()
    assert sorted(r["k"] for r in got) == sorted(r["k"] for r in expect)
    assert len(got) == 1
    # the skipping claim: uid 777 lives in ONE file; fpp=0.01 over 10
    # files makes false positives rare — strictly fewer files than written
    assert 1 <= len(out.inputFiles()) < written


def test_bloom_absent_key_returns_empty(spark, tmp_path):
    from postgres_cdc_reconciliation_spark.operators.layout import read_point

    path, df, _w = _bloom_table(spark, tmp_path)
    out = read_point(spark, path, {"uid": 999_999})
    assert out.count() == 0
    assert out.columns == df.columns


def test_bloom_string_column_and_conjunction(spark, tmp_path):
    from postgres_cdc_reconciliation_spark.operators.layout import read_point

    path, df, _w = _bloom_table(spark, tmp_path)
    out = read_point(spark, path, {"tag": "tag3", "uid": 1})
    expect = df.filter((F.col("tag") == "tag3") & (F.col("uid") == 1))
    assert [r["k"] for r in out.collect()] == [
        r["k"] for r in expect.collect()
    ]


def test_bloom_unstamped_column_reads_everything_correctly(spark, tmp_path):
    from postgres_cdc_reconciliation_spark.operators.layout import read_point

    path, df, written = _bloom_table(spark, tmp_path)
    # k has no bloom: unprunable on that column, results stay exact
    out = read_point(spark, path, {"k": 42})
    assert len(out.inputFiles()) == written
    assert [r["uid"] for r in out.collect()] == [
        r["uid"] for r in df.filter(F.col("k") == 42).collect()
    ]


def test_bloom_validation_and_missing_sidecar(spark, tmp_path):
    import pytest

    from postgres_cdc_reconciliation_spark.operators.layout import (
        read_point,
        stamp_bloom,
    )

    path, _df, _w = _bloom_table(spark, tmp_path)
    with pytest.raises(ValueError, match="'nope'.*not in the stamped"):
        read_point(spark, path, {"nope": 1})
    with pytest.raises(ValueError, match="never matches NULL"):
        read_point(spark, path, {"uid": None})
    with pytest.raises(ValueError, match="non-empty"):
        read_point(spark, path, {})
    with pytest.raises(ValueError, match="\\['ghost'\\] not in"):
        stamp_bloom(spark, path, ["ghost"])
    bare = str(tmp_path / "bare")
    spark.range(5).write.parquet(bare)
    with pytest.raises(FileNotFoundError, match="no bloom sidecar"):
        read_point(spark, bare, {"id": 1})


def test_zonemap_append_mode_stamps_only_new_files(spark, tmp_path):
    import json

    from postgres_cdc_reconciliation_spark.operators.layout import (
        read_range,
        stamp_zonemap,
    )

    path, df, written = _zone_table(spark, tmp_path)
    before = json.load(open(f"{path}/_pcr_zonemap.json"))["files"]
    # append a new batch beyond the existing k range
    extra = spark.range(2000, 2400).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v"),
        F.concat(F.lit("s"), (F.col("id") % 7)).alias("tag"),
    )
    extra.coalesce(2).write.mode("append").parquet(path)
    n_new = stamp_zonemap(spark, path, ["k", "v"], mode="append")
    assert n_new == 2  # only the appended files paid a footer read
    after = json.load(open(f"{path}/_pcr_zonemap.json"))["files"]
    assert len(after) == written + 2
    for f, z in before.items():  # old entries preserved byte-for-byte
        assert after[f] == z
    # pruning covers the appended range and stays exact
    out = read_range(spark, path, "k", 2100, 2200)
    assert sorted(r["k"] for r in out.collect()) == list(range(2100, 2201))
    assert len(out.inputFiles()) <= 2


def test_zonemap_append_drops_vacuumed_files_and_validates(spark, tmp_path):
    import glob
    import json
    import os

    import pytest

    from postgres_cdc_reconciliation_spark.operators.layout import (
        stamp_zonemap,
    )

    path, _df, written = _zone_table(spark, tmp_path)
    victim = sorted(glob.glob(f"{path}/*.parquet"))[0]
    os.remove(victim)
    assert stamp_zonemap(spark, path, ["k"], mode="append") == 0
    after = json.load(open(f"{path}/_pcr_zonemap.json"))["files"]
    assert len(after) == written - 1
    assert os.path.basename(victim) not in after
    with pytest.raises(ValueError, match="mode must be"):
        stamp_zonemap(spark, path, ["k"], mode="merge")
    bare = str(tmp_path / "bare_zone")
    spark.range(5).write.parquet(bare)
    with pytest.raises(FileNotFoundError, match="to append to"):
        stamp_zonemap(spark, bare, ["id"], mode="append")


def test_bloom_append_mode(spark, tmp_path):
    import json

    from postgres_cdc_reconciliation_spark.operators.layout import (
        read_point,
        stamp_bloom,
    )

    path, df, written = _bloom_table(spark, tmp_path)
    before = json.load(open(f"{path}/_pcr_bloom.json"))["files"]
    extra = spark.range(2000, 2200).select(
        F.col("id").alias("k"), (F.col("id") + 100_000).alias("uid"),
        F.lit("tagX").alias("tag"),
    )
    extra.coalesce(1).write.mode("append").parquet(path)
    n_new = stamp_bloom(spark, path, ["uid", "tag"], mode="append")
    assert n_new == 1
    after = json.load(open(f"{path}/_pcr_bloom.json"))["files"]
    assert len(after) == written + 1
    for f, b in before.items():
        assert after[f] == b
    # a key that only exists in the appended file is found and pruned-to
    out = read_point(spark, path, {"uid": 102_050})
    assert [r["k"] for r in out.collect()] == [2050]
    assert len(out.inputFiles()) < written + 1


# --- NDV sidecar: per-file KMV sketches as table statistics -----------------


def _ndv_table(spark, tmp_path, n=3000, n_files=6):
    path = str(tmp_path / "ndv_tbl")
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 500).alias("uid"),
        F.concat(F.lit("t"), (F.col("id") % 9)).alias("tag"),
    )
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    from postgres_cdc_reconciliation_spark.operators.layout import stamp_ndv

    written = stamp_ndv(spark, path, ["uid", "tag"], k=32)
    return path, df, written


def test_ndv_merged_equals_global_kmv_exactly(spark, tmp_path):
    from postgres_cdc_reconciliation_spark.operators.layout import read_ndv
    from postgres_cdc_reconciliation_spark.operators.sketches import (
        kmv_build,
        kmv_distinct,
    )

    path, df, written = _ndv_table(spark, tmp_path)
    assert written == 6
    out = {r["col"]: r for r in read_ndv(spark, path).collect()}
    # the Python stamping hash and the Spark kmv_hash must agree bit-for-bit:
    # sidecar merge == a global Spark-side sketch, estimator included
    for col in ("uid", "tag"):
        [expect] = kmv_distinct(kmv_build(df, col, k=32), k=32).collect()
        got = out[col]
        assert got["n_hashes"] == expect["n_hashes"], col
        assert got["kth_hash"] == expect["kth_hash"], col
        assert got["est_distinct"] == expect["est_distinct"], col
        assert got["n_files"] == 6
    # tag has 9 members < k=32 -> the exact branch
    assert out["tag"]["n_hashes"] == 9 and out["tag"]["est_distinct"] == 9.0


def test_ndv_file_subset_is_exact_for_those_files(spark, tmp_path):
    import glob
    import os

    from postgres_cdc_reconciliation_spark.operators.layout import read_ndv
    from postgres_cdc_reconciliation_spark.operators.sketches import (
        kmv_build,
        kmv_distinct,
    )

    path, _df, _ = _ndv_table(spark, tmp_path)
    files = sorted(
        os.path.basename(f) for f in glob.glob(f"{path}/*.parquet")
    )
    subset = files[:3]
    sub_df = spark.read.parquet(*[f"{path}/{f}" for f in subset])
    [expect] = kmv_distinct(kmv_build(sub_df, "uid", k=32), k=32).collect()
    [got] = read_ndv(spark, path, ["uid"], files=subset).collect()
    # subset merge == a sketch built over exactly those files' rows
    assert (got["n_hashes"], got["kth_hash"], got["est_distinct"]) == (
        expect["n_hashes"], expect["kth_hash"], expect["est_distinct"],
    )
    assert got["n_files"] == 3


def test_ndv_append_mode_and_evolved_schema(spark, tmp_path):
    import glob
    import json
    import os

    from postgres_cdc_reconciliation_spark.operators.layout import (
        read_ndv,
        stamp_ndv,
    )

    path, _df, written = _ndv_table(spark, tmp_path)
    before = json.load(open(f"{path}/_pcr_ndv.json"))["files"]
    # appended batch WITHOUT the 'tag' column (evolved schema)
    extra = spark.range(3000, 3400).select(
        F.col("id").alias("k"), (F.col("id") % 777).alias("uid")
    )
    extra.coalesce(2).write.mode("append").parquet(path)
    assert stamp_ndv(spark, path, ["uid", "tag"], mode="append") == 2
    after = json.load(open(f"{path}/_pcr_ndv.json"))
    assert len(after["files"]) == written + 2
    for f, e in before.items():  # old entries preserved byte-for-byte
        assert after["files"][f] == e
    out = {r["col"]: r for r in read_ndv(spark, path).collect()}
    # tag: absent from the new files -> they contribute nothing (correct:
    # evolved rows hold NULL), n_files stays 6
    assert out["tag"]["n_files"] == 6 and out["tag"]["est_distinct"] == 9.0
    # uid: the appended 500..776 values must move the estimate upward
    assert out["uid"]["n_files"] == 8
    assert out["uid"]["est_distinct"] > 500
    # vacuumed files drop out on the next append stamp
    victim = sorted(glob.glob(f"{path}/*.parquet"))[0]
    os.remove(victim)
    assert stamp_ndv(spark, path, ["uid"], mode="append") == 0
    final = json.load(open(f"{path}/_pcr_ndv.json"))["files"]
    assert os.path.basename(victim) not in final
    assert len(final) == written + 1


def test_ndv_validation(spark, tmp_path):
    import pytest

    from postgres_cdc_reconciliation_spark.operators.layout import (
        read_ndv,
        stamp_ndv,
    )

    path, _df, _ = _ndv_table(spark, tmp_path)
    with pytest.raises(ValueError, match="mode must be"):
        stamp_ndv(spark, path, ["uid"], mode="merge")
    with pytest.raises(ValueError, match="k must be"):
        stamp_ndv(spark, path, ["uid"], k=1)
    with pytest.raises(ValueError, match="not in the table schema"):
        stamp_ndv(spark, path, ["nope"])
    with pytest.raises(ValueError, match="not NDV-stamped"):
        read_ndv(spark, path, ["k"])
    with pytest.raises(ValueError, match="not in the NDV sidecar"):
        read_ndv(spark, path, ["uid"], files=["ghost.parquet"])
    bare = str(tmp_path / "bare_ndv")
    spark.range(5).write.parquet(bare)
    with pytest.raises(FileNotFoundError, match="no NDV sidecar"):
        read_ndv(spark, bare)
    with pytest.raises(FileNotFoundError, match="to append to"):
        stamp_ndv(spark, bare, ["id"], mode="append")


def test_pruned_reads_never_skip_unstamped_appends(spark, tmp_path):
    """The append window is sound: files added since the last stamp are
    always read (missing-evidence rule at file level), and stamped files
    vacuumed from disk no longer crash the scan."""
    import glob
    import os

    from postgres_cdc_reconciliation_spark.operators.layout import (
        read_point,
        read_range,
        stamp_bloom,
    )

    path, df, _ = _zone_table(spark, tmp_path)
    stamp_bloom(spark, path, ["k"], fpp=0.01)
    # append rows OUTSIDE every stamped zone, without re-stamping
    extra = spark.range(50_000, 50_010).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v"),
        F.lit("sX").alias("tag"),
    )
    extra.coalesce(1).write.mode("append").parquet(path)
    got = sorted(r["k"] for r in read_range(spark, path, "k", 50_000, 50_005).collect())
    assert got == list(range(50_000, 50_006))  # appended rows visible
    [hit] = read_point(spark, path, {"k": 50_002}).collect()
    assert hit["k"] == 50_002
    # a stamped-but-deleted file is skipped, not crashed on
    victim = sorted(glob.glob(f"{path}/*.parquet"))[0]
    os.remove(victim)
    read_range(spark, path, "k", 0, 10).collect()  # no IOException


def test_compact_clustered_restores_pruning_and_all_sidecars(spark, tmp_path):
    import glob
    import json

    from postgres_cdc_reconciliation_spark.operators.layout import (
        compact_clustered,
        read_ndv,
        read_point,
        read_range,
        stamp_bloom,
        stamp_ndv,
    )

    src, df, written = _zone_table(spark, tmp_path)
    stamp_bloom(spark, src, ["tag"], fpp=0.01)
    stamp_ndv(spark, src, ["tag"], k=16)
    ndv_before = {r["col"]: r for r in read_ndv(spark, src).collect()}
    # a grown table: three appends, unstamped, overlapping the k range
    for lo in (0, 700, 1400):
        spark.range(lo, lo + 100).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v"),
            F.concat(F.lit("s"), (F.col("id") % 7)).alias("tag"),
        ).coalesce(1).write.mode("append").parquet(src)
    dst = str(tmp_path / "compacted")
    out = compact_clustered(spark, src, dst, n_files=4)
    assert out["n_files"] == 4 < written + 3
    assert out["zonemap"] and out["bloom"] == ["tag"] and out["ndv"] == ["tag"]
    # no data loss: full multisets agree
    src_rows = sorted(map(tuple, spark.read.parquet(src).collect()))
    dst_rows = sorted(map(tuple, spark.read.parquet(dst).collect()))
    assert src_rows == dst_rows
    # pruning works on the compacted layout and matches the source scan
    got = sorted(r["k"] for r in read_range(spark, dst, "k", 100, 160).collect())
    want = sorted(
        r["k"]
        for r in spark.read.parquet(src).where(F.col("k").between(100, 160)).collect()
    )
    assert got == want
    hits = read_point(spark, dst, {"tag": "s3"}).count()
    assert hits == spark.read.parquet(src).where(F.col("tag") == "s3").count()
    # sidecar params carried: cluster col, bloom fpp, ndv k/salt
    zdoc = json.load(open(f"{dst}/_pcr_zonemap.json"))
    assert zdoc["cluster_col"] == "k"
    assert json.load(open(f"{dst}/_pcr_bloom.json"))["fpp"] == 0.01
    ndoc = json.load(open(f"{dst}/_pcr_ndv.json"))
    assert (ndoc["k"], ndoc["salt"]) == (16, "kmv-v1")
    # ndv over the compacted files sees the same 7-member tag universe
    ndv_after = {r["col"]: r for r in read_ndv(spark, dst).collect()}
    assert ndv_after["tag"]["est_distinct"] == ndv_before["tag"]["est_distinct"]
    assert len(glob.glob(f"{dst}/*.parquet")) == 4


def test_compact_clustered_validation(spark, tmp_path):
    import pytest

    from postgres_cdc_reconciliation_spark.operators.layout import (
        compact_clustered,
    )

    src, _df, _ = _zone_table(spark, tmp_path)
    dst = str(tmp_path / "occupied")
    spark.range(3).write.parquet(dst)
    with pytest.raises(ValueError, match="already exists"):
        compact_clustered(spark, src, dst)
    bare = str(tmp_path / "bare_src")
    spark.range(5).write.parquet(bare)
    with pytest.raises(ValueError, match="cluster_col not given"):
        compact_clustered(spark, bare, str(tmp_path / "d2"))
    with pytest.raises(ValueError, match="not in the table"):
        compact_clustered(spark, bare, str(tmp_path / "d3"), cluster_col="zz")
    # no sidecar at all: works with an explicit cluster col, stamps nothing
    out = compact_clustered(spark, bare, str(tmp_path / "d4"),
                            cluster_col="id", n_files=1)
    assert out["n_files"] == 1
    assert out["zonemap"] is None and out["bloom"] is None and out["ndv"] is None


# ---------------------------------------------------------------------------
# skew_report


def test_skew_report_exact_counts_and_salts(spark):
    from postgres_cdc_reconciliation_spark.operators.layout import skew_report

    rows = (
        [("hot", i) for i in range(2500)]
        + [("warm", i) for i in range(150)]
        + [("cold", i) for i in range(10)]
    )
    df = spark.createDataFrame(rows, "k string, v long")
    out = {
        r["k"]: r
        for r in skew_report(df, ["k"], target_rows=100).collect()
    }
    assert out["hot"]["n_rows"] == 2500 and out["hot"]["salt_factor"] == 25
    assert out["warm"]["n_rows"] == 150 and out["warm"]["salt_factor"] == 2
    assert out["cold"]["n_rows"] == 10 and out["cold"]["salt_factor"] == 1
    assert out["hot"]["is_hot"] and out["warm"]["is_hot"]
    assert not out["cold"]["is_hot"]
    # exact boundary: a key at exactly target_rows needs NO salt
    assert abs(sum(r["share"] for r in out.values()) - 1.0) < 1e-12


def test_skew_report_boundary_at_target(spark):
    from postgres_cdc_reconciliation_spark.operators.layout import skew_report

    rows = [("edge", i) for i in range(100)] + [("over", i) for i in range(101)]
    df = spark.createDataFrame(rows, "k string, v long")
    out = {r["k"]: r for r in skew_report(df, ["k"], target_rows=100).collect()}
    assert out["edge"]["salt_factor"] == 1 and not out["edge"]["is_hot"]
    assert out["over"]["salt_factor"] == 2 and out["over"]["is_hot"]


def test_skew_report_advice_matches_salted_join(spark):
    """The advised salt factor actually de-skews: salting the hot key with
    the advised factor spreads its rows across that many distinct salts."""
    from postgres_cdc_reconciliation_spark.operators.layout import (
        salted_join,
        skew_report,
    )

    rows = [("hot", i) for i in range(800)] + [("cold", i) for i in range(5)]
    df = spark.createDataFrame(rows, "k string, v long")
    advice = {
        r["k"]: r["salt_factor"]
        for r in skew_report(df, ["k"], target_rows=100).collect()
    }
    assert advice["hot"] == 8
    dim = spark.createDataFrame([("hot", "H"), ("cold", "C")], "k string, label string")
    joined = salted_join(df, dim, "k", n_salts=advice["hot"])
    assert joined.count() == 805  # multiplicity unchanged by salting


# ---------------------------------------------------------------------------
# join_plan / stats_join (metadata-driven join strategy)


def _two_tables(spark, tmp_path, fact_rows=5000, dim_rows=20):
    fact = tmp_path / "fact"
    dim = tmp_path / "dim"
    spark.range(fact_rows).select(
        (F.col("id") % dim_rows).alias("k"), F.col("id").alias("v")
    ).repartition(4).write.parquet(str(fact))
    spark.range(dim_rows).select(
        F.col("id").alias("dk"), F.concat(F.lit("lbl"), F.col("id")).alias("label")
    ).coalesce(1).write.parquet(str(dim))
    return str(fact), str(dim)


def test_join_plan_broadcasts_the_small_side(spark, tmp_path):
    from postgres_cdc_reconciliation_spark.operators.layout import (
        join_plan,
        stats_join,
    )

    fact, dim = _two_tables(spark, tmp_path)
    plan = join_plan(spark, fact, dim, "k", "dk")
    assert plan["broadcast"] == "right"
    assert plan["right"]["rows"] == 20 and plan["left"]["rows"] == 5000
    joined = stats_join(spark, fact, dim, "k", "dk")
    assert "BroadcastHashJoin" in joined._jdf.queryExecution().executedPlan().toString()
    assert joined.count() == 5000  # strategy never changes results


def test_join_plan_shuffles_above_threshold(spark, tmp_path):
    from postgres_cdc_reconciliation_spark.operators.layout import (
        join_plan,
        stats_join,
    )

    fact, dim = _two_tables(spark, tmp_path)
    plan = join_plan(spark, fact, dim, "k", "dk", broadcast_bytes=1)
    assert plan["broadcast"] is None
    assert "shuffle" in plan["reason"]
    joined = stats_join(spark, fact, dim, "k", "dk", broadcast_bytes=1)
    assert joined.count() == 5000


def test_join_plan_reads_skew_off_the_ndv_sidecar(spark, tmp_path):
    from postgres_cdc_reconciliation_spark.operators.layout import (
        join_plan,
        stamp_ndv,
    )

    # 3 distinct keys over 3000 rows -> ~1000 rows/key; target 400 -> salt 3
    fact = tmp_path / "skewed"
    spark.range(3000).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("v")
    ).repartition(2).write.parquet(str(fact))
    dim = tmp_path / "bigdim"
    spark.range(2000).select(
        F.col("id").alias("dk"), F.col("id").alias("payload")
    ).coalesce(1).write.parquet(str(dim))
    stamp_ndv(spark, str(fact), ["k"])
    plan = join_plan(
        spark, str(fact), str(dim), "k", "dk",
        broadcast_bytes=1, target_rows_per_key=400,
    )
    assert plan["broadcast"] is None
    assert plan["skew"]["right"] is None  # dim side carries no NDV stamp
    sk = plan["skew"]["left"]
    assert sk is not None and sk["col"] == "k"
    assert sk["est_distinct"] == 3.0  # KMV exact below k hashes
    assert sk["est_rows_per_key"] == 1000
    assert sk["salt_factor"] == 3 and sk["is_hot"]


def test_join_plan_no_ndv_stamp_means_no_skew_estimate(spark, tmp_path):
    from postgres_cdc_reconciliation_spark.operators.layout import join_plan

    fact, dim = _two_tables(spark, tmp_path)
    plan = join_plan(spark, fact, dim, "k", "dk", broadcast_bytes=1)
    assert plan["skew"] is None


# ---------------------------------------------------------------------------
# histogram sidecar: stamp_hist / estimate_range_rows


def test_hist_estimate_within_hard_bound(spark, tmp_path):
    """The error bound is HARD: for any range, |true - est| <= bound —
    checked over a grid of ranges against exact counts."""
    from postgres_cdc_reconciliation_spark.operators.layout import (
        estimate_range_rows,
        stamp_hist,
    )

    path = str(tmp_path / "t")
    df = spark.range(10_000).select(
        (F.col("id") % 997).cast("double").alias("v"), F.col("id").alias("k")
    )
    df.repartition(6).write.parquet(path)
    assert stamp_hist(spark, path, ["v"], buckets=16) == 6
    for lo, hi in [(0, 996), (100, 200), (0, 0), (500, 501), (990, 2000),
                   (None, 300), (700, None)]:
        est = estimate_range_rows(spark, path, "v", lo, hi)
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col("v") >= lo)
        if hi is not None:
            cond = cond & (F.col("v") <= hi)
        true = df.filter(cond).count()
        assert abs(true - est["est"]) <= est["bound"] + 1e-9, (lo, hi, true, est)
    # full-range estimate is EXACT (every bucket fully covered, bound 0)
    full = estimate_range_rows(spark, path, "v")
    assert full["est"] == 10_000 and full["bound"] == 0.0


def test_hist_append_mode_and_failure_modes(spark, tmp_path):
    import pytest

    from postgres_cdc_reconciliation_spark.operators.layout import (
        estimate_range_rows,
        stamp_hist,
    )

    path = str(tmp_path / "t")
    spark.range(1000).select(F.col("id").cast("double").alias("v")).coalesce(
        2
    ).write.parquet(path)
    stamp_hist(spark, path, ["v"], buckets=8)
    # append new files: only they get read, old entries survive
    spark.range(1000, 2000).select(
        F.col("id").cast("double").alias("v")
    ).coalesce(1).write.mode("append").parquet(path)
    n_new = stamp_hist(spark, path, ["v"], mode="append")
    assert n_new == 1
    full = estimate_range_rows(spark, path, "v")
    assert abs(full["est"] - 2000) < 1e-9 and full["n_files"] == 3
    # loud failures
    with pytest.raises(FileNotFoundError):
        estimate_range_rows(spark, str(tmp_path / "missing"), "v", 0, 1)
    with pytest.raises(ValueError, match="numeric"):
        s = str(tmp_path / "s")
        spark.createDataFrame([("x",)], "s string").write.parquet(s)
        stamp_hist(spark, s, ["s"])
    with pytest.raises(ValueError, match="lower"):
        estimate_range_rows(spark, path, "v", 5, 1)


def test_hist_degenerate_heavy_duplicate_buckets(spark, tmp_path):
    """A column dominated by one value yields zero-width buckets; the
    estimator must count them all-or-nothing, never divide by zero."""
    from postgres_cdc_reconciliation_spark.operators.layout import (
        estimate_range_rows,
        stamp_hist,
    )

    path = str(tmp_path / "dup")
    rows = [(7.0,)] * 5000 + [(float(i),) for i in range(100)]
    spark.createDataFrame(rows, "v double").coalesce(2).write.parquet(path)
    stamp_hist(spark, path, ["v"], buckets=8)
    hit = estimate_range_rows(spark, path, "v", 7, 7)
    assert hit["est"] >= 5000 - hit["bound"] - 1e-9
    miss = estimate_range_rows(spark, path, "v", 200, 300)
    assert miss["est"] <= miss["bound"] + 1e-9


def test_join_plan_histogram_selectivity_flips_broadcast(spark, tmp_path):
    """The selectivity step: a big fact filtered to a narrow range becomes
    the broadcast side — whole-table stats alone would shuffle."""
    from postgres_cdc_reconciliation_spark.operators.layout import (
        join_plan,
        stamp_hist,
        stats_join,
    )

    fact = str(tmp_path / "fact")
    dim = str(tmp_path / "dim")
    spark.range(50_000).select(
        F.col("id").alias("k"), (F.col("id") % 1000).cast("double").alias("ts")
    ).repartition(4).write.parquet(fact)
    spark.range(20_000).select(
        F.col("id").alias("dk"), F.col("id").alias("lbl")
    ).coalesce(2).write.parquet(dim)
    stamp_hist(spark, fact, ["ts"], buckets=32)
    # unfiltered: neither side fits a 32KB broadcast budget -> shuffle
    base = join_plan(spark, fact, dim, "k", "dk", broadcast_bytes=32_000)
    assert base["broadcast"] is None
    # ts <= 10 keeps ~1% of the fact -> the FILTERED fact broadcasts
    flt = join_plan(
        spark, fact, dim, "k", "dk", broadcast_bytes=32_000,
        left_filter=("ts", None, 10),
    )
    assert flt["broadcast"] == "left", flt
    assert flt["left"]["filtered"]["col"] == "ts"
    assert flt["left"]["rows"] < 5000  # est+bound, ~550 of 50k
    # execution applies the predicate AND matches a plain filtered join
    joined = stats_join(
        spark, fact, dim, "k", "dk", broadcast_bytes=32_000,
        left_filter=("ts", None, 10),
    )
    want = (
        spark.read.parquet(fact).filter("ts <= 10")
        .join(spark.read.parquet(dim),
              F.col("k") == F.col("dk")).count()
    )
    assert joined.count() == want
    assert "BroadcastHashJoin" in joined._jdf.queryExecution().executedPlan().toString()


class TestPrefilterJoin:
    """Runtime-filter join (layout.py::prefilter_join): lossless by
    construction in both modes, broadcast-semi prefilter shape in the
    physical plan, loud rejection of outer joins."""

    @pytest.fixture(scope="class")
    def tables(self, spark):
        big = spark.createDataFrame(
            [(i % 100, i) for i in range(5000)], "k long, v long"
        )
        # 10 keys present (some matching big, one absent), with dup rows
        small = spark.createDataFrame(
            [(k, f"s{k}") for k in [0, 3, 5, 7, 11, 13, 17, 19, 23, 777]]
            + [(3, "dup")],
            "k long, name string",
        )
        return big, small

    def _sorted(self, df):
        return sorted(map(tuple, df.collect()))

    @pytest.mark.parametrize("mode", ["exact", "coarse"])
    @pytest.mark.parametrize("how", ["inner", "left_semi"])
    def test_value_identical_to_plain_join(self, tables, mode, how):
        from postgres_cdc_reconciliation_spark.operators.layout import (
            prefilter_join,
        )

        big, small = tables
        got = prefilter_join(big, small, "k", how=how, mode=mode)
        expect = big.join(small, "k", how)
        assert self._sorted(got) == self._sorted(expect)

    def test_lossless_even_at_saturating_fpp(self, tables):
        """n_buckets=2 makes the coarse filter nearly pass-everything —
        degrades toward no pruning, never toward wrong results."""
        from postgres_cdc_reconciliation_spark.operators.layout import (
            prefilter_join,
        )

        big, small = tables
        got = prefilter_join(
            big, small, "k", mode="coarse", n_buckets=2, n_hashes=1
        )
        assert self._sorted(got) == self._sorted(big.join(small, "k"))

    def test_plan_shape_broadcast_semis_before_smj(self, spark, tables):
        from postgres_cdc_reconciliation_spark.operators.layout import (
            prefilter_join,
        )

        big, small = tables
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            # force the MAIN join to shuffle (the regime prefiltering serves)
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            plan = (
                prefilter_join(big, small, "k", mode="coarse", n_hashes=2)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        # two broadcast LeftSemi prefilters guard the shuffled main join
        assert plan.count("BroadcastHashJoin") >= 2, plan
        assert "LeftSemi" in plan, plan
        assert "SortMergeJoin" in plan, plan

    def test_composite_key_and_errors(self, spark, tables):
        from postgres_cdc_reconciliation_spark.operators.layout import (
            prefilter_join,
        )

        big, small = tables
        big2 = big.withColumn("k2", F.col("k") % 7)
        small2 = small.withColumn("k2", F.col("k") % 7)
        got = prefilter_join(big2, small2, ["k", "k2"], mode="coarse")
        expect = big2.join(small2, ["k", "k2"])
        assert self._sorted(got) == self._sorted(expect)
        with pytest.raises(ValueError, match="inner/left_semi"):
            prefilter_join(big, small, "k", how="left")
        with pytest.raises(ValueError, match="mode"):
            prefilter_join(big, small, "k", mode="bloomish")
        with pytest.raises(ValueError, match="n_buckets"):
            prefilter_join(big, small, "k", mode="coarse", n_buckets=1)


def test_stats_join_accepts_precomputed_plan(spark, tmp_path, monkeypatch):
    """A caller re-executing the same join against unchanged dirs passes
    the cached plan and pays ZERO metadata IO — join_plan must not be
    called at all (the compile-once path bench reps and dashboard
    refreshes ride; VERDICT r11 #5)."""
    from postgres_cdc_reconciliation_spark.operators import layout

    fact, dim = _two_tables(spark, tmp_path)
    plan = layout.join_plan(spark, fact, dim, "k", "dk")

    def _boom(*a, **kw):
        raise AssertionError("join_plan re-invoked despite cached plan")

    monkeypatch.setattr(layout, "join_plan", _boom)
    joined = layout.stats_join(spark, fact, dim, "k", "dk", plan=plan)
    assert "BroadcastHashJoin" in (
        joined._jdf.queryExecution().executedPlan().toString()
    )
    assert joined.count() == 5000
    assert joined._pcr_join_plan is plan


def test_q_stats_join_caches_its_plan_per_session(spark, monkeypatch):
    """The registered query plans ONCE per (session, sf_dir): the second
    call reuses the cached decision (same result, no footer re-read)."""
    from postgres_cdc_reconciliation_spark.operators import layout
    from postgres_cdc_reconciliation_spark.plans import lakehouse

    sf_dir = "/root/testdata/sf0.001"
    lakehouse._JOIN_PLAN_CACHE.clear()
    first = sorted(map(tuple, lakehouse.q_stats_join(spark, sf_dir).collect()))
    assert ((id(spark), sf_dir)) in lakehouse._JOIN_PLAN_CACHE

    def _boom(*a, **kw):
        raise AssertionError("join_plan re-invoked despite cached plan")

    monkeypatch.setattr(layout, "join_plan", _boom)
    second = sorted(map(tuple, lakehouse.q_stats_join(spark, sf_dir).collect()))
    assert second == first
