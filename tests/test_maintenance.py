"""Unified maintenance monitor (operators/maintenance.py): tier
detection across every persisted sidecar surface, threshold-driven
compaction_due verdicts, advice naming the right verb, and the two new
compaction verbs (text_index_compact, compact_batch_store) preserving
query values. VERDICT r11 #7.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from postgres_cdc_reconciliation_spark.operators.maintenance import (
    compact_batch_store,
    detect_tier,
    maintenance_report,
)


def _row(report, tier):
    rows = [r for r in report.collect() if r["tier"] == tier]
    assert len(rows) == 1, report.collect()
    return rows[0]


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, f"tok{i % 7} alpha tok{i % 5} beta gamma tok{i}") for i in range(60)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestDetectAndReport:
    def test_manifest_target(self, spark, tmp_path):
        from postgres_cdc_reconciliation_spark.operators.manifest_target import (
            commit_delta,
        )

        root = str(tmp_path / "mt")
        df = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        )
        commit_delta(df, root, ["k"], list(range(4)), 4)
        assert detect_tier(spark, root) == "manifest_target"
        r = _row(maintenance_report(spark, root), "manifest_target")
        assert r["n_files"] > 0 and r["n_bytes"] > 0
        assert r["n_versions"] == 1
        assert r["stale_files"] == 0  # no orphan stage attempts
        assert r["compaction_due"] is False and r["advice"] == "healthy"
        # versions beyond the threshold flip the verdict
        for i in range(3):
            commit_delta(
                df.limit(5), root, ["k"], list(range(4)), 4
            )
        r = _row(
            maintenance_report(spark, root, max_versions=2), "manifest_target"
        )
        assert r["compaction_due"] is True and "vacuum" in r["advice"]

    def test_manifest_orphan_stage_detected(self, spark, tmp_path):
        from postgres_cdc_reconciliation_spark.operators.manifest_target import (
            commit_delta,
        )

        root = str(tmp_path / "mo")
        df = spark.range(20).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        )
        commit_delta(df, root, ["k"], list(range(4)), 4)
        # a crashed writer's staged-but-never-committed attempt
        df.limit(3).withColumn(
            "_bucket", F.lit(0)
        ).write.partitionBy("_bucket").parquet(f"{root}/stage/v=9-deadbeef")
        r = _row(maintenance_report(spark, root), "manifest_target")
        assert r["stale_files"] == 1
        assert r["compaction_due"] is True and "orphan" in r["advice"]

    def test_text_index(self, spark, docs, tmp_path):
        from postgres_cdc_reconciliation_spark.operators.retrieval import (
            text_index_admit,
            text_index_build,
        )

        path = str(tmp_path / "ti")
        half = docs.where(F.col("doc_id") < 30)
        text_index_build(half, path, n_buckets=8)
        assert detect_tier(spark, path) == "text_index"
        r = _row(maintenance_report(spark, path), "text_index")
        assert r["n_admits"] == 0 and r["compaction_due"] is False
        for lo in (30, 40, 50):
            text_index_admit(
                docs.where(
                    (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 10)
                ),
                path,
            )
        r = _row(maintenance_report(spark, path, max_admits=2), "text_index")
        assert r["n_admits"] == 3
        assert r["compaction_due"] is True
        assert "text_index_compact" in r["advice"]

    def test_stamped_parquet(self, spark, tmp_path):
        from postgres_cdc_reconciliation_spark.operators.layout import (
            stamp_zonemap,
        )

        path = str(tmp_path / "zp")
        spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") % 50).alias("g")
        ).repartition(4).write.parquet(path)
        stamp_zonemap(spark, path, ["k"])
        assert detect_tier(spark, path) == "stamped_parquet"
        r = _row(maintenance_report(spark, path), "stamped_parquet")
        assert r["stale_files"] == 0 and r["compaction_due"] is False
        # append files the sidecar hasn't seen: staleness rises, advice
        # names the append-mode restamp
        spark.range(1000, 2000).select(
            F.col("id").alias("k"), (F.col("id") % 50).alias("g")
        ).repartition(4).write.mode("append").parquet(path)
        r = _row(
            maintenance_report(spark, path, max_stale_share=0.25),
            "stamped_parquet",
        )
        assert r["stale_files"] == 4
        assert r["compaction_due"] is True
        assert "stamp_zonemap(mode='append')" in r["advice"]

    def test_batch_store(self, spark, tmp_path):
        path = str(tmp_path / "bs")
        for b in range(4):
            spark.createDataFrame(
                [(f"d{b}", f"band_{b % 2}")], "doc_id string, band string"
            ).write.parquet(f"{path}/batch={b}")
        assert detect_tier(spark, path) == "batch_store"
        r = _row(maintenance_report(spark, path, max_admits=3), "batch_store")
        assert r["n_admits"] == 4
        assert r["compaction_due"] is True
        assert "compact_batch_store" in r["advice"]

    def test_unknown_path_is_loud_not_fatal(self, spark, tmp_path):
        path = str(tmp_path / "plain")
        spark.range(10).write.parquet(path)
        r = _row(maintenance_report(spark, path), "unknown")
        assert r["compaction_due"] is False

    def test_multiple_paths_one_report(self, spark, tmp_path):
        p1 = str(tmp_path / "a")
        p2 = str(tmp_path / "b")
        spark.range(5).write.parquet(p1)
        spark.range(5).write.parquet(p2)
        rep = maintenance_report(spark, [p1, p2])
        assert rep.count() == 2
        with pytest.raises(ValueError, match="non-empty"):
            maintenance_report(spark, [])


class TestTextIndexCompact:
    def test_value_identical_and_flat_dirs(self, spark, docs, tmp_path):
        from postgres_cdc_reconciliation_spark.operators.retrieval import (
            bm25_persisted,
            text_index_admit,
            text_index_build,
            text_index_compact,
        )

        src = str(tmp_path / "src")
        dst = str(tmp_path / "dst")
        text_index_build(docs.where(F.col("doc_id") < 30), src, n_buckets=8)
        for lo in (30, 45):
            text_index_admit(
                docs.where(
                    (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 15)
                ),
                src,
            )
        meta = text_index_compact(spark, src, dst)
        assert meta["deltas"] == []
        assert meta["n_docs"] == 60
        terms = ["alpha", "tok3"]
        before = sorted(map(tuple, bm25_persisted(spark, src, terms).collect()))
        after = sorted(map(tuple, bm25_persisted(spark, dst, terms).collect()))
        assert after == before
        r = _row(maintenance_report(spark, dst), "text_index")
        assert r["n_admits"] == 0 and r["compaction_due"] is False

    def test_guards(self, spark, docs, tmp_path):
        from postgres_cdc_reconciliation_spark.operators.retrieval import (
            text_index_build,
            text_index_compact,
        )

        src = str(tmp_path / "g")
        text_index_build(docs.limit(5), src, n_buckets=4)
        with pytest.raises(ValueError, match="NEW path"):
            text_index_compact(spark, src, src)
        dst = str(tmp_path / "g2")
        text_index_compact(spark, src, dst)
        with pytest.raises(ValueError, match="already holds"):
            text_index_compact(spark, src, dst)


class TestCompactBatchStore:
    def test_rows_preserved_and_file_bound(self, spark, tmp_path):
        src = str(tmp_path / "s")
        dst = str(tmp_path / "d")
        for b in range(5):
            spark.createDataFrame(
                [(f"d{b}_{i}", f"band_{i % 3}") for i in range(20)],
                "doc_id string, band string",
            ).write.parquet(f"{src}/batch={b}")
        n = compact_batch_store(spark, src, dst, partition_col="band")
        assert n == 100
        before = sorted(
            map(
                tuple,
                spark.read.parquet(src).select("doc_id", "band").collect(),
            )
        )
        after = sorted(
            map(
                tuple,
                spark.read.parquet(dst).select("doc_id", "band").collect(),
            )
        )
        assert after == before
        r = _row(maintenance_report(spark, dst), "batch_store")
        assert r["n_admits"] == 1 and r["compaction_due"] is False
        with pytest.raises(ValueError, match="already exists"):
            compact_batch_store(spark, src, dst)

    def test_engine_facade(self, spark, tmp_path):
        from postgres_cdc_reconciliation_spark.engine import Engine

        eng = Engine(spark)
        p = str(tmp_path / "e")
        spark.range(5).write.parquet(p)
        assert eng.maintenance_report(p).count() == 1


class TestMaintainExecutor:
    """maintain() (VERDICT r12 #7): the report's advice must be runnable.
    dry_run plans without touching anything; execution per tier drives
    the due verb and the report goes green after."""

    def _grown_manifest(self, spark, root):
        import glob
        import os
        import shutil

        from postgres_cdc_reconciliation_spark.operators.manifest_target import (
            _bucket_path,
            commit_delta,
            read_manifest,
        )

        df = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        )
        commit_delta(df, root, ["k"], list(range(4)), 4)
        for i in range(10):  # versions accumulate -> vacuum due
            # complete bucket content each time (the delta contract)
            commit_delta(df, root, ["k"], list(range(4)), 4)
        # a commit writes one file per bucket; a target written before
        # commits clustered on the bucket id holds a live bucket's rows
        # in several files. Rebuild one live bucket dir that way (same
        # rows, 6 files) -> compact due
        _, mapping = read_manifest(spark, root)
        b = min(mapping)
        bdir = _bucket_path(root, b, mapping[b])
        scatter = f"{root}_scatter"
        spark.read.parquet(bdir).repartition(6).write.parquet(scatter)
        for f in glob.glob(f"{bdir}/*part-*"):
            os.remove(f)
        for f in glob.glob(f"{scatter}/*part-*"):
            shutil.move(f, bdir)
        assert len(glob.glob(f"{bdir}/*.parquet")) == 6
        return df

    def test_dry_run_touches_nothing(self, spark, tmp_path):
        from postgres_cdc_reconciliation_spark.operators.maintenance import (
            maintain,
        )
        from postgres_cdc_reconciliation_spark.operators.manifest_target import (
            _manifest_versions,
        )

        root = str(tmp_path / "mt")
        self._grown_manifest(spark, root)
        before = _manifest_versions(spark, root)
        plan = maintain(
            spark, root, dry_run=True, max_files_per_bucket=4
        ).collect()
        assert all(r["executed"] is False for r in plan)
        assert {r["action"] for r in plan} >= {"manifest_compact"}
        assert _manifest_versions(spark, root) == before  # untouched

    def test_manifest_tier_end_to_end(self, spark, tmp_path):
        from postgres_cdc_reconciliation_spark.operators.maintenance import (
            maintain,
        )
        from postgres_cdc_reconciliation_spark.operators.manifest_target import (
            read_snapshot,
        )

        root = str(tmp_path / "mt")
        df = self._grown_manifest(spark, root)
        r = _row(
            maintenance_report(
                spark, root, max_files_per_bucket=4, max_versions=4
            ),
            "manifest_target",
        )
        assert r["compaction_due"] is True
        done = maintain(
            spark,
            root,
            dry_run=False,
            max_files_per_bucket=4,
            max_versions=4,
            keep_manifests=2,
            min_attempt_age_seconds=0.0,
        ).collect()
        by_action = {x["action"]: x for x in done}
        assert by_action["manifest_compact"]["executed"] is True
        assert by_action["manifest_vacuum"]["executed"] is True
        # data intact
        got = {r2["k"] for r2 in read_snapshot(spark, root).collect()}
        assert got == set(range(100))
        # and the report is green after
        r2 = _row(
            maintenance_report(
                spark, root, max_files_per_bucket=4, max_versions=4
            ),
            "manifest_target",
        )
        assert r2["compaction_due"] is False, r2["advice"]

    def test_manifest_key_cols_come_from_the_stamp(self, spark, tmp_path):
        """compact needs key_cols; maintain reads them (and n_buckets) from
        the manifest's own stamps instead of requiring the caller to
        re-supply them."""
        from postgres_cdc_reconciliation_spark.operators.maintenance import (
            maintain,
        )
        from postgres_cdc_reconciliation_spark.operators.manifest_target import (
            _read_manifest_doc,
        )

        root = str(tmp_path / "mt")
        self._grown_manifest(spark, root)
        done = maintain(
            spark, root, dry_run=False, max_files_per_bucket=4
        ).collect()
        row = [x for x in done if x["action"] == "manifest_compact"][0]
        assert row["executed"] is True, row["detail"]
        _, doc = _read_manifest_doc(spark, root)
        assert doc["operation"] == "full"
        assert (doc["key_cols"], doc["n_buckets"]) == (["k"], 4)

    def test_batch_store_swap_and_green(self, spark, tmp_path):
        from postgres_cdc_reconciliation_spark.operators.maintenance import (
            maintain,
        )

        src = str(tmp_path / "store")
        df = spark.range(50).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("g")
        )
        for b in range(6):
            df.write.parquet(f"{src}/batch={b}")
        r = _row(maintenance_report(spark, src, max_admits=4), "batch_store")
        assert r["compaction_due"] is True
        done = maintain(spark, src, dry_run=False, max_admits=4).collect()
        row = [x for x in done if x["action"] == "compact_batch_store"][0]
        assert row["executed"] is True, row["detail"]
        # rows preserved at the SAME path; backup kept beside it
        assert spark.read.parquet(src).count() == 300
        assert (tmp_path / "store__pre_compact").exists()
        r2 = _row(maintenance_report(spark, src, max_admits=4), "batch_store")
        assert r2["compaction_due"] is False, r2["advice"]

    def test_stamped_parquet_restamp(self, spark, tmp_path):
        import json as _json

        from postgres_cdc_reconciliation_spark.operators.layout import (
            stamp_zonemap,
        )
        from postgres_cdc_reconciliation_spark.operators.maintenance import (
            maintain,
        )

        path = str(tmp_path / "zl")
        df = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("ts")
        )
        df.orderBy("ts").coalesce(4).write.parquet(path)
        stamp_zonemap(spark, path, ["ts"])
        # grow: new files the sidecar hasn't seen
        df.limit(100).write.mode("append").parquet(path)
        r = _row(
            maintenance_report(spark, path, max_stale_share=0.1),
            "stamped_parquet",
        )
        assert r["compaction_due"] is True and r["stale_files"] > 0
        done = maintain(
            spark, path, dry_run=False, max_stale_share=0.1
        ).collect()
        row = [x for x in done if x["action"] == "stamp_zonemap"][0]
        assert row["executed"] is True, row["detail"]
        # every live file is now stamped -> report green
        r2 = _row(
            maintenance_report(spark, path, max_stale_share=0.1),
            "stamped_parquet",
        )
        assert r2["compaction_due"] is False, r2["advice"]
        doc = _json.loads(
            (tmp_path / "zl" / "_pcr_zonemap.json").read_text()
        )
        assert len(doc["files"]) == r2["n_files"]

    def test_engine_facade_maintain(self, spark, tmp_path):
        from postgres_cdc_reconciliation_spark.engine import Engine

        root = str(tmp_path / "mt")
        self._grown_manifest(spark, root)
        eng = Engine(spark)
        plan = eng.maintain(root, max_files_per_bucket=4).collect()
        assert plan and all(r["executed"] is False for r in plan)

    def test_text_index_tier_end_to_end(self, spark, docs, tmp_path):
        """Due text index -> maintain compacts to __compacted, swaps in,
        keeps the backup, query values unchanged, report green after."""
        from postgres_cdc_reconciliation_spark.operators.maintenance import (
            maintain,
        )
        from postgres_cdc_reconciliation_spark.operators.retrieval import (
            bm25_persisted,
            text_index_admit,
            text_index_build,
        )

        path = str(tmp_path / "ti")
        text_index_build(docs.where(F.col("doc_id") < 30), path, n_buckets=8)
        for lo in (30, 40, 50):
            text_index_admit(
                docs.where(
                    (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 10)
                ),
                path,
            )
        terms = ["alpha", "tok3"]
        before = sorted(map(tuple, bm25_persisted(spark, path, terms).collect()))
        done = maintain(spark, path, dry_run=False, max_admits=2).collect()
        row = [x for x in done if x["action"] == "text_index_compact"][0]
        assert row["executed"] is True, row["detail"]
        after = sorted(map(tuple, bm25_persisted(spark, path, terms).collect()))
        assert after == before  # same path, same answers
        assert (tmp_path / "ti__pre_compact").exists()
        r = _row(maintenance_report(spark, path, max_admits=2), "text_index")
        assert r["compaction_due"] is False, r["advice"]

    def test_stream_state_prune(self, spark, tmp_path):
        """Over-retained committed stream-state versions are pruned to the
        threshold, newest kept, uncommitted attempt dirs untouched."""
        from postgres_cdc_reconciliation_spark.operators.maintenance import (
            maintain,
        )

        path = str(tmp_path / "st")
        df = spark.range(10).select(F.col("id").alias("k"))
        for v in range(6):
            df.write.parquet(f"{path}/v={v}/counters")
            (tmp_path / "st" / f"v={v}" / "_COMMIT").touch()
        df.write.parquet(f"{path}/v=99/counters")  # NO _COMMIT: in-flight
        r = _row(maintenance_report(spark, path, max_versions=3), "stream_state")
        assert r["compaction_due"] is True
        done = maintain(spark, path, dry_run=False, max_versions=3).collect()
        row = [x for x in done if x["action"] == "prune_stream_versions"][0]
        assert row["executed"] is True, row["detail"]
        left = sorted(p.name for p in (tmp_path / "st").iterdir())
        assert left == ["v=3", "v=4", "v=5", "v=99"]  # newest 3 + in-flight
        r2 = _row(
            maintenance_report(spark, path, max_versions=3), "stream_state"
        )
        assert r2["compaction_due"] is False, r2["advice"]

    def test_clustered_filecount_compact_end_to_end(self, spark, tmp_path):
        """A stamped dir grown past max_files -> maintain runs
        compact_clustered to __compacted, swaps in, sidecars restamped,
        values unchanged, report green after."""
        from postgres_cdc_reconciliation_spark.operators.layout import (
            stamp_zonemap,
        )
        from postgres_cdc_reconciliation_spark.operators.maintenance import (
            maintain,
        )

        path = str(tmp_path / "cl")
        df = spark.range(600).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("ts")
        )
        df.orderBy("ts").repartition(12).write.parquet(path)
        stamp_zonemap(spark, path, ["ts"], cluster_col="ts")
        r = _row(
            maintenance_report(spark, path, max_files=8), "stamped_parquet"
        )
        assert r["compaction_due"] is True and "compact_clustered" in r["advice"]
        before = sorted(x["k"] for x in spark.read.parquet(path).collect())
        done = maintain(spark, path, dry_run=False, max_files=8).collect()
        row = [x for x in done if x["action"] == "compact_clustered"][0]
        assert row["executed"] is True, row["detail"]
        after = sorted(x["k"] for x in spark.read.parquet(path).collect())
        assert after == before  # same path, same rows
        assert (tmp_path / "cl__pre_compact").exists()
        r2 = _row(
            maintenance_report(spark, path, max_files=8), "stamped_parquet"
        )
        assert r2["compaction_due"] is False, r2["advice"]
        assert r2["n_files"] <= 8 and r2["stale_files"] == 0

    def test_semantic_index_tier_end_to_end(self, spark, tmp_path):
        """A semantic index grown past max_admits -> maintain compacts it
        to __compacted, swaps in, ANN answers unchanged, report green."""
        from postgres_cdc_reconciliation_spark.operators.maintenance import (
            maintain,
        )
        from postgres_cdc_reconciliation_spark.operators.similarity import (
            ivf_topk_persisted,
            semantic_index_admit,
            semantic_index_build,
        )

        E4 = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0],
              [0.0, 0.0, 1.0, 0.0], [0.0, 0.0, 0.0, 1.0]]
        idx = str(tmp_path / "idx")
        seed = spark.createDataFrame(
            [(i, E4[i % 4]) for i in range(16)],
            "vec_id long, embedding array<double>",
        )
        semantic_index_build(seed, idx, target_cluster_size=4)
        for b in range(3):  # admitted batches -> admits over threshold
            semantic_index_admit(
                spark.createDataFrame(
                    [(100 + 10 * b + j, E4[j]) for j in range(4)],
                    "vec_id long, embedding array<double>",
                ),
                idx,
                batch_id=b,
            )
        q = spark.createDataFrame(
            [(999, [0.9, 0.1, 0.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
        before = sorted(
            map(tuple, ivf_topk_persisted(q, idx, k=3, nprobe=2).collect())
        )
        r = _row(maintenance_report(spark, idx, max_admits=2), "semantic_index")
        assert r["compaction_due"] is True
        done = maintain(spark, idx, dry_run=False, max_admits=2).collect()
        row = [x for x in done if x["action"] == "semantic_index_compact"][0]
        assert row["executed"] is True, row["detail"]
        after = sorted(
            map(tuple, ivf_topk_persisted(q, idx, k=3, nprobe=2).collect())
        )
        assert after == before  # same path, same answers
        r2 = _row(maintenance_report(spark, idx, max_admits=2), "semantic_index")
        assert r2["compaction_due"] is False, r2["advice"]


class TestSwapFailureHygiene:
    def test_stale_backup_fails_but_cleans_compacted_dir(self, spark, tmp_path):
        """ADVICE r13 #3: swap failure (stale __pre_compact backup) must
        not strand the freshly written __compacted dir — the next run's
        compact step would otherwise die on errorifexists. The failure
        stays loud (backup needs operator validation), but __compacted is
        removed and the live store is untouched."""
        from postgres_cdc_reconciliation_spark.operators.maintenance import (
            maintain,
        )

        src = str(tmp_path / "store")
        df = spark.range(50).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("g")
        )
        for b in range(6):
            df.write.parquet(f"{src}/batch={b}")
        # stale backup from a hypothetical earlier swap
        (tmp_path / "store__pre_compact").mkdir()
        (tmp_path / "store__pre_compact" / "x").write_text("old")

        done = maintain(spark, src, dry_run=False, max_admits=4).collect()
        row = [x for x in done if x["action"] == "compact_batch_store"][0]
        assert row["executed"] is False
        assert "already exists" in row["detail"]
        # the reproducible compacted output was cleaned up...
        assert not (tmp_path / "store__compacted").exists()
        # ...and the live store is intact
        assert spark.read.parquet(src).count() == 300

        # operator validates + removes the stale backup -> next run succeeds
        import shutil

        shutil.rmtree(tmp_path / "store__pre_compact")
        done2 = maintain(spark, src, dry_run=False, max_admits=4).collect()
        row2 = [x for x in done2 if x["action"] == "compact_batch_store"][0]
        assert row2["executed"] is True, row2["detail"]
        assert spark.read.parquet(src).count() == 300

    def test_stale_compacted_dir_is_rebuilt_not_fatal(self, spark, tmp_path):
        """A __compacted dir orphaned by a crash between compact and swap
        is reproducible output — maintain() deletes and rebuilds it
        instead of failing on errorifexists."""
        from postgres_cdc_reconciliation_spark.operators.maintenance import (
            maintain,
        )

        src = str(tmp_path / "store")
        df = spark.range(30).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("g")
        )
        for b in range(6):
            df.write.parquet(f"{src}/batch={b}")
        # crash debris: a prior run's compacted output that never swapped
        df.limit(3).write.parquet(str(tmp_path / "store__compacted"))

        done = maintain(spark, src, dry_run=False, max_admits=4).collect()
        row = [x for x in done if x["action"] == "compact_batch_store"][0]
        assert row["executed"] is True, row["detail"]
        assert spark.read.parquet(src).count() == 180
