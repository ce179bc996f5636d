"""Row-level deletes on the manifest target (delete_keys / delete_where):
exact survivors, O(touched buckets) IO, empty-bucket dropout, no-op on
absent keys, NULL-predicate SQL semantics, time travel across the delete,
and the lost-update race guard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from postgres_cdc_reconciliation_spark.operators.apply import bucket_expr
from postgres_cdc_reconciliation_spark.operators.manifest_target import (
    commit_delta,
    delete_keys,
    delete_where,
    describe_history,
    read_snapshot,
)

N_BUCKETS = 8


def _commit_range(spark, root, n=200):
    df = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    return commit_delta(df, root, ["k"], list(range(N_BUCKETS)), N_BUCKETS)


class TestDeleteKeys:
    def test_exact_survivors_and_version(self, spark, tmp_path_factory):
        root = str(tmp_path_factory.mktemp("dk"))
        v0 = _commit_range(spark, root)
        v1 = delete_keys(spark, root, ["k"], [3, 77, 150])
        assert v1 == v0 + 1
        left = {r["k"] for r in read_snapshot(spark, root).collect()}
        assert left == set(range(200)) - {3, 77, 150}
        # time travel: the pre-delete snapshot still holds the rows
        old = {r["k"] for r in read_snapshot(spark, root, version=v0).collect()}
        assert old == set(range(200))

    def test_touches_only_routed_buckets(self, spark, tmp_path_factory):
        root = str(tmp_path_factory.mktemp("dk"))
        _commit_range(spark, root)
        hist_before = {
            r["version"]: r for r in describe_history(spark, root).collect()
        }
        delete_keys(spark, root, ["k"], [5])
        hist = {r["version"]: r for r in describe_history(spark, root).collect()}
        new_v = max(hist)
        routed = (
            spark.createDataFrame([(5,)], ["k"])
            .select(bucket_expr(["k"], N_BUCKETS).alias("b"))
            .first()["b"]
        )
        assert hist[new_v]["buckets_rewritten"] == 1
        assert len(hist) == len(hist_before) + 1

    def test_absent_keys_noop(self, spark, tmp_path_factory):
        root = str(tmp_path_factory.mktemp("dk"))
        v0 = _commit_range(spark, root, n=20)
        # keys routing to live buckets but absent: still commits a rewrite
        # of the routed buckets (values unchanged); keys routing NOWHERE
        # live is the true no-op — craft one by deleting everything first
        v1 = delete_keys(spark, root, ["k"], list(range(20)))
        assert read_snapshot(spark, root).count() == 0
        v2 = delete_keys(spark, root, ["k"], [7])
        assert v2 == v1  # no live bucket for the key — version unchanged

    def test_last_row_drops_bucket(self, spark, tmp_path_factory):
        root = str(tmp_path_factory.mktemp("dk"))
        _commit_range(spark, root, n=50)
        delete_keys(spark, root, ["k"], list(range(50)))
        snap = read_snapshot(spark, root)
        assert snap.count() == 0
        assert snap.columns == ["k", "v"]  # schema survives via the stamp

    def test_composite_keys_and_errors(self, spark, tmp_path_factory):
        root = str(tmp_path_factory.mktemp("dk"))
        df = spark.createDataFrame(
            [(1, "a", 1.0), (1, "b", 2.0), (2, "a", 3.0)], "k1 long, k2 string, v double"
        )
        commit_delta(df, root, ["k1", "k2"], list(range(N_BUCKETS)), N_BUCKETS)
        delete_keys(spark, root, ["k1", "k2"], [(1, "b")])
        left = {(r["k1"], r["k2"]) for r in read_snapshot(spark, root).collect()}
        assert left == {(1, "a"), (2, "a")}
        with pytest.raises(ValueError, match="non-empty"):
            delete_keys(spark, root, ["k1", "k2"], [])
        with pytest.raises(ValueError, match="carry 2"):
            delete_keys(spark, root, ["k1", "k2"], [1])
        with pytest.raises(FileNotFoundError):
            delete_keys(spark, root + "_none", ["k"], [1])


class TestDeleteWhere:
    def test_predicate_delete_and_null_semantics(self, spark, tmp_path_factory):
        root = str(tmp_path_factory.mktemp("dw"))
        df = spark.createDataFrame(
            [(1, 10.0), (2, None), (3, 30.0), (4, 5.0)], "k long, v double"
        )
        commit_delta(df, root, ["k"], list(range(N_BUCKETS)), N_BUCKETS)
        delete_where(spark, root, ["k"], "v > 9")
        left = {r["k"] for r in read_snapshot(spark, root).collect()}
        # NULL predicate keeps the row (SQL DELETE semantics)
        assert left == {2, 4}

    def test_untouched_buckets_not_staged(self, spark, tmp_path_factory):
        root = str(tmp_path_factory.mktemp("dw"))
        _commit_range(spark, root)
        delete_where(spark, root, ["k"], F.col("k") == 9)
        hist = {r["version"]: r for r in describe_history(spark, root).collect()}
        routed = (
            spark.createDataFrame([(9,)], ["k"])
            .select(bucket_expr(["k"], N_BUCKETS).alias("b"))
            .first()["b"]
        )
        assert hist[max(hist)]["buckets_rewritten"] == 1
        assert {r["k"] for r in read_snapshot(spark, root).collect()} == (
            set(range(200)) - {9}
        )

    def test_no_match_is_noop(self, spark, tmp_path_factory):
        root = str(tmp_path_factory.mktemp("dw"))
        v0 = _commit_range(spark, root, n=20)
        assert delete_where(spark, root, ["k"], "k > 1000") == v0

    def test_race_guard(self, spark, tmp_path_factory):
        """A writer committing between the find-scan and the delete's
        commit must surface as the lost-the-race error, not a lost update.
        Simulated by monkeypatching the read to an older base_version via
        a direct commit_delta race: delete, then try committing with the
        stale base."""
        root = str(tmp_path_factory.mktemp("dw"))
        v0 = _commit_range(spark, root, n=50)
        v1 = delete_where(spark, root, ["k"], "k < 5")
        assert v1 == v0 + 1
        # a commit claiming the PRE-delete base loses
        df = spark.range(1).select(F.col("id").alias("k"), F.lit(0.0).alias("v"))
        with pytest.raises(IOError, match="lost the race"):
            commit_delta(df, root, ["k"], [0], N_BUCKETS, base_version=v0)


class TestUpdateWhere:
    def test_updates_exactly_matching_rows(self, spark, tmp_path_factory):
        from postgres_cdc_reconciliation_spark.operators.manifest_target import (
            update_where,
        )

        root = str(tmp_path_factory.mktemp("uw"))
        df = spark.createDataFrame(
            [(1, 10.0, "a"), (2, None, "b"), (3, 30.0, "c")],
            "k long, v double, tag string",
        )
        v0 = commit_delta(df, root, ["k"], list(range(N_BUCKETS)), N_BUCKETS)
        v1 = update_where(
            spark, root, ["k"], "v > 9",
            {"v": "v * 10", "tag": F.lit("bumped")},
        )
        assert v1 == v0 + 1
        got = {r["k"]: (r["v"], r["tag"]) for r in read_snapshot(spark, root).collect()}
        # NULL predicate row untouched; both matching rows updated
        assert got == {1: (100.0, "bumped"), 2: (None, "b"), 3: (300.0, "bumped")}
        # time travel still shows the old values
        old = {
            r["k"]: r["v"]
            for r in read_snapshot(spark, root, version=v0).collect()
        }
        assert old == {1: 10.0, 2: None, 3: 30.0}

    def test_type_preserved_and_single_bucket(self, spark, tmp_path_factory):
        from postgres_cdc_reconciliation_spark.operators.manifest_target import (
            update_where,
        )

        root = str(tmp_path_factory.mktemp("uw"))
        _commit_range(spark, root)
        update_where(spark, root, ["k"], "k = 9", {"v": "1"})  # int expr
        snap = read_snapshot(spark, root)
        assert dict(snap.dtypes)["v"] == "double"  # cast back to column type
        assert {r["v"] for r in snap.where("k = 9").collect()} == {1.0}
        hist = {r["version"]: r for r in describe_history(spark, root).collect()}
        assert hist[max(hist)]["buckets_rewritten"] == 1

    def test_guards(self, spark, tmp_path_factory):
        from postgres_cdc_reconciliation_spark.operators.manifest_target import (
            update_where,
        )

        root = str(tmp_path_factory.mktemp("uw"))
        v0 = _commit_range(spark, root, n=20)
        with pytest.raises(ValueError, match="key column"):
            update_where(spark, root, ["k"], "v > 0", {"k": "k + 1"})
        with pytest.raises(ValueError, match="non-empty"):
            update_where(spark, root, ["k"], "v > 0", {})
        with pytest.raises(ValueError, match="unknown column"):
            update_where(spark, root, ["k"], "v > 0", {"nope": "1"})
        assert update_where(spark, root, ["k"], "k > 999", {"v": "0"}) == v0


class TestNullKeyRows:
    """A NULL-key row must survive delete_keys regardless of code path:
    the ~isin fast path evaluates NULL for a NULL key (silently dropping
    the row) unless NULLs are kept explicitly, while the anti-join path
    keeps them — both paths must agree (ADVICE r11)."""

    def _commit_with_null(self, spark, root):
        df = spark.createDataFrame(
            [(0, "a"), (1, "b"), (None, "nullrow"), (2, "c")],
            "k bigint, v string",
        )
        return commit_delta(df, root, ["k"], list(range(N_BUCKETS)), N_BUCKETS)

    def test_fast_path_keeps_null_key_row(self, spark, tmp_path_factory):
        root = str(tmp_path_factory.mktemp("dknull"))
        self._commit_with_null(spark, root)
        delete_keys(spark, root, ["k"], [0, 1, 2])  # 3 keys -> isin path
        left = {(r["k"], r["v"]) for r in read_snapshot(spark, root).collect()}
        assert left == {(None, "nullrow")}

    def test_paths_agree(self, spark, tmp_path_factory):
        fast = str(tmp_path_factory.mktemp("dkf"))
        anti = str(tmp_path_factory.mktemp("dka"))
        self._commit_with_null(spark, fast)
        self._commit_with_null(spark, anti)
        delete_keys(spark, fast, ["k"], [1])
        # >2048 keys forces the anti-join path; only key 1 exists
        delete_keys(spark, anti, ["k"], [1] + list(range(10_000, 12_100)))
        got_fast = sorted(
            ((r["k"], r["v"]) for r in read_snapshot(spark, fast).collect()),
            key=str,
        )
        got_anti = sorted(
            ((r["k"], r["v"]) for r in read_snapshot(spark, anti).collect()),
            key=str,
        )
        assert got_fast == got_anti
        assert (None, "nullrow") in got_fast

    def test_none_in_requested_keys_rejected(self, spark, tmp_path_factory):
        # a None among the REQUESTED keys poisons the isin fast path:
        # `x IN (..., NULL)` is NULL for non-matching rows, so
        # `isNull | ~isin` would silently mass-delete every non-requested
        # row in the touched buckets, while the anti-join path no-ops the
        # NULL — reject up front so the paths can't diverge (ADVICE r12)
        root = str(tmp_path_factory.mktemp("dknone"))
        v0 = self._commit_with_null(spark, root)
        with pytest.raises(ValueError, match="must not be None"):
            delete_keys(spark, root, ["k"], [0, None, 2])  # isin regime
        with pytest.raises(ValueError, match="must not be None"):
            delete_keys(  # anti-join regime (>2048 keys)
                spark, root, ["k"], [None] + list(range(10_000, 12_100))
            )
        # nothing was deleted and no version was committed by either probe
        assert read_snapshot(spark, root).count() == 4
        hist = describe_history(spark, root).collect()
        assert max(r["version"] for r in hist) == v0


class TestRandomizedInterleaving:
    """N concurrent writers x {upserts, delete_keys, delete_where,
    update_where} on overlapping buckets: every committed version must be
    a serializable outcome (VERDICT r11 #6 — the silent failure mode here
    is a lost update, which at 100 TB is silent data corruption).

    Certificate (stronger than a final-state compare): for every committed
    version v, time-travel snapshots state(v-1) -> state(v) must be
    explained by exactly one recorded operation, and every other operation
    that observed v must have been a true no-op at state(v). The
    base_version guard makes each committed op's read state exactly
    state(v-1), so version order IS the serial order."""

    N_OPS_PER_WRITER = 4
    N_WRITERS = 4

    @staticmethod
    def _model(op, state):
        """Apply one recorded op to a python dict model {k: v}."""
        kind, arg = op
        out = dict(state)
        if kind == "upsert":
            for k, v in arg:
                out[k] = v
        elif kind == "compact":
            pass  # full-snapshot rewrite: content-identity by contract
        elif kind == "delete_keys":
            for k in arg:
                out.pop(k, None)
        elif kind == "delete_where_mod":
            m, r = arg
            out = {k: v for k, v in out.items() if k % m != r}
        elif kind == "update_range":
            lo, hi, add = arg
            out = {
                k: (v + add if lo <= k <= hi else v) for k, v in out.items()
            }
        else:  # pragma: no cover
            raise AssertionError(kind)
        return out

    def _writer(self, spark, root, seed, records, lock, retries):
        import random

        from postgres_cdc_reconciliation_spark.operators.manifest_target import (
            read_buckets,
            read_manifest,
        )
        from postgres_cdc_reconciliation_spark.operators.manifest_target import (
            update_where as mt_update_where,
        )

        rng = random.Random(seed)

        def _upsert_once(kv):
            v, mapping = read_manifest(spark, root)
            delta = spark.createDataFrame(list(kv), "k bigint, v double")
            touched = sorted(
                r["_b"]
                for r in delta.select(
                    bucket_expr(["k"], N_BUCKETS).alias("_b")
                ).distinct().collect()
            )
            live = [b for b in touched if b in mapping]
            prior = read_buckets(spark, root, live) if live else None
            if prior is None:
                merged = delta
            else:
                ks = [k for k, _ in kv]
                merged = prior.filter(~F.col("k").isin(ks)).unionByName(delta)
            return commit_delta(
                merged, root, ["k"], touched, N_BUCKETS, base_version=v
            )

        from postgres_cdc_reconciliation_spark.operators.manifest_target import (
            compact,
        )

        for i in range(self.N_OPS_PER_WRITER):
            choice = rng.randrange(5)
            if choice == 4:
                # maintenance compaction racing the DML writers — must be
                # content-identity at whatever version it lands on
                op, call = (
                    ("compact", None),
                    lambda: compact(spark, root, ["k"], N_BUCKETS),
                )
            elif choice == 0:
                kv = tuple(
                    (rng.randrange(300), float(rng.randrange(10_000)))
                    for _ in range(rng.randrange(1, 6))
                )
                # de-dup keys within one upsert (last write wins in-model,
                # but the delta frame must hold one row per key)
                kv = tuple({k: (k, v) for k, v in kv}.values())
                op, call = ("upsert", kv), lambda: _upsert_once(kv)
            elif choice == 1:
                ks = tuple(
                    sorted({rng.randrange(300) for _ in range(rng.randrange(1, 6))})
                )
                op, call = (
                    ("delete_keys", ks),
                    lambda: delete_keys(spark, root, ["k"], list(ks)),
                )
            elif choice == 2:
                m, r = rng.choice([(7, 3), (11, 5), (13, 1)])
                op, call = (
                    ("delete_where_mod", (m, r)),
                    lambda: delete_where(spark, root, ["k"], f"k % {m} = {r}"),
                )
            else:
                lo = rng.randrange(250)
                hi = lo + rng.randrange(10, 60)
                add = float(rng.randrange(1, 5) * 1000)
                op, call = (
                    ("update_range", (lo, hi, add)),
                    lambda: mt_update_where(
                        spark,
                        root,
                        ["k"],
                        f"k between {lo} and {hi}",
                        {"v": f"v + {add}"},
                    ),
                )
            for attempt in range(30):
                try:
                    got_v = call()
                    break
                except IOError as e:
                    assert "lost the race" in str(e)
                    with lock:
                        retries[0] += 1
            else:
                raise AssertionError("writer starved after 30 race losses")
            with lock:
                records.append((got_v, op))

    def test_interleaved_writers_serializable(self, spark, tmp_path_factory):
        import threading

        root = str(tmp_path_factory.mktemp("ilv"))
        v0 = _commit_range(spark, root, n=250)  # keys 0..249, v = 2k
        records: list[tuple[int, tuple]] = []
        lock = threading.Lock()
        retries = [0]
        threads = [
            threading.Thread(
                target=self._writer,
                args=(spark, root, 1000 + s, records, lock, retries),
            )
            for s in range(self.N_WRITERS)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert len(records) == self.N_WRITERS * self.N_OPS_PER_WRITER

        def _state(v):
            return {
                r["k"]: r["v"]
                for r in read_snapshot(spark, root, version=v).collect()
            }

        versions = sorted(
            r["version"]
            for r in describe_history(spark, root).collect()
        )
        # committed versions are contiguous: no writer ever skipped or
        # overwrote a version slot
        assert versions == list(range(v0, versions[-1] + 1))
        by_version: dict[int, list[tuple]] = {}
        for got_v, op in records:
            by_version.setdefault(got_v, []).append(op)
        # every version after the seed is owned by exactly one recorded op
        states = {v: _state(v) for v in versions}
        unexplained = []
        for v in versions:
            if v == v0:
                continue
            owners = [
                op
                for op in by_version.get(v, [])
                if self._model(op, states[v - 1]) == states[v]
            ]
            others = [
                op
                for op in by_version.get(v, [])
                if op not in owners
            ]
            if len(owners) < 1:
                unexplained.append((v, by_version.get(v, [])))
            # any co-recorded op at v must have been a true no-op there
            for op in others:
                assert self._model(op, states[v]) == states[v], (
                    v,
                    op,
                )
        assert not unexplained, unexplained
        # ops that returned an already-owned version (true no-ops) and
        # version owners together account for every record
        assert sum(len(v) for v in by_version.values()) == len(records)


class TestMaintenanceRaces:
    """compact() and the apply stream's manifest merge both read a
    snapshot and commit later — round 12 carries base_version through
    both, so a writer landing in the window surfaces as the
    lost-the-race IOError (compact) or an automatic re-merge (stream)
    instead of a silent whole-table revert."""

    def test_compact_loses_race_to_interleaved_writer(
        self, spark, tmp_path_factory, monkeypatch
    ):
        from postgres_cdc_reconciliation_spark.operators import (
            manifest_target as mt,
        )

        root = str(tmp_path_factory.mktemp("cr"))
        _commit_range(spark, root, n=60)
        real_read_snapshot = mt.read_snapshot

        def read_then_interleave(spark_, root_, version=None):
            snap = real_read_snapshot(spark_, root_, version=version)
            # a writer lands AFTER compact's read, BEFORE its commit
            delete_keys(spark_, root_, ["k"], [7])
            return snap

        monkeypatch.setattr(mt, "read_snapshot", read_then_interleave)
        with pytest.raises(IOError, match="lost the race"):
            mt.compact(spark, root, ["k"], N_BUCKETS)
        monkeypatch.undo()
        # the interleaved delete SURVIVED (nothing reverted), and a clean
        # re-run of the compaction succeeds on the new snapshot
        left = {r["k"] for r in read_snapshot(spark, root).collect()}
        assert 7 not in left and len(left) == 59
        mt.compact(spark, root, ["k"], N_BUCKETS)
        left2 = {r["k"] for r in read_snapshot(spark, root).collect()}
        assert left2 == left

    def test_apply_stream_remerges_past_interleaved_delete(
        self, spark, tmp_path, monkeypatch
    ):
        """A delete_keys landing between the stream merge's read and its
        commit must NOT be resurrected: the merge loses the race, re-reads
        the post-delete snapshot and re-merges its batch on top."""
        import json as _json

        from postgres_cdc_reconciliation_spark.operators import apply as ap
        from postgres_cdc_reconciliation_spark.operators import (
            manifest_target as mt,
        )

        target = str(tmp_path / "t")
        # seed the target with keys 0..9
        seed = spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)], "order_id long, val string"
        )
        mt.commit_delta(seed, target, ["order_id"], list(range(4)), 4)

        fired = {"n": 0}
        real_read_buckets = mt.read_buckets

        def read_then_interleave(spark_, root_, buckets):
            out = real_read_buckets(spark_, root_, buckets)
            if fired["n"] == 0:  # interleave exactly once (first attempt)
                fired["n"] += 1
                mt.delete_keys(spark_, root_, ["order_id"], [9])
            return out

        monkeypatch.setattr(ap, "read_buckets", read_then_interleave, raising=False)
        monkeypatch.setattr(mt, "read_buckets", read_then_interleave)

        src = tmp_path / "in"
        src.mkdir()
        # the batch upserts key 0 only — key 9's delete must persist
        with open(src / "b0.json", "w") as f:
            f.write(
                _json.dumps(
                    {
                        "op": "u",
                        "order_id": 0,
                        "val": "v0b",
                        "source_lsn": "0/10",
                        "ts_ms": 1,
                        "__deleted": "false",
                    }
                )
                + "\n"
            )
        events = spark.readStream.schema(
            "op string, order_id long, val string, source_lsn string, "
            "ts_ms long, __deleted string"
        ).json(str(src))
        q = ap.apply_stream(
            events,
            target,
            ["order_id"],
            str(tmp_path / "ck"),
            protocol="manifest",
            n_buckets=4,
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)
        got = {
            r["order_id"]: r["val"]
            for r in mt.read_snapshot(spark, target).collect()
        }
        assert fired["n"] == 1  # the race actually happened
        assert 9 not in got  # the interleaved delete was NOT resurrected
        assert got[0] == "v0b"  # and the batch's own upsert landed

    def test_apply_stream_first_commit_races_interleaved_v0(
        self, spark, tmp_path, monkeypatch
    ):
        """base_version is carried even for the target's FIRST commit: a
        writer committing v0 between the stream's manifest read (which saw
        -1, no snapshot) and its commit must surface as the lost race, not
        be silently reverted. Under the old base_version=None-when-v<0
        wiring the stream's v1 — merged from an EMPTY base — replaced the
        interleaved writer's bucket mapping for every touched bucket
        (ADVICE r12). The seeded key is chosen to hash into the SAME
        bucket as the stream's key so the revert would actually bite."""
        import json as _json

        from postgres_cdc_reconciliation_spark.operators import apply as ap
        from postgres_cdc_reconciliation_spark.operators import (
            manifest_target as mt,
        )
        from postgres_cdc_reconciliation_spark.operators.apply import (
            bucket_expr,
        )

        target = str(tmp_path / "t")
        n_buckets = 4
        # pick a seed key colliding with the stream key 0's bucket
        probe = spark.createDataFrame(
            [(k,) for k in range(1, 64)], "order_id long"
        ).select("order_id", bucket_expr(["order_id"], n_buckets).alias("b"))
        b0 = (
            spark.createDataFrame([(0,)], "order_id long")
            .select(bucket_expr(["order_id"], n_buckets).alias("b"))
            .first()["b"]
        )
        seed_key = probe.where(F.col("b") == b0).first()["order_id"]

        fired = {"n": 0}
        real_read_doc = mt._read_manifest_doc

        # the stream's merge reads the doc through the one manifest reader
        def read_then_interleave(spark_, root_, version=None):
            v, doc = real_read_doc(spark_, root_, version)
            if root_ == target and v < 0 and fired["n"] == 0:
                fired["n"] += 1
                seed = spark.createDataFrame(
                    [(seed_key, "seeded")], "order_id long, val string"
                )
                mt.commit_delta(
                    seed, target, ["order_id"], [int(b0)], n_buckets
                )
            return v, doc

        monkeypatch.setattr(mt, "_read_manifest_doc", read_then_interleave)

        src = tmp_path / "in"
        src.mkdir()
        with open(src / "b0.json", "w") as f:
            f.write(
                _json.dumps(
                    {
                        "op": "c",
                        "order_id": 0,
                        "val": "v0",
                        "source_lsn": "0/10",
                        "ts_ms": 1,
                        "__deleted": "false",
                    }
                )
                + "\n"
            )
        events = spark.readStream.schema(
            "op string, order_id long, val string, source_lsn string, "
            "ts_ms long, __deleted string"
        ).json(str(src))
        q = ap.apply_stream(
            events,
            target,
            ["order_id"],
            str(tmp_path / "ck"),
            protocol="manifest",
            n_buckets=n_buckets,
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)
        got = {
            r["order_id"]: r["val"]
            for r in mt.read_snapshot(spark, target).collect()
        }
        assert fired["n"] == 1  # the race actually happened
        # the interleaved v0 writer's row SURVIVED the stream's re-merge
        assert got == {seed_key: "seeded", 0: "v0"}


class TestLostRaceErrorNarrowing:
    """The retriable signal is a dedicated type: a bare `except IOError`
    in the apply retry loop also swallowed transient OS/filesystem faults
    (== OSError in py3) and re-merged them 5 times (ADVICE r12)."""

    def test_type_and_raise_sites(self, spark, tmp_path_factory):
        from postgres_cdc_reconciliation_spark.operators.manifest_target import (
            LostRaceError,
        )

        assert issubclass(LostRaceError, IOError)  # compat with old catches
        root = str(tmp_path_factory.mktemp("lr"))
        v0 = _commit_range(spark, root, n=20)
        df = read_snapshot(spark, root).limit(1)
        # stale base_version -> LostRaceError (not a bare IOError)
        with pytest.raises(LostRaceError, match="lost the race"):
            commit_delta(
                df, root, ["k"], list(range(N_BUCKETS)), N_BUCKETS,
                base_version=v0 - 1,
            )
        # first-commit semantics: base_version=-1 against an EXISTING
        # snapshot is also the lost race (the apply stream passes its read
        # version unconditionally, -1 included)
        with pytest.raises(LostRaceError, match="lost the race"):
            commit_delta(
                df, root, ["k"], list(range(N_BUCKETS)), N_BUCKETS,
                base_version=-1,
            )
        # ...and on a genuinely fresh target, base_version=-1 commits fine
        fresh = str(tmp_path_factory.mktemp("lrf"))
        v = commit_delta(
            df, fresh, ["k"], list(range(N_BUCKETS)), N_BUCKETS,
            base_version=-1,
        )
        assert v == 0
