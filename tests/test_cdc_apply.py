"""CDC envelope parse / unwrap / apply semantics (SURVEY.md §2.1 S5-S7, §2.9).

Covers the FIXTURES.md §5 event mix: inserts for all keys, updates for a
subset, deletes, out-of-order duplicates per key (max-LSN dedup), and a
tombstone (null value → filtered)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from postgres_cdc_reconciliation_spark.operators.apply import (
    apply_batch,
    latest_per_key,
)
from postgres_cdc_reconciliation_spark.sources.cdc import parse_stream, unwrap


def make_raw(spark):
    def env(op, before, after, lsn, ts_ms=1700000000000):
        return json.dumps(
            {"op": op, "before": before, "after": after,
             "source": {"lsn": lsn, "txId": 7, "ts_ms": ts_ms,
                        "schema": "public", "table": "orders"}}
        )

    def row(oid, amount):
        return {"order_id": oid, "customer_id": oid % 10,
                "amount": f"{amount:.2f}", "ts": "2026-01-01 00:00:00",
                "batch_id": oid // 2}

    events = [
        ("1", env("c", None, row(1, 10.00), "0/10")),
        ("2", env("c", None, row(2, 20.00), "0/20")),
        ("3", env("c", None, row(3, 30.00), "0/30")),
        # out-of-order duplicate updates for key 1: lsn 0/50 then 0/40
        ("1", env("u", row(1, 10.00), row(1, 11.00), "0/50")),
        ("1", env("u", row(1, 10.00), row(1, 10.50), "0/40")),
        # delete key 2 (before-image carried)
        ("2", env("d", row(2, 20.00), None, "0/60")),
        # tombstone (null value)
        ("2", None),
    ]
    return spark.createDataFrame(events, "key string, value string")


def test_parse_unwrap(spark):
    parsed = parse_stream(make_raw(spark))
    assert parsed.count() == 7
    # tombstone row: null op
    assert parsed.filter(F.col("op").isNull()).count() == 1
    flat = unwrap(parsed)
    assert flat.count() == 6  # tombstone dropped
    deleted = flat.filter(F.col("__deleted") == "true").collect()
    assert len(deleted) == 1 and deleted[0]["order_id"] == 2
    # delete carries the before-image
    assert float(deleted[0]["amount"]) == 20.00


def test_latest_per_key_max_lsn(spark):
    flat = unwrap(parse_stream(make_raw(spark)))
    latest = latest_per_key(flat, ["order_id"]).collect()
    by_key = {r["order_id"]: r for r in latest}
    assert set(by_key) == {1, 2, 3}
    assert float(by_key[1]["amount"]) == 11.00  # lsn 0/50 beats 0/40
    assert by_key[2]["op"] == "d"


def test_apply_batch_upsert_delete_idempotent(spark):
    flat = unwrap(parse_stream(make_raw(spark)))
    target0 = flat.limit(0).drop("op", "source_lsn", "ts_ms", "__deleted")
    t1 = apply_batch(target0, flat, ["order_id"])
    rows = {r["order_id"]: float(r["amount"]) for r in t1.collect()}
    assert rows == {1: 11.00, 3: 30.00}  # 2 deleted
    # idempotent: re-applying the same events changes nothing
    t2 = apply_batch(t1, flat, ["order_id"])
    rows2 = {r["order_id"]: float(r["amount"]) for r in t2.collect()}
    assert rows2 == rows
    # incremental batch: update 3, insert 4, delete 1
    def env_row(oid, amount, op, lsn):
        return (
            oid,
            oid % 10,
            None if amount is None else f"{amount:.2f}",
            None,
            oid // 2,
            op,
            lsn,
            1700000000001,
            "true" if op == "d" else "false",
        )

    batch2 = spark.createDataFrame(
        [
            env_row(3, 33.00, "u", "0/100"),
            env_row(4, 40.00, "c", "0/110"),
            env_row(1, 11.00, "d", "0/120"),
        ],
        "order_id long, customer_id int, amount string, ts timestamp_ntz, "
        "batch_id long, op string, source_lsn string, ts_ms long, __deleted string",
    ).withColumn("amount", F.col("amount").cast("decimal(10,2)"))
    t3 = apply_batch(t2, batch2, ["order_id"])
    rows3 = {r["order_id"]: float(r["amount"]) for r in t3.collect()}
    assert rows3 == {3: 33.00, 4: 40.00}


def test_apply_batch_schema_evolution_additive(spark):
    """Debezium schema.evolution=basic parity: new event columns append to
    the target (existing rows NULL there); old-schema events NULL-fill."""
    target = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, val string"
    )
    evolved_events = spark.createDataFrame(
        [(2, "b2", "eu", "u", "0/10", 1, "false"),
         (3, "c", "us", "c", "0/20", 2, "false")],
        "id long, val string, region string, op string, source_lsn string, "
        "ts_ms long, __deleted string",
    )
    # without the flag: the target's declared schema wins — the new column
    # is projected away (JDBC-sink "cast into the existing table" semantics;
    # the streaming wrapper raises instead, see test_streaming)
    t0 = apply_batch(target, evolved_events, ["id"])
    assert "region" not in t0.columns
    assert {r["id"]: r["val"] for r in t0.collect()} == {1: "a", 2: "b2", 3: "c"}

    t1 = apply_batch(target, evolved_events, ["id"], evolve_schema=True)
    rows = {r["id"]: (r["val"], r["region"]) for r in t1.collect()}
    assert rows == {1: ("a", None), 2: ("b2", "eu"), 3: ("c", "us")}

    # an old-schema event (no region) upserting into the evolved target
    old_events = spark.createDataFrame(
        [(1, "a9", "u", "0/30", 3, "false")],
        "id long, val string, op string, source_lsn string, ts_ms long, "
        "__deleted string",
    )
    t2 = apply_batch(t1, old_events, ["id"], evolve_schema=True)
    rows2 = {r["id"]: (r["val"], r["region"]) for r in t2.collect()}
    assert rows2[1] == ("a9", None) and rows2[2] == ("b2", "eu")


def test_lsn_parse_dirty_feed_nulls_not_errors(spark):
    """lsn_to_long on a dirty feed: malformed / non-hex / splitless /
    out-of-signed-range text parses to NULL — never an ANSI
    INVALID_ARRAY_INDEX / overflow that would kill the whole apply job —
    while well-formed LSNs (any case, any width, up to the 2^63-1
    encoding ceiling) are bit-identical to the strict parse."""
    from postgres_cdc_reconciliation_spark.functions.lsn import lsn_to_long

    cases = [
        ("0/1A", 26),
        ("00000000/0000001a", 26),
        ("7FFFFFFF/FFFFFFFF", 2**63 - 1),  # encoding ceiling
        ("ZZZ", None),  # no separator
        ("1A", None),
        ("", None),
        (None, None),
        ("0/GG", None),  # non-hex half
        ("0/1A/2B", None),  # extra separator
        ("80000000/0", None),  # past the signed-BIGINT encoding
        ("8000000000000000/0", None),  # 16-digit hi (unsigned-64 form)
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], "s string")
    got = {r["s"]: r["lsn"] for r in df.select("s", lsn_to_long("s").alias("lsn")).collect()}
    for s, want in cases:
        assert got[s] == want, (s, got[s], want)


def test_latest_per_key_drops_unorderable_events_no_ghost_row(spark):
    """A key whose every event has an unparseable LSN produces NO output
    row (the event cannot be ordered, so it costs itself) — previously
    max_by over the all-NULL ordering group emitted a ghost all-NULL row.
    A key with a mix keeps its parseable events only."""
    ev = spark.createDataFrame(
        [
            (1, "0/10", "u", "keep"),
            (1, "garbage", "u", "mangled-later-event"),
            (2, "ZZZ", "u", "only-event-mangled"),
        ],
        "order_id long, source_lsn string, op string, val string",
    )
    rows = {r["order_id"]: r["val"] for r in latest_per_key(ev, ["order_id"]).collect()}
    assert rows == {1: "keep"}


def test_latest_per_key_duplicate_lsn_tie_is_partition_invariant(spark):
    """Duplicate (key, lsn) — impossible on a clean Debezium feed, routine
    in replayed/merged ones — must pick the SAME winner under any
    partitioning and input order (the driver's value-hash gate and the
    determinism sweep assume partition-invariance everywhere). The
    tie-break is a payload hash, not max_by's arrival order."""
    base = [
        (1, "0/10", "u", "A"),
        (1, "0/10", "u", "B"),
        (1, "0/10", "u", "C"),
        (2, "0/7", "u", "X"),
    ]
    winners = set()
    for order, nparts in [(base, 1), (base[::-1], 8), (base[1:] + base[:1], 3)]:
        ev = spark.createDataFrame(
            order, "order_id long, source_lsn string, op string, val string"
        ).repartition(nparts)
        rows = {
            r["order_id"]: r["val"] for r in latest_per_key(ev, ["order_id"]).collect()
        }
        assert rows[2] == "X"
        winners.add(rows[1])
    assert len(winners) == 1, winners


def test_malformed_envelopes_cost_themselves_end_to_end(spark):
    """Dirty envelope JSON through the whole parse→unwrap→order→apply
    chain: from_json NULLs malformed text, unwrap drops rows with no
    usable image, and an event that survives unwrap but lost its source
    block (NULL LSN) is dropped by latest_per_key as unorderable — one
    garbage message costs itself; every well-formed event still applies."""
    import json as _json

    def env(op, lsn, after):
        return _json.dumps(
            {"op": op, "before": None, "after": after,
             "source": {"lsn": lsn, "txId": 1, "ts_ms": 1700000000000,
                        "schema": "public", "table": "orders"}}
        )

    def row(oid, amount):
        return {"order_id": oid, "customer_id": oid % 10,
                "amount": f"{amount:.2f}", "ts": "2026-01-01 00:00:00",
                "batch_id": 0}

    vals = [
        env("r", "0/10", row(1, 10.0)),
        env("u", "0/11", row(1, 11.0)),
        '{"op": "r", "before"',  # truncated mid-key
        "",
        None,
        "not json at all",
        _json.dumps({"op": "u", "before": None, "after": row(2, 20.0)}),  # no source
        env("u", "XYZ", row(3, 30.0)),  # unparseable LSN
        env("r", "0/20", row(4, 40.0)),
    ]
    raw = spark.createDataFrame([(str(i), v) for i, v in enumerate(vals)],
                                "key string, value string")
    flat = unwrap(parse_stream(raw))
    latest = latest_per_key(flat, ["order_id"])
    rows = {r["order_id"]: str(r["amount"]) for r in latest.collect()}
    # key 1 took its newest valid event; keys 2 (no source) and 3 (bad
    # LSN) cost themselves; key 4 applied; nothing crashed, no ghost rows
    assert rows == {1: "11.00", 4: "40.00"}


def test_null_key_events_never_upsert_ghost_rows(spark):
    """A PK-less event (NULL key — a mangled envelope that still parsed)
    must not upsert a NULL-key row into the target or delete anything:
    the keyed anti-join/upsert plumbing is null-rejecting end to end.
    Well-formed events in the same batch still apply."""
    target = spark.createDataFrame([(1, "a"), (2, "b")], "order_id long, v string")
    # NOTE: no null-key delete shadowing the null-key upsert — the first
    # version of this fixture had one, and latest_per_key's NULL group
    # collapsed to it, making the pin pass vacuously (second review pass)
    events = spark.createDataFrame(
        [
            (None, "0/10", "u", "ghost-upsert"),
            (2, "0/11", "u", "b2"),
        ],
        "order_id long, source_lsn string, op string, v string",
    )
    out = {r["order_id"]: r["v"] for r in apply_batch(target, events, ["order_id"]).collect()}
    assert out == {1: "a", 2: "b2"}


def test_drop_metrics_stats_pass(spark):
    """The dirty-feed guards drop unparseable-LSN / NULL-key events by
    contract — but the discard must be OBSERVABLE (ADVICE r7).
    drop_metrics, apply_stream's one stats pass per micro-batch, returns
    exact drop counts beside the batch's max parsed LSN and touched
    buckets."""
    from postgres_cdc_reconciliation_spark.operators.apply import (
        bucket_expr,
        drop_metrics,
    )

    ev = spark.createDataFrame(
        [
            (1, "0/10", "u"),        # clean
            (2, "garbage", "u"),     # unparseable LSN -> unorderable
            (None, "0/20", "u"),     # NULL key -> unkeyable
            (None, "also-bad", "u"), # both (counted once in 'dropped')
        ],
        "order_id long, source_lsn string, op string",
    )
    m = drop_metrics(ev, ["order_id"], n_buckets=8)
    assert m["events"] == 4
    assert m["unorderable_lsn"] == 2
    assert m["unkeyable"] == 2
    assert m["dropped"] == 3
    assert m["dropped"] == m["events"] - latest_per_key(ev, ["order_id"]).count()
    # dropped events still count toward the frontier: 0/20 was consumed
    assert m["applied_lsn_long"] == 0x20
    assert m["buckets"] == sorted(
        {r[0] for r in ev.select(bucket_expr(["order_id"], 8)).collect()}
    )
    empty = drop_metrics(ev.limit(0), ["order_id"])
    assert empty == {"events": 0, "unorderable_lsn": 0, "unkeyable": 0,
                     "dropped": 0, "applied_lsn_long": None, "buckets": []}


def test_apply_stream_logs_dropped_events(spark, tmp_path, caplog):
    """apply_stream's per-batch drop accounting surfaces in the log: a
    micro-batch carrying a mangled event produces one loud warning naming
    the counts, and clean events still apply."""
    import logging

    from postgres_cdc_reconciliation_spark.operators.apply import (
        apply_stream,
        read_target,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "0/10", "u", "a"), (2, "bad-lsn", "u", "b"), (3, "0/30", "u", "c")],
        "order_id long, source_lsn string, op string, payload string",
    ).write.json(src)
    stream = spark.readStream.schema(
        "order_id long, source_lsn string, op string, payload string"
    ).json(src)
    with caplog.at_level(
        logging.WARNING, logger="postgres_cdc_reconciliation_spark.operators.apply"
    ):
        q = apply_stream(
            stream,
            str(tmp_path / "target"),
            ["order_id"],
            str(tmp_path / "ckpt"),
        ).start()
        q.processAllAvailable()
        q.stop()
    applied = read_target(spark, str(tmp_path / "target"))
    assert sorted(r["order_id"] for r in applied.collect()) == [1, 3]
    msgs = [r.getMessage() for r in caplog.records if "dropped" in r.getMessage()]
    assert msgs and "dropped 1 of 3 events" in msgs[0]

    # SECOND batch against the now-existing target — the plan shape that
    # deadlocked the round-8 Observation wiring (target parquet scan joined
    # into the micro-batch plan -> Observation.get blocked forever; the
    # round-9 drop_metrics agg must complete promptly and still warn).
    import time

    spark.createDataFrame(
        [(4, "0/40", "u", "d"), (5, "worse-lsn", "u", "e")],
        "order_id long, source_lsn string, op string, payload string",
    ).write.mode("append").json(src)
    caplog.clear()
    t0 = time.time()
    with caplog.at_level(
        logging.WARNING, logger="postgres_cdc_reconciliation_spark.operators.apply"
    ):
        q = apply_stream(
            stream,
            str(tmp_path / "target"),
            ["order_id"],
            str(tmp_path / "ckpt"),
        ).start()
        q.processAllAvailable()
        q.stop()
    assert time.time() - t0 < 60  # a deadlock here surfaces as a hang
    applied = read_target(spark, str(tmp_path / "target"))
    assert sorted(r["order_id"] for r in applied.collect()) == [1, 3, 4]
    msgs = [r.getMessage() for r in caplog.records if "dropped" in r.getMessage()]
    assert msgs and "dropped 1 of 2 events" in msgs[0]
