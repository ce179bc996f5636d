"""Streaming e2e: file-source change stream → parse → unwrap → apply →
frontier (SURVEY.md §2.9 T1-T6; golden scenario of docs/getting_started.md
reproduced deterministically in FIXTURES.md §7 spirit)."""

from __future__ import annotations

import json

from postgres_cdc_reconciliation_spark.operators.apply import apply_stream
from postgres_cdc_reconciliation_spark.sources.cdc import (
    parse_stream,
    read_cdc_stream,
    unwrap,
)
from postgres_cdc_reconciliation_spark.streaming.frontier import current_frontier


def _env(op, before, after, lsn):
    return {
        "op": op,
        "before": before,
        "after": after,
        "source": {
            "lsn": lsn,
            "txId": 1,
            "ts_ms": 1700000000000,
            "schema": "public",
            "table": "orders",
        },
    }


def _row(oid, amount):
    return {
        "order_id": oid,
        "customer_id": oid % 10,
        "amount": f"{amount:.2f}",
        "ts": "2026-01-01 00:00:00",
        "batch_id": 0,
    }


def test_stream_apply_and_frontier(spark, tmp_path):
    src = tmp_path / "stream_in"
    src.mkdir()
    # micro-batch 1: snapshot-style inserts (T4), one per key
    with open(src / "batch1.json", "w") as f:
        for i in range(1, 6):
            f.write(
                json.dumps(
                    {"key": str(i), "value": json.dumps(_env("r", None, _row(i, i * 10.0), f"0/{i:X}"))}
                )
                + "\n"
            )
    # micro-batch 2: update key 2, delete key 3 (arrives later)
    with open(src / "batch2.json", "w") as f:
        f.write(
            json.dumps({"key": "2", "value": json.dumps(_env("u", _row(2, 20.0), _row(2, 22.0), "0/10"))})
            + "\n"
        )
        f.write(
            json.dumps({"key": "3", "value": json.dumps(_env("d", _row(3, 30.0), None, "0/11"))})
            + "\n"
        )

    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    frontier = str(tmp_path / "frontier")

    raw = read_cdc_stream(spark, file_path=str(src))
    flat = unwrap(parse_stream(raw))
    q = apply_stream(flat, target, ["order_id"], ckpt, frontier_path=frontier).trigger(
        availableNow=True
    ).start()
    q.awaitTermination(120)

    final = {
        r["order_id"]: float(r["amount"])
        for r in spark.read.parquet(target).collect()
    }
    assert final == {1: 10.0, 2: 22.0, 4: 40.0, 5: 50.0}  # 3 deleted, 2 updated

    f = current_frontier(spark, frontier).collect()[0]
    assert f["frontier_lsn_long"] == 0x11  # delete at 0/11 is the max applied
    assert f["frontier_lsn"] == "0/11"

    # restart with no new data: checkpoint resumes, target unchanged (T1)
    q2 = apply_stream(
        unwrap(parse_stream(read_cdc_stream(spark, file_path=str(src)))),
        target,
        ["order_id"],
        ckpt,
        frontier_path=frontier,
    ).trigger(availableNow=True).start()
    q2.awaitTermination(120)
    final2 = {
        r["order_id"]: float(r["amount"])
        for r in spark.read.parquet(target).collect()
    }
    assert final2 == final


def test_snapshot_then_stream(spark, tmp_path):
    """T4: snapshot backfill (bucketed layout), then the stream applies on top."""
    from postgres_cdc_reconciliation_spark.engine import Engine

    eng = Engine(spark)
    target = str(tmp_path / "target2")
    snapshot = spark.createDataFrame(
        [(i, i % 10, f"{i * 10.0:.2f}", None, 0) for i in range(1, 4)],
        "order_id long, customer_id int, amount string, ts timestamp_ntz, batch_id long",
    )
    eng.snapshot_backfill(snapshot, target, key_cols=["order_id"])
    assert spark.read.parquet(target).count() == 3

    src = tmp_path / "inc_in"
    src.mkdir()
    with open(src / "inc.json", "w") as f:
        f.write(
            json.dumps({"key": "1", "value": json.dumps(_env("u", _row(1, 10.0), _row(1, 99.0), "0/20"))})
            + "\n"
        )
        f.write(
            json.dumps({"key": "2", "value": json.dumps(_env("d", _row(2, 20.0), None, "0/21"))})
            + "\n"
        )
    q = eng.start_cdc_pipeline(
        target, ["order_id"], str(tmp_path / "ckpt2"),
        file_path=str(src), trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    final = {
        r["order_id"]: float(r["amount"])
        for r in spark.read.parquet(target).collect()
    }
    assert final == {1: 99.0, 3: 30.0}  # 1 updated over snapshot, 2 deleted


def _bucket_files(target: str) -> dict[str, set[tuple[str, float]]]:
    """Map _bucket=N dir → {(filename, mtime)} for parquet part files."""
    import os

    out = {}
    for d in os.listdir(target):
        if not d.startswith("_bucket="):
            continue
        full = os.path.join(target, d)
        out[d] = {
            (f, os.path.getmtime(os.path.join(full, f)))
            for f in os.listdir(full)
            if f.endswith(".parquet")
        }
    return out


def test_apply_rewrites_only_touched_buckets(spark, tmp_path):
    """Scale invariant: a micro-batch touching keys in k buckets must leave
    every other bucket's files byte-for-byte untouched (dynamic partition
    overwrite — per-batch IO is O(delta), not O(target))."""
    import time

    from postgres_cdc_reconciliation_spark.operators.apply import (
        bucket_expr,
        write_bucketed_target,
    )

    target = str(tmp_path / "btarget")
    base = spark.createDataFrame(
        [(i, i % 10, f"{i * 10.0:.2f}", None, 0) for i in range(1, 101)],
        "order_id long, customer_id int, amount string, ts timestamp_ntz, batch_id long",
    )
    n_buckets = 8
    write_bucketed_target(base, target, ["order_id"], n_buckets, dynamic=False)
    before = _bucket_files(target)
    assert len(before) == 8  # 100 keys over 8 buckets: all present

    # one update event for a single key → exactly one touched bucket
    src = tmp_path / "bsrc"
    src.mkdir()
    with open(src / "b.json", "w") as f:
        f.write(
            json.dumps({"key": "7", "value": json.dumps(_env("u", _row(7, 70.0), _row(7, 777.0), "0/30"))})
            + "\n"
        )
    time.sleep(1.1)  # ensure rewritten files get a distinguishable mtime
    q = apply_stream(
        unwrap(parse_stream(read_cdc_stream(spark, file_path=str(src)))),
        target,
        ["order_id"],
        str(tmp_path / "bckpt"),
        n_buckets=n_buckets,
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    after = _bucket_files(target)
    [(bucket_of_7,)] = (
        spark.createDataFrame([(7,)], "order_id long")
        .select(bucket_expr(["order_id"], n_buckets))
        .collect()
    )
    touched_dir = f"_bucket={bucket_of_7}"
    assert after[touched_dir] != before[touched_dir]  # rewritten
    for d, files in before.items():
        if d != touched_dir:
            assert after[d] == files, f"untouched bucket {d} was rewritten"

    # and the merge itself is correct
    final = {
        r["order_id"]: float(r["amount"])
        for r in spark.read.parquet(target).collect()
    }
    assert final[7] == 777.0 and len(final) == 100


def test_stream_apply_migrates_legacy_unpartitioned_target(spark, tmp_path):
    """An existing plain-parquet target (no _bucket dirs) is migrated into
    the bucketed layout by the first micro-batch, with no row loss."""
    import os

    target = str(tmp_path / "legacy")
    spark.createDataFrame(
        [(i, i % 10, f"{i * 10.0:.2f}", None, 0) for i in range(1, 6)],
        "order_id long, customer_id int, amount string, ts timestamp_ntz, batch_id long",
    ).write.mode("overwrite").parquet(target)

    src = tmp_path / "lsrc"
    src.mkdir()
    with open(src / "l.json", "w") as f:
        f.write(
            json.dumps({"key": "1", "value": json.dumps(_env("u", _row(1, 10.0), _row(1, 111.0), "0/40"))})
            + "\n"
        )
    q = apply_stream(
        unwrap(parse_stream(read_cdc_stream(spark, file_path=str(src)))),
        target,
        ["order_id"],
        str(tmp_path / "lckpt"),
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    assert any(d.startswith("_bucket=") for d in os.listdir(target))
    assert not any(f.endswith(".parquet") for f in os.listdir(target))
    final = {
        r["order_id"]: float(r["amount"])
        for r in spark.read.parquet(target).collect()
    }
    assert final == {1: 111.0, 2: 20.0, 3: 30.0, 4: 40.0, 5: 50.0}


def test_stream_apply_schema_evolution_full_rewrite(spark, tmp_path):
    """Additive evolution in the bucketed streaming apply: a new event
    column forces one full rewrite so EVERY bucket's files carry the
    evolved schema (mixed footers would silently drop the column on read);
    without the flag the stream fails instead of silently dropping."""
    import glob

    import pytest

    from postgres_cdc_reconciliation_spark.operators.apply import (
        read_target,
        write_bucketed_target,
    )

    target = str(tmp_path / "etarget")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(1, 21)], "id long, val string"
    )
    write_bucketed_target(base, target, ["id"], 8, dynamic=False)

    src = tmp_path / "esrc"
    src.mkdir()
    with open(src / "b.json", "w") as f:
        f.write(
            json.dumps(
                {"id": 3, "val": "v3b", "region": "eu", "op": "u",
                 "source_lsn": "0/10", "ts_ms": 1, "__deleted": "false"}
            )
            + "\n"
        )
    evolved_schema = (
        "id long, val string, region string, op string, source_lsn string, "
        "ts_ms long, __deleted string"
    )

    stream = spark.readStream.schema(evolved_schema).json(str(src))
    q = apply_stream(
        stream, target, ["id"], str(tmp_path / "eckpt0"), n_buckets=8
    ).trigger(availableNow=True).start()
    with pytest.raises(Exception, match="evolve_schema"):
        q.awaitTermination(120)

    stream2 = spark.readStream.schema(evolved_schema).json(str(src))
    q2 = apply_stream(
        stream2,
        target,
        ["id"],
        str(tmp_path / "eckpt1"),
        n_buckets=8,
        evolve_schema=True,
    ).trigger(availableNow=True).start()
    q2.awaitTermination(120)

    out = read_target(spark, target)
    rows = {r["id"]: (r["val"], r["region"]) for r in out.collect()}
    assert len(rows) == 20
    assert rows[3] == ("v3b", "eu") and rows[1] == ("v1", None)
    # uniform-schema invariant: every bucket dir readable with the new column
    for d in sorted(glob.glob(f"{target}/_bucket=*")):
        assert "region" in spark.read.parquet(d).columns, d


def test_torn_checkpoint_replay_converges(spark, tmp_path):
    """At-least-once replay e2e at the STREAM level: a micro-batch whose
    work committed but whose stream-checkpoint commit marker was lost (the
    crash window between foreachBatch returning and the checkpoint write)
    is RE-RUN by Structured Streaming on restart — the target and frontier
    must converge to the same state, and new data arriving after the
    restart must still apply on top. This drives the replay-convergence
    claim end-to-end instead of at the apply_batch unit level."""
    import os
    import shutil

    src = tmp_path / "stream_in"
    src.mkdir()
    with open(src / "batch1.json", "w") as f:
        for i in range(1, 6):
            f.write(
                json.dumps(
                    {"key": str(i), "value": json.dumps(_env("r", None, _row(i, i * 10.0), f"0/{i:X}"))}
                )
                + "\n"
            )
        f.write(
            json.dumps({"key": "2", "value": json.dumps(_env("u", _row(2, 20.0), _row(2, 22.0), "0/10"))})
            + "\n"
        )
        f.write(
            json.dumps({"key": "3", "value": json.dumps(_env("d", _row(3, 30.0), None, "0/11"))})
            + "\n"
        )

    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    frontier = str(tmp_path / "frontier")

    def _run():
        q = apply_stream(
            unwrap(parse_stream(read_cdc_stream(spark, file_path=str(src)))),
            target,
            ["order_id"],
            ckpt,
            frontier_path=frontier,
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)

    def _state():
        return {
            r["order_id"]: float(r["amount"])
            for r in spark.read.parquet(target).collect()
        }

    _run()
    applied = _state()
    assert applied == {1: 10.0, 2: 22.0, 4: 40.0, 5: 50.0}

    # tear the checkpoint: the last batch's commit marker vanishes, as if
    # the process died after the apply but before the checkpoint commit
    commits = os.path.join(ckpt, "commits")
    batch_files = [n for n in os.listdir(commits) if n.split(".")[0].isdigit()]
    last = max(batch_files, key=lambda n: int(n.split(".")[0]))
    os.remove(os.path.join(commits, last))
    crc = os.path.join(commits, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    _run()  # restart replays the torn batch against the already-applied target
    assert _state() == applied
    f = current_frontier(spark, frontier).collect()[0]
    assert f["frontier_lsn"] == "0/11"

    # and the stream is still live for NEW data on top of the replay
    with open(src / "batch2.json", "w") as fh:
        fh.write(
            json.dumps({"key": "4", "value": json.dumps(_env("u", _row(4, 40.0), _row(4, 44.0), "0/20"))})
            + "\n"
        )
    _run()
    assert _state() == {1: 10.0, 2: 22.0, 4: 44.0, 5: 50.0}
    f2 = current_frontier(spark, frontier).collect()[0]
    assert f2["frontier_lsn"] == "0/20"


def test_stream_apply_survives_dirty_feed(spark, tmp_path):
    """The batch-path dirty-feed contract, proven through the STREAMING
    path: a micro-batch carrying truncated JSON, non-JSON text, a
    sourceless envelope, an unparseable LSN, and a null-key event applies
    without failing the query — every garbage message costs itself and
    every well-formed event lands. The frontier advances to the max
    PARSEABLE LSN PROCESSED (0/20 — the null-key event's position), not
    the max applied: the dropped event was consumed, and a frontier stuck
    below discarded garbage would under-report progress forever. The
    mangled 'XYZ' LSN contributes nothing (unorderable)."""
    src = tmp_path / "dirty_in"
    src.mkdir()
    with open(src / "batch1.json", "w") as f:
        for i in range(1, 4):
            f.write(
                json.dumps(
                    {"key": str(i), "value": json.dumps(_env("r", None, _row(i, i * 10.0), f"0/{i:X}"))}
                )
                + "\n"
            )
    with open(src / "batch2.json", "w") as f:
        good_update = _env("u", _row(2, 20.0), _row(2, 22.0), "0/10")
        null_key_row = dict(_row(9, 90.0), order_id=None)
        for value in [
            json.dumps(good_update),
            '{"op": "u", "before"',           # truncated mid-key
            "not json at all",
            "",
            json.dumps({"op": "u", "before": None, "after": _row(7, 70.0)}),  # no source
            json.dumps(_env("u", None, _row(8, 80.0), "XYZ")),  # unparseable LSN
            json.dumps(_env("u", None, null_key_row, "0/20")),  # null key
        ]:
            f.write(json.dumps({"key": "x", "value": value}) + "\n")

    target = str(tmp_path / "dirty_target")
    ckpt = str(tmp_path / "dirty_ckpt")
    frontier = str(tmp_path / "dirty_frontier")
    q = apply_stream(
        unwrap(parse_stream(read_cdc_stream(spark, file_path=str(src)))),
        target,
        ["order_id"],
        ckpt,
        frontier_path=frontier,
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    final = {
        r["order_id"]: float(r["amount"])
        for r in spark.read.parquet(target).collect()
    }
    # keys 1-3 inserted, 2 updated; none of the dirty events produced a
    # row (no ghost NULL key, no key 7/8/9)
    assert final == {1: 10.0, 2: 22.0, 3: 30.0}
    f = current_frontier(spark, frontier).collect()[0]
    assert f["frontier_lsn"] == "0/20"


def test_manifest_stream_counts_dirty_feed_drops(spark, tmp_path, caplog):
    """The dirty-feed contract on the manifest protocol: a micro-batch
    carrying one unparseable-LSN event and one NULL-key event warns with
    both drops, commits the clean rows, and advances the frontier to the
    max PARSEABLE LSN (0/20, the NULL-key event's position). A later batch
    of NULL-key events only adds no row and still advances the frontier
    to its max LSN: its events were consumed."""
    import logging

    from postgres_cdc_reconciliation_spark.operators.manifest_target import (
        read_snapshot,
    )

    src = tmp_path / "in"
    src.mkdir()
    target = str(tmp_path / "target")
    frontier = str(tmp_path / "frontier")

    def _land(name, envs):
        with open(src / name, "w") as f:
            for env in envs:
                f.write(json.dumps({"key": "k", "value": json.dumps(env)}) + "\n")

    def _run():
        caplog.clear()
        with caplog.at_level(
            logging.WARNING,
            logger="postgres_cdc_reconciliation_spark.operators.apply",
        ):
            q = apply_stream(
                unwrap(parse_stream(read_cdc_stream(spark, file_path=str(src)))),
                target,
                ["order_id"],
                str(tmp_path / "ckpt"),
                frontier_path=frontier,
                n_buckets=8,
                protocol="manifest",
            ).trigger(availableNow=True).start()
            q.awaitTermination(120)
        return [r.getMessage() for r in caplog.records if "dropped" in r.getMessage()]

    def _state():
        return {
            r["order_id"]: float(r["amount"])
            for r in read_snapshot(spark, target).collect()
        }

    def _null_key(oid):
        return dict(_row(oid, oid * 10.0), order_id=None)

    _land("batch1.json", [
        _env("r", None, _row(1, 10.0), "0/1"),
        _env("r", None, _row(2, 20.0), "0/2"),
        _env("u", None, _row(8, 80.0), "XYZ"),  # unparseable LSN
        _env("u", None, _null_key(9), "0/20"),  # NULL key
    ])
    msgs = _run()
    assert msgs and "dropped 2 of 4 events" in msgs[0]
    assert _state() == {1: 10.0, 2: 20.0}
    assert current_frontier(spark, frontier).first()["frontier_lsn"] == "0/20"

    _land("batch2.json", [
        _env("u", None, _null_key(5), "0/30"),
        _env("u", None, _null_key(6), "0/31"),
    ])
    msgs = _run()
    assert msgs and "dropped 2 of 2 events" in msgs[0]
    assert _state() == {1: 10.0, 2: 20.0}
    assert current_frontier(spark, frontier).first()["frontier_lsn"] == "0/31"


def test_apply_stream_into_dataless_target_dir(spark, tmp_path):
    """A target path that EXISTS but holds no data files (an empty-seed
    bootstrap writes only _SUCCESS; ops tooling may mkdir the path) is a
    legitimate first-batch state — the stream must bootstrap, not die on
    parquet schema inference (found by the round-14 bench smoke at a scale
    factor whose seed window is empty)."""
    src = tmp_path / "stream_in"
    src.mkdir()
    with open(src / "batch1.json", "w") as f:
        for i in range(1, 4):
            f.write(
                json.dumps(
                    {"key": str(i), "value": json.dumps(_env("r", None, _row(i, i * 10.0), f"0/{i:X}"))}
                )
                + "\n"
            )

    target = str(tmp_path / "target")
    # empty seed: schema-only DataFrame -> dir with _SUCCESS, zero data files
    from postgres_cdc_reconciliation_spark.operators.apply import (
        write_bucketed_target,
    )

    empty = spark.createDataFrame(
        [], "order_id bigint, customer_id bigint, amount string, "
        "ts string, batch_id bigint"
    )
    write_bucketed_target(empty, target, ["order_id"], dynamic=False)

    q = apply_stream(
        unwrap(parse_stream(read_cdc_stream(spark, file_path=str(src)))),
        target,
        ["order_id"],
        str(tmp_path / "ckpt"),
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    final = {
        r["order_id"]: float(r["amount"])
        for r in spark.read.parquet(target).collect()
    }
    assert final == {1: 10.0, 2: 20.0, 3: 30.0}

    # and a plain pre-created (mkdir) dir behaves the same for scd2_stream
    from postgres_cdc_reconciliation_spark.streaming.scd2 import (
        read_history,
        scd2_stream,
    )

    hist = tmp_path / "hist"
    hist.mkdir()
    src2 = tmp_path / "scd_in"
    src2.mkdir()
    with open(src2 / "b1.json", "w") as f:
        for i in range(1, 4):
            f.write(
                json.dumps(
                    {"order_id": i, "amount": i * 1.0, "seq": i, "op": "c"}
                )
                + "\n"
            )
    changelog = spark.readStream.schema(
        "order_id bigint, amount double, seq bigint, op string"
    ).json(str(src2))
    q2 = scd2_stream(
        changelog, str(hist), str(tmp_path / "ckpt2"),
        key="order_id", seq="seq", attrs=["amount"],
    ).trigger(availableNow=True).start()
    q2.awaitTermination(120)
    assert read_history(spark, str(hist)).count() == 3
