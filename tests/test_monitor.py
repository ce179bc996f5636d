"""Monitor loop + heartbeat (T8/T9)."""

from __future__ import annotations

from pyspark.sql import functions as F

from postgres_cdc_reconciliation_spark import fixtures as fx
from postgres_cdc_reconciliation_spark.operators import status as st
from postgres_cdc_reconciliation_spark.streaming.monitor import (
    heartbeat,
    poll_until,
    wait_replication_complete,
)
from postgres_cdc_reconciliation_spark.streaming.frontier import (
    append_frontier,
    current_frontier,
)


def test_poll_until_fake_clock():
    t = {"now": 0.0}
    calls = {"n": 0}

    def clock():
        return t["now"]

    def sleep(s):
        t["now"] += s

    def check():
        calls["n"] += 1
        return calls["n"] >= 3

    assert poll_until(check, timeout_s=100, interval_s=10, clock=clock, sleep=sleep)
    assert calls["n"] == 3 and t["now"] == 20.0

    calls["n"] = -100
    t["now"] = 0.0
    assert not poll_until(
        lambda: False, timeout_s=30, interval_s=10, clock=clock, sleep=sleep
    )
    assert t["now"] == 30.0


def test_wait_replication_complete(spark, sf_dir):
    bc = fx.batch_control_df(spark, sf_dir)
    slots, pubs = fx.slots_df(spark), fx.pubs_df(spark)

    def status_fn():
        return st.latest_batch_replication_status(
            spark, bc, slots, pubs, "public", "lineitem", as_of=fx.AS_OF
        )

    row = status_fn().collect()[0]
    # fixture: lineitem's slot frontier is past its latest batch (READY);
    # customer now resolves to the never-confirmed NULL-flush slot → False
    assert row["replication_complete"]
    done = wait_replication_complete(
        spark, status_fn, row["latest_batch_id"],
        timeout_s=1, interval_s=1, clock=lambda: 0.0, sleep=lambda s: None,
    )
    assert done
    # a batch id that never appears → timeout False
    t = {"now": 0.0}
    assert not wait_replication_complete(
        spark, status_fn, -1,
        timeout_s=1, interval_s=1,
        clock=lambda: t.__setitem__("now", t["now"] + 1) or t["now"],
        sleep=lambda s: None,
    )


def test_heartbeat_keeps_frontier_value(spark, tmp_path):
    fpath = str(tmp_path / "frontier")
    ev = fx.cdc_events_df(spark, "/root/testdata/sf0.001").limit(100)
    lsn, n = ev.agg(F.max("lsn_long"), F.count("*")).first()
    append_frontier(spark, fpath, 0, lsn, n)
    before = current_frontier(spark, fpath).collect()[0]["frontier_lsn_long"]
    heartbeat(spark, fpath)
    after_rows = spark.read.parquet(fpath).count()
    after = current_frontier(spark, fpath).collect()[0]["frontier_lsn_long"]
    assert after == before and after_rows == 2


def test_heartbeat_missing_path_is_silent_noop(spark, tmp_path, caplog):
    """Pre-first-batch: no frontier dir yet → no-op, no warning, and no
    deprecated-API FutureWarning from the missing-path check."""
    import logging
    import warnings

    with caplog.at_level(logging.WARNING, logger="postgres_cdc_reconciliation_spark.streaming.monitor"):
        with warnings.catch_warnings():
            warnings.simplefilter("error", FutureWarning)
            heartbeat(spark, str(tmp_path / "nonexistent-frontier"))
    assert not caplog.records


def test_heartbeat_logs_non_missing_read_failure(spark, tmp_path, caplog):
    """A frontier path that exists but is unreadable (not-a-parquet garbage)
    must WARN, not vanish — a swallowed misconfiguration reads as a healthy
    idle pipeline downstream (ADVICE r3)."""
    import logging

    bad = tmp_path / "frontier"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"this is not parquet")
    with caplog.at_level(logging.WARNING, logger="postgres_cdc_reconciliation_spark.streaming.monitor"):
        heartbeat(spark, str(bad))
    assert any("heartbeat: frontier read failed" in r.message for r in caplog.records)
