"""Tests of the benchmark's own parts: the generator and the oracle.

No Spark needed:  python3 -m pytest cdcbench -q
"""

from __future__ import annotations

import datetime
import json
import os

import pyarrow.parquet as pq
import pytest

from cdcbench import gen, oracle

SPEC = gen.FeedSpec(initial_rows=300, batch_events=400, mix=(0.3, 0.5, 0.2),
                    zipf_s=1.1, withhold=0.02)


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.write_feed(SPEC, seed, 3, str(tmp_path / name))
    a, b, c = (_tree_bytes(str(tmp_path / n)) for n in "abc")
    assert a == b
    assert sorted(a) == sorted(c)
    assert all(a[n] != c[n] for n in a if n.startswith("batch-"))


def _reference_apply(initial: dict, lines: list[bytes]) -> dict:
    """Last-writer-wins by LSN over raw feed lines, written from the
    Debezium envelope alone (independent of the generator's bookkeeping)."""
    state = dict(initial)
    latest = {}
    for line in lines:
        env = json.loads(json.loads(line)["value"])
        hi, lo = env["source"]["lsn"].split("/")
        lsn = (int(hi, 16) << 32) + int(lo, 16)
        image = env["before"] if env["op"] == "d" else env["after"]
        k = image["order_id"]
        if k not in latest or lsn > latest[k][0]:
            latest[k] = (lsn, env["op"], image)
    for k, (_, op, image) in latest.items():
        if op == "d":
            state.pop(k, None)
        else:
            cents = round(float(image["amount"]) * 100)
            secs = int((datetime.datetime.fromisoformat(image["ts"])
                        - datetime.datetime(1970, 1, 1)).total_seconds())
            state[k] = (image["customer_id"], cents, secs, image["batch_id"])
    return state


def _write_overwrite_target(rows: dict, root: str) -> None:
    """Lay rows out as the overwrite protocol does: one dir per bucket."""
    for b in range(3):
        part = {k: v for k, v in rows.items() if k % 3 == b}
        os.makedirs(os.path.join(root, f"_bucket={b}"))
        gen.write_rows(part, os.path.join(root, f"_bucket={b}", "part-0.parquet"))


def _feed_lines(n_batches: int, seed: int = 3) -> tuple[gen.Feed, dict, list[bytes]]:
    feed = gen.Feed(SPEC, seed)
    initial = dict(feed.source)
    lines = []
    for _ in range(n_batches):
        lines += feed.next_batch().splitlines()
    return feed, initial, lines


def test_reference_apply_of_the_files_reaches_the_expected_state(tmp_path):
    feed, initial, lines = _feed_lines(4)
    assert feed.events_withheld > 0
    state = _reference_apply(initial, lines)
    assert state == feed.replica
    _write_overwrite_target(state, str(tmp_path / "t"))
    assert oracle.check_target(str(tmp_path / "t"), "overwrite",
                               gen.rows_table(feed.replica)) is None


@pytest.mark.parametrize("which", [0, 0.5, -1])
def test_one_dropped_event_fails_the_oracle(tmp_path, which):
    feed, initial, lines = _feed_lines(4)
    # drop the last event of some key: no later event can mask the loss
    last = {}
    for i, line in enumerate(lines):
        last[json.loads(line)["key"]] = i
    finals = sorted(last.values())
    del lines[finals[int(which * (len(finals) - 1)) if which != -1 else -1]]
    _write_overwrite_target(_reference_apply(initial, lines), str(tmp_path / "t"))
    err = oracle.check_target(str(tmp_path / "t"), "overwrite",
                              gen.rows_table(feed.replica))
    assert err is not None


def test_one_perturbed_or_duplicated_row_fails_the_oracle(tmp_path):
    feed, _, _ = _feed_lines(2)
    k = sorted(feed.replica)[10]
    perturbed = dict(feed.replica)
    cust, cents, ts, bid = perturbed[k]
    perturbed[k] = (cust, cents + 1, ts, bid)
    _write_overwrite_target(perturbed, str(tmp_path / "p"))
    assert oracle.check_target(str(tmp_path / "p"), "overwrite",
                               gen.rows_table(feed.replica)) is not None
    # the same rows twice: a multiset compare must notice
    _write_overwrite_target(feed.replica, str(tmp_path / "d"))
    gen.write_rows({k: feed.replica[k]},
                   str(tmp_path / "d" / f"_bucket={k % 3}" / "part-1.parquet"))
    assert oracle.check_target(str(tmp_path / "d"), "overwrite",
                               gen.rows_table(feed.replica)) is not None


def test_manifest_layout_reads_only_the_committed_dirs(tmp_path):
    feed, _, _ = _feed_lines(2)
    root = tmp_path / "m"
    rows = feed.replica
    mapping = {}
    for b in range(2):
        d = root / "stage" / "v=1-aa" / f"_bucket={b}"
        d.mkdir(parents=True)
        gen.write_rows({k: v for k, v in rows.items() if k % 2 == b}, str(d / "part-0.parquet"))
        mapping[str(b)] = "1-aa"
    # an orphaned attempt that no manifest lists must be ignored
    junk = root / "stage" / "v=2-bb" / "_bucket=0"
    junk.mkdir(parents=True)
    gen.write_rows({1: (1, 1, 1, 1)}, str(junk / "part-0.parquet"))
    (root / "_manifests").mkdir()
    (root / "_manifests" / "v0.json").write_text(json.dumps({"buckets": {}}))
    (root / "_manifests" / "v1.json").write_text(json.dumps({"buckets": mapping}))
    assert oracle.check_target(str(root), "manifest", gen.rows_table(rows)) is None
    fewer = dict(rows)
    fewer.pop(sorted(fewer)[0])
    assert oracle.check_target(str(root), "manifest", gen.rows_table(fewer)) is not None


def test_expected_drift_classifies_source_against_replica():
    feed, _, _ = _feed_lines(6, seed=11)
    drift = feed.expected_drift()
    assert drift
    for k, kind in drift.items():
        s, r = feed.source.get(k), feed.replica.get(k)
        assert kind == {(True, False): "missing_in_target",
                        (False, True): "extra_in_target",
                        (True, True): "value_mismatch"}[(s is not None, r is not None)]
        assert s != r


def test_image_at_walks_each_keys_history():
    feed, initial, _ = _feed_lines(3)
    for k in list(feed.history)[:50]:
        assert feed.image_at(k, 0) == initial.get(k)
        assert feed.image_at(k, feed.batch_no) == feed.replica.get(k)
    for b in range(1, feed.batch_no + 1):
        assert feed.hot_keys(b) == sorted(
            k for k, h in feed.history.items() if any(hb == b for hb, _ in h))


def test_a_batch_can_be_sized_apart_from_the_spec():
    feed = gen.Feed(SPEC, 5)
    assert len(feed.next_batch(50).splitlines()) + feed.events_withheld == 50
    assert feed.batch_control[-1]["row_count"] == 50


def test_snapshot_parquet_has_the_event_types(tmp_path):
    feed, _, _ = _feed_lines(1)
    p = str(tmp_path / "s.parquet")
    gen.write_rows(feed.source, p)
    assert pq.read_schema(p).equals(gen.ARROW_SCHEMA, check_metadata=False)


def test_self_time_subtracts_child_spans_and_wrap_is_undone():
    import time as _time
    import types

    from cdcbench.spans import Tracer

    mod = types.SimpleNamespace(inner=lambda: _time.sleep(0.02))
    orig = mod.inner
    t = Tracer(True)
    t.wrap(mod, "inner", "inner")

    def outer():
        _time.sleep(0.02)
        mod.inner()
        mod.inner()

    t.call("outer", outer)
    t.unwrap_all()
    assert mod.inner is orig
    by_name = {s.name: s for s in t.spans}
    own = t.self_time_ms()
    outer_span = by_name["outer"]
    children = [s for s in t.spans if s.parent == outer_span.id]
    assert len(children) == 2
    total_ms = (outer_span.end - outer_span.start) * 1000
    child_ms = sum((c.end - c.start) * 1000 for c in children)
    assert abs(own[outer_span.id] - (total_ms - child_ms)) < 1e-6
    assert 15 < own[outer_span.id] < total_ms - 30
    assert t.root_ms_by_ctx() == {"setup": total_ms}


def test_disabled_tracer_leaves_functions_alone():
    import types

    from cdcbench.spans import Tracer

    mod = types.SimpleNamespace(f=lambda: 1)
    orig = mod.f
    t = Tracer(False)
    t.wrap(mod, "f", "f")
    assert mod.f is orig and t.call("x", mod.f) == 1 and not t.spans
