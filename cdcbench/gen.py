"""Seeded change-feed generator for the CDC benchmark.

Pure Python: no Spark, so the program under test only ever sees the files
this module writes. One ``Feed`` models a Postgres ``orders`` table and the
Debezium feed that replicates it:

- an initial table (the snapshot the target is seeded from),
- one JSON-lines file per micro-batch, each line ``{"key": ..., "value":
  <Debezium envelope as a JSON string>}`` -- the shape
  ``sources.cdc.read_cdc_stream(file_path=...)`` reads,
- a seeded share of events withheld from the files (lost changes), so the
  replica drifts from the source by a known set of keys,
- the bookkeeping a verifier needs: the source's final state, the
  replica's expected state after every delivered batch, the expected drift
  classification and one ``batch_control`` row per batch.

Batch files are produced in order by ``next_batch``; the same seed always
gives the same bytes for batch k, however many batches a run consumes.
"""

from __future__ import annotations

import bisect
import datetime
import decimal
import json
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

KEY_COLS = ["order_id"]
TABLE = ("public", "orders")

#: first LSN of the feed; 'H/L' text, encoded as hi * 2^32 + lo
LSN_BASE = (1 << 32) + 0x1000
#: the ts column is BASE_EPOCH_S + the event's sequence number, in seconds
BASE_EPOCH_S = 1_767_225_600  # 2026-01-01T00:00:00

ARROW_SCHEMA = pa.schema(
    [
        ("order_id", pa.int64()),
        ("customer_id", pa.int32()),
        ("amount", pa.decimal128(10, 2)),
        ("ts", pa.timestamp("us")),
        ("batch_id", pa.int64()),
    ]
)


def lsn_text(n: int) -> str:
    return f"{n >> 32:X}/{n & 0xFFFFFFFF:X}"


def _ts_text(seconds: int) -> str:
    t = datetime.datetime(1970, 1, 1) + datetime.timedelta(seconds=seconds)
    return t.strftime("%Y-%m-%dT%H:%M:%S")


def _amount_text(cents: int) -> str:
    return f"{cents // 100}.{cents % 100:02d}"


@dataclass(frozen=True)
class FeedSpec:
    """Shape of one generated feed."""

    initial_rows: int
    batch_events: int
    #: share of c / u / d among events (u and d fall back to c while the
    #: table is empty)
    mix: tuple[float, float, float]
    #: Zipf exponent over the live keys for u/d; None draws them uniformly
    zipf_s: float | None
    #: share of events withheld from the files (never the last event of a
    #: batch, so every batch's completion LSN is delivered)
    withhold: float


class Feed:
    """Stateful generator: call ``next_batch`` once per micro-batch.

    Rows are tuples ``(customer_id, amount_cents, ts_seconds, batch_id)``
    keyed by ``order_id``. ``source`` is the primary's state (every event
    applied), ``replica`` the state a correct apply of the delivered events
    reaches. ``history`` keeps, for every key a delivered event touched,
    the replica image after each batch that changed it -- what a point
    lookup may legitimately return."""

    def __init__(self, spec: FeedSpec, seed: int):
        self.spec = spec
        self.rng = random.Random(seed)
        self.lsn = LSN_BASE
        self.seq = 0
        self.batch_no = 0
        self.source: dict[int, tuple] = {}
        self.replica: dict[int, tuple] = {}
        self.history: dict[int, list[tuple[int, tuple | None]]] = {}
        self.batch_control: list[dict] = []
        #: keys a delivered event of batch b touched, at index b - 1
        self.changed: list[list[int]] = []
        self.events_delivered = 0
        self.events_withheld = 0
        # live keys of the source, as a list for O(1) random pick and
        # swap-remove, plus each key's index in it
        self._live: list[int] = []
        self._pos: dict[int, int] = {}
        self._next_key = 0
        self._zipf_cdf: list[float] = []
        for _ in range(spec.initial_rows):
            k = self._new_key()
            row = self._row(0)
            self.source[k] = row
            self.replica[k] = row
        self._initial = dict(self.source)

    # -- helpers ---------------------------------------------------------

    def _new_key(self) -> int:
        k = self._next_key
        self._next_key += 1
        self._pos[k] = len(self._live)
        self._live.append(k)
        return k

    def _drop_key(self, k: int) -> None:
        i = self._pos.pop(k)
        last = self._live.pop()
        if last != k:
            self._live[i] = last
            self._pos[last] = i

    def _row(self, batch_id: int) -> tuple:
        self.seq += 1
        return (
            self.rng.randrange(1, 50_000),
            self.rng.randrange(1, 10_000_000),
            BASE_EPOCH_S + self.seq,
            batch_id,
        )

    def _pick_live(self) -> int:
        n = len(self._live)
        if self.spec.zipf_s is None:
            return self._live[self.rng.randrange(n)]
        while len(self._zipf_cdf) < n:  # extend the rank CDF lazily
            r = len(self._zipf_cdf) + 1
            prev = self._zipf_cdf[-1] if self._zipf_cdf else 0.0
            self._zipf_cdf.append(prev + r ** -self.spec.zipf_s)
        u = self.rng.random() * self._zipf_cdf[n - 1]
        return self._live[min(bisect.bisect_left(self._zipf_cdf, u, 0, n), n - 1)]

    @staticmethod
    def _image_json(k: int, row: tuple) -> str:
        cust, cents, ts, bid = row
        return (
            f'{{"order_id":{k},"customer_id":{cust},"amount":{_amount_text(cents)},'
            f'"ts":"{_ts_text(ts)}","batch_id":{bid}}}'
        )

    # -- the feed --------------------------------------------------------

    def next_batch(self, events: int | None = None) -> bytes:
        """Generate micro-batch ``batch_no + 1`` of ``events`` events
        (default ``spec.batch_events``); returns the file bytes."""
        self.batch_no += 1
        b = self.batch_no
        spec = self.spec
        lines = []
        changed: set[int] = set()
        n = events or spec.batch_events
        for i in range(n):
            self.lsn += 1
            op = self.rng.choices("cud", weights=spec.mix)[0]
            if op != "c" and not self._live:
                op = "c"
            if op == "c":
                k = self._new_key()
                before, after = None, self._row(b)
                self.source[k] = after
            elif op == "u":
                k = self._pick_live()
                before, after = self.source[k], self._row(b)
                self.source[k] = after
            else:
                k = self._pick_live()
                before, after = self.source.pop(k), None
                self._drop_key(k)
            withheld = i < n - 1 and self.rng.random() < spec.withhold
            if withheld:
                self.events_withheld += 1
                continue
            self.events_delivered += 1
            if after is None:
                self.replica.pop(k, None)
            else:
                self.replica[k] = after
            changed.add(k)
            env = (
                f'{{"op":"{op}",'
                f'"before":{"null" if before is None else self._image_json(k, before)},'
                f'"after":{"null" if after is None else self._image_json(k, after)},'
                f'"source":{{"lsn":"{lsn_text(self.lsn)}","txId":{b},'
                f'"ts_ms":{self.seq * 1000},"schema":"{TABLE[0]}","table":"{TABLE[1]}"}},'
                f'"ts_ms":{self.seq * 1000}}}'
            )
            # the envelope holds no backslash or control character, so
            # escaping its quotes makes it a JSON string
            value = env.replace('"', '\\"')
            lines.append(f'{{"key":"{{\\"order_id\\":{k}}}","value":"{value}"}}')
        self.changed.append(sorted(changed))
        for k in self.changed[-1]:
            self.history.setdefault(k, [(0, self._initial.get(k))]).append(
                (b, self.replica.get(k))
            )
        self.batch_control.append(
            {
                "id": b,
                "schema_name": TABLE[0],
                "table_name": TABLE[1],
                "batch_id": b,
                "status": "COMPLETED",
                "completion_lsn": lsn_text(self.lsn),
                "row_count": n,
            }
        )
        return ("\n".join(lines) + "\n").encode()

    # -- what a verifier needs ------------------------------------------

    def image_at(self, k: int, batch: int) -> tuple | None:
        """Replica image of key ``k`` once batches 1..``batch`` applied."""
        img = self._initial.get(k)
        for b, row in self.history.get(k, ()):
            if b > batch:
                break
            img = row
        return img

    def expected_drift(self) -> dict[int, str]:
        """{key: diff_type} of source vs replica, in ``recon.diff_rows``'
        vocabulary."""
        out = {}
        for k in self.source.keys() | self.replica.keys():
            s, r = self.source.get(k), self.replica.get(k)
            if s == r:
                continue
            out[k] = (
                "missing_in_target" if r is None
                else "extra_in_target" if s is None
                else "value_mismatch"
            )
        return out

    def hot_keys(self, batch: int) -> list[int]:
        """Keys a delivered event of ``batch`` touched."""
        return self.changed[batch - 1]

    @property
    def key_space(self) -> int:
        return self._next_key


def rows_table(rows: dict[int, tuple]) -> pa.Table:
    """Arrow table (ARROW_SCHEMA) of a ``{order_id: row}`` state."""
    keys = sorted(rows)
    cols = list(zip(*(rows[k] for k in keys))) if keys else [[], [], [], []]
    return pa.table(
        [
            pa.array(keys, pa.int64()),
            pa.array(cols[0], pa.int32()),
            pa.array([decimal.Decimal(c).scaleb(-2) for c in cols[1]],
                     pa.decimal128(10, 2)),
            pa.array([s * 1_000_000 for s in cols[2]], pa.int64()).cast(
                pa.timestamp("us")
            ),
            pa.array(cols[3], pa.int64()),
        ],
        schema=ARROW_SCHEMA,
    )


def write_rows(rows: dict[int, tuple], path: str) -> None:
    pq.write_table(rows_table(rows), path)


def land(data: bytes, staging_dir: str, watched_dir: str, name: str) -> None:
    """Write ``data`` beside the watched dir, then rename it in: the file
    source never lists a half-written file."""
    tmp = os.path.join(staging_dir, name)
    with open(tmp, "wb") as f:
        f.write(data)
    os.rename(tmp, os.path.join(watched_dir, name))


def write_feed(spec: FeedSpec, seed: int, n_batches: int, out_dir: str) -> Feed:
    """Generate ``n_batches`` files plus every reference artifact into
    ``out_dir`` (the determinism test compares these bytes)."""
    os.makedirs(out_dir, exist_ok=True)
    feed = Feed(spec, seed)
    write_rows(feed.source, os.path.join(out_dir, "initial.parquet"))
    for _ in range(n_batches):
        data = feed.next_batch()
        with open(os.path.join(out_dir, f"batch-{feed.batch_no:05d}.json"), "wb") as f:
            f.write(data)
    write_rows(feed.source, os.path.join(out_dir, "source_final.parquet"))
    write_rows(feed.replica, os.path.join(out_dir, "expected_target.parquet"))
    with open(os.path.join(out_dir, "expected_drift.json"), "w") as f:
        json.dump(sorted(feed.expected_drift().items()), f)
    with open(os.path.join(out_dir, "batch_control.json"), "w") as f:
        json.dump(feed.batch_control, f)
    return feed


