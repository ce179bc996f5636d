"""The benchmark's workloads: one CDC lifecycle, two traffic shapes.

Every workload runs the same phases against the program's public entry
points, so every end-to-end metric exists on every workload:

1. set-up: Spark session, generated inputs, seeded target;
2. replicate: a closed-loop writer lands one change file at a time
   (atomic rename into the watched dir), blocks until the stream has
   applied it (``processAllAvailable``), then runs the completeness
   monitor (``current_frontier`` + ``status.multiple_tables_replication_
   status``), which must report the batch READY, then issues point
   lookups, each of which must return the key's image after that batch;
3. verify, an untimed pass and three timed: ``recon.fingerprint_diff`` then
   ``recon.fingerprint_drilldown`` of the generator's source table against
   the target must name exactly the keys the withheld events left
   divergent.

After replicate the DuckDB oracle compares the target's files with the
generator's expected state.

Lookups run between batches, not beside them. On 4 cores an open-loop
reader beside the writer (0.5-2 lookups/s) doubled the micro-batch time
and, within a run short enough for the benchmark's time budget, left one
or two batches per run -- too few for a steady median.

Each run measures a fixed number of batches, lookups and verify passes
and reports the median of each, so the same seed always measures the
same work.
"""

from __future__ import annotations

import datetime
import gc
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass

from . import gen, oracle
from .spans import Tracer

KEYS = gen.KEY_COLS
EPOCH = datetime.datetime(1970, 1, 1)
#: target seedings in set-up; setup_s counts their median
SETUP_REPEATS = 3
#: point lookups after each measured batch
LOOKUPS_PER_BATCH = 4
#: timed verify passes over the final target, after one untimed pass;
#: verify_s is their median
VERIFY_REPEATS = 3


@dataclass(frozen=True)
class Profile:
    protocol: str  # "overwrite" (Engine.start_cdc_pipeline) | "manifest"
    spec: gen.FeedSpec
    #: events in the untimed first batch (JIT, codegen, the stream's
    #: first-batch set-up)
    warmup_events: int
    #: measured batches of ``spec.batch_events`` events each
    batches: int


PROFILES = {
    # Backlog drain in one large batch into an empty target: per-event
    # work (envelope parse, the latest_per_key aggregate, rewriting every
    # bucket) is over half of it. One batch, because a second costs about
    # 17 s of the run's budget and two such batches in a run came within
    # 2% of each other. A fixed backlog, so verify always sees a table of
    # the same size.
    "bulk_replicate": Profile(
        protocol="overwrite",
        spec=gen.FeedSpec(
            initial_rows=0, batch_events=98304, mix=(0.8, 0.15, 0.05),
            zipf_s=None, withhold=0.001,
        ),
        warmup_events=8192,
        batches=1,
    ),
    # Debezium-sized batches (max.batch.size 2048) of Zipf-skewed updates
    # over a seeded target on the snapshot-isolated manifest protocol:
    # fixed per-batch cost dominates; lookups go through key routing.
    "serve_mixed": Profile(
        protocol="manifest",
        spec=gen.FeedSpec(
            initial_rows=20000, batch_events=2048, mix=(0.1, 0.8, 0.1),
            zipf_s=1.1, withhold=0.005,
        ),
        warmup_events=2048,
        batches=3,
    ),
}


def _med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _image(row) -> tuple:
    """A target row as the generator's row tuple."""
    return (
        int(row["customer_id"]),
        int(row["amount"] * 100),
        int((row["ts"] - EPOCH).total_seconds()),
        int(row["batch_id"]),
    )


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


def _bucket_of(path: str) -> str:
    return next(
        (part for part in path.split(os.sep) if part.startswith("_bucket=")), "?"
    )


class Failures:
    """Counts attempted operations and the ones that failed or were wrong."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.notes) < 20:
                self.notes.append(what)
        return ok


class Lifecycle:
    """One workload run inside one process and one Spark session."""

    def __init__(self, name: str, seed: int, traced: bool, work: str,
                 spark, session_s: float):
        from postgres_cdc_reconciliation_spark import schemas

        self.p = PROFILES[name]
        self.seed = seed
        self.work = work
        self.spark = spark
        self.session_s = session_s
        self.schemas = schemas
        self.tracer = Tracer(traced)
        self.fail = Failures()
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.detail: dict = {}

    def settle(self) -> None:
        """Collect the garbage earlier phases left in both heaps, so each
        timed phase pays only for its own."""
        gc.collect()
        self.spark._jvm.System.gc()

    # -- set-up ------------------------------------------------------------

    def _seed_target(self) -> float:
        """Seed a fresh target from the initial table; returns seconds."""
        from postgres_cdc_reconciliation_spark.engine import Engine
        from postgres_cdc_reconciliation_spark.operators import apply as ap
        from postgres_cdc_reconciliation_spark.operators import manifest_target as mt

        shutil.rmtree(self.target, ignore_errors=True)
        t0 = time.perf_counter()
        snap = self.spark.read.parquet(self.initial)
        if self.p.protocol == "overwrite":
            Engine(self.spark).snapshot_backfill(snap, self.target, key_cols=KEYS)
        else:
            mt.commit_delta(snap, self.target, KEYS, [],
                            ap.DEFAULT_TARGET_BUCKETS, full_snapshot=True)
        return time.perf_counter() - t0

    def setup(self) -> None:
        """Generate the inputs once, then seed the target SETUP_REPEATS
        times and keep the last: set-up time is the session start plus
        generation plus the median seeding time (an empty initial table
        seeds nothing)."""
        t0 = time.perf_counter()
        self.dir = os.path.join(self.work, "run")
        for sub in ("staging", "incoming"):
            os.makedirs(os.path.join(self.dir, sub))
        self.target = os.path.join(self.dir, "target")
        self.frontier = os.path.join(self.dir, "frontier")
        self.feed = gen.Feed(self.p.spec, self.seed)
        self.initial = os.path.join(self.dir, "initial.parquet")
        gen.write_rows(self.feed.source, self.initial)
        self.backlog = [self.feed.next_batch(self.p.warmup_events)] + [
            self.feed.next_batch() for _ in range(self.p.batches)]
        gen_s = time.perf_counter() - t0
        seeds = [self._seed_target() for _ in range(SETUP_REPEATS)] \
            if self.p.spec.initial_rows else [0.0]
        self.e2e["setup_s"] = self.session_s + gen_s + statistics.median(seeds)
        self.detail["setup"] = {"session_s": round(self.session_s, 3),
                                "generate_s": round(gen_s, 3),
                                "seed_s": [round(t, 3) for t in seeds]}

    # -- tracing -----------------------------------------------------------

    def install_spans(self) -> None:
        from postgres_cdc_reconciliation_spark import engine
        from postgres_cdc_reconciliation_spark.operators import apply as ap
        from postgres_cdc_reconciliation_spark.operators import manifest_target as mt
        from postgres_cdc_reconciliation_spark.operators import recon, status
        from postgres_cdc_reconciliation_spark.sources import cdc
        from postgres_cdc_reconciliation_spark.streaming import frontier

        t = self.tracer
        for mod, label, names in (
            (ap, "apply", ("apply_batch", "latest_per_key", "write_bucketed_target",
                           "drop_metrics", "read_target")),
            (mt, "manifest_target", ("read_manifest", "read_buckets", "read_snapshot",
                                     "commit_delta", "read_keys")),
            (frontier, "frontier", ("append_frontier", "current_frontier")),
            (status, "status", ("multiple_tables_replication_status",)),
            (recon, "recon", ("fingerprint_diff", "fingerprint_drilldown", "diff_rows")),
            (cdc, "cdc", ("read_cdc_stream", "parse_stream", "unwrap")),
        ):
            for fn in names:
                t.wrap(mod, fn, f"{label}.{fn}")
        # engine.py binds these by name at import time
        for fn, label in (("apply_stream", "apply"), ("read_cdc_stream", "cdc"),
                          ("parse_stream", "cdc"), ("unwrap", "cdc")):
            t.wrap(engine, fn, f"{label}.{fn}")
        t.wrap(engine.Engine, "point_lookup", "engine.point_lookup")

    # -- replicate ---------------------------------------------------------

    def start_stream(self):
        from postgres_cdc_reconciliation_spark.engine import Engine
        from postgres_cdc_reconciliation_spark.operators import apply as ap
        from postgres_cdc_reconciliation_spark.sources import cdc

        incoming = os.path.join(self.dir, "incoming")
        ckpt = os.path.join(self.dir, "checkpoint")
        if self.p.protocol == "overwrite":
            return Engine(self.spark).start_cdc_pipeline(
                self.target, KEYS, ckpt, frontier_path=self.frontier,
                file_path=incoming,
            )
        flat = cdc.unwrap(cdc.parse_stream(cdc.read_cdc_stream(self.spark, file_path=incoming)))
        return ap.apply_stream(
            flat, self.target, KEYS, ckpt, self.frontier, protocol="manifest"
        ).start()

    def monitor_ready(self, b: int) -> bool:
        """The completeness check a replication monitor runs: the frontier
        stands in for the slot's confirmed_flush_lsn, against batch
        ``b``'s batch_control row."""
        from postgres_cdc_reconciliation_spark.operators import status
        from postgres_cdc_reconciliation_spark.streaming import frontier

        t, spark, sc = self.tracer, self.spark, self.schemas
        fr = t.call("monitor.current_frontier", lambda: frontier.current_frontier(
            spark, self.frontier).first()["frontier_lsn"])
        bc = self.feed.batch_control[b - 1]
        now = datetime.datetime.now(datetime.timezone.utc).replace(
            tzinfo=None, microsecond=0)
        slots = spark.createDataFrame(
            [("orders_slot", "logical", True, None, fr)], sc.REPLICATION_SLOTS)
        control = spark.createDataFrame(
            [(b, bc["schema_name"], bc["table_name"], b, bc["status"], now, now,
              bc["completion_lsn"], bc["row_count"], None)], sc.BATCH_CONTROL)
        pubs = spark.createDataFrame(
            [("orders_pub", "public", "orders")], sc.PUBLICATION_TABLES)
        rep = t.call("monitor.health_report", lambda: status.multiple_tables_replication_status(
            spark, control, slots, pubs, ["public.orders"]).collect())
        return len(rep) == 1 and rep[0]["health_status"] == "READY"

    def lookup(self, k: int, i: int, batch: int) -> float:
        """One single-key read through the protocol's reader; checks the
        result against the key's image after ``batch``; returns ms."""
        from postgres_cdc_reconciliation_spark.engine import Engine
        from postgres_cdc_reconciliation_spark.operators import apply as ap
        from pyspark.sql import functions as F

        t = self.tracer
        t.set_ctx(f"lookup-{i}")
        t0 = time.perf_counter()
        if self.p.protocol == "manifest":
            df = Engine(self.spark).point_lookup(self.target, KEYS, [k])
        else:
            df = ap.read_target(self.spark, self.target).filter(F.col("order_id") == k)
        rows = t.call("lookup.collect", df.collect)
        ms = (time.perf_counter() - t0) * 1000.0
        t.set_ctx(None)
        img = _image(rows[0]) if len(rows) == 1 else None
        self.fail.record(len(rows) <= 1 and img == self.feed.image_at(k, batch),
                         f"lookup of {k} after batch {batch} gave {rows}")
        return ms

    def _pick_key(self, rng: random.Random, batch: int) -> int:
        """Half the lookups hit a key ``batch`` touched, half any key the
        feed ever has (ones deleted or not yet created must read as
        absent)."""
        hot = self.feed.hot_keys(batch)
        if hot and rng.random() < 0.5:
            return hot[rng.randrange(len(hot))]
        return rng.randrange(self.feed.key_space)

    def replicate(self) -> None:
        t, p, spark = self.tracer, self.p, self.spark
        q = self.start_stream()
        tracker = spark.sparkContext.statusTracker()
        run_id = str(q.runId)
        rng = random.Random(self.seed * 7919 + 1)
        fresh, apply_s, events, lookup_ms, jobs, walk = [], [], [], [], [], []
        measured: list[int] = []

        def cycle(b: int, data: bytes) -> None:
            self.settle()
            t.default_ctx = f"batch-{b}"
            jobs0 = len(tracker.getJobIdsForGroup(run_id))
            files0 = _files(self.target) if t.enabled else {}
            t0 = time.perf_counter()
            gen.land(data, os.path.join(self.dir, "staging"),
                     os.path.join(self.dir, "incoming"), f"b{b:05d}.json")
            q.processAllAvailable()
            t1 = time.perf_counter()
            t.set_ctx(f"monitor-{b}")
            ready = self.fail.record(self.monitor_ready(b), f"batch {b} not READY")
            t.set_ctx(None)
            t2 = time.perf_counter()
            if b == 1:  # warm-up: checked, not measured
                return
            measured.append(b)
            apply_s.append(t1 - t0)
            events.append(data.count(b"\n"))
            if ready:
                fresh.append(t2 - t0)
            if t.enabled:
                jobs.append(len(tracker.getJobIdsForGroup(run_id)) - jobs0)
                new = {f: s for f, s in _files(self.target).items() if f not in files0}
                walk.append((len({_bucket_of(f) for f in new}), sum(new.values())))
            for _ in range(LOOKUPS_PER_BATCH):
                lookup_ms.append(self.lookup(self._pick_key(rng, b), len(lookup_ms), b))

        t_warm = time.perf_counter()
        cycle(1, self.backlog[0])
        self.detail["warmup_s"] = round(time.perf_counter() - t_warm, 3)
        gc0 = self._gc_ms()
        t_start = time.perf_counter()
        for b, data in enumerate(self.backlog[1:], start=2):
            cycle(b, data)
        t.default_ctx = "after"
        self.gc_ms = self._gc_ms() - gc0
        self.detail["measured_s"] = round(time.perf_counter() - t_start, 3)
        progress = [pr for pr in q.recentProgress if pr["numInputRows"]]
        t_stop = time.perf_counter()
        q.stop()
        self.fail.record(q.exception() is None, f"stream failed: {q.exception()}")
        t_oracle = time.perf_counter()
        err = oracle.check_target(self.target, p.protocol, gen.rows_table(self.feed.replica))
        self.fail.record(err is None, f"target after replicate: {err}")
        self.detail["stop_s"] = round(t_oracle - t_stop, 3)
        self.detail["oracle_s"] = round(time.perf_counter() - t_oracle, 3)

        self.e2e.update(
            apply_events_per_s=_med(e / s for e, s in zip(events, apply_s)),
            # 0 only when no measured batch reached READY: a failed run
            freshness_s=_med(fresh),
            lookup_p50_ms=_med(lookup_ms),
        )
        self.detail.update(
            batches_measured=len(measured),
            apply_s=[round(x, 3) for x in apply_s],
            freshness_s=[round(x, 3) for x in fresh],
            events_measured=sum(events),
            freshness_samples=len(fresh),
            lookup_samples=len(lookup_ms),
            events_withheld=self.feed.events_withheld,
        )
        if t.enabled:
            self._stream_layers(progress, measured, events, jobs, walk)

    # -- verify ------------------------------------------------------------

    def _read_target(self):
        from postgres_cdc_reconciliation_spark.operators import apply as ap
        from postgres_cdc_reconciliation_spark.operators import manifest_target as mt

        if self.p.protocol == "overwrite":
            return ap.read_target(self.spark, self.target)
        return mt.read_snapshot(self.spark, self.target)

    def verify(self) -> None:
        from postgres_cdc_reconciliation_spark.operators import recon

        t, spark = self.tracer, self.spark
        t.default_ctx = "verify"
        src_path = os.path.join(self.dir, "source_final.parquet")
        gen.write_rows(self.feed.source, src_path)
        src = spark.read.parquet(src_path)
        tgt = self._read_target()
        want = self.feed.expected_drift()
        times = []
        for i in range(1 + VERIFY_REPEATS):
            t.set_ctx(f"verify-{i}")
            self.settle()
            t0 = time.perf_counter()
            fp = recon.fingerprint_diff(src, tgt, KEYS)
            summary = t.call("verify.fingerprint", fp.collect)
            # the fingerprint summary is bucket-sized: hand it on as a local table
            summary_df = spark.createDataFrame(summary, fp.schema)
            diff = t.call("verify.drilldown", lambda: recon.fingerprint_drilldown(
                src, tgt, KEYS, summary_df).select("order_id", "diff_type").collect())
            times.append(time.perf_counter() - t0)
            t.set_ctx(None)
            got = {r["order_id"]: r["diff_type"] for r in diff}
            self.fail.record(got == want and len(diff) == len(got),
                             f"drift list: {len(got)} keys, expected {len(want)}")
        # pass 0 compiles and warms the verify plans: it took about 1.5x
        # as long as the timed passes
        self.e2e["verify_s"] = _med(times[1:])
        self.detail["verify_s"] = [round(x, 3) for x in times]
        self.detail["drift_keys"] = len(want)
        if t.enabled:
            flagged = [r for r in summary if not r["bucket_match"]]
            self.layer["recon.buckets_flagged"] = len(flagged)
            rows = sum(r["src_count"] + r["tgt_count"] for r in flagged)
            self.layer["recon.drilldown_rows_per_divergent_key"] = rows / max(1, len(want))

    # -- per-layer numbers (traced run) ------------------------------------

    def _gc_ms(self) -> float:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))

    def _stream_layers(self, progress, measured, events, jobs, walk) -> None:
        t, L = self.tracer, self.layer
        # the stream numbers its batches from 0, the writer from 1
        by_id = {pr["batchId"] + 1: pr for pr in progress}
        dur = [by_id[b]["durationMs"] for b in measured if b in by_id]
        L["stream.add_batch_ms"] = _med(d.get("addBatch", 0) for d in dur)
        L["stream.trigger_overhead_ms"] = _med(
            d.get("triggerExecution", 0) - d.get("addBatch", 0) for d in dur)
        L["stream.jobs_per_batch"] = _med(jobs)
        L["stream.source_rows_read_per_event"] = sum(
            by_id[b]["numInputRows"] for b in measured if b in by_id) / max(1, sum(events))
        in_batches = {f"batch-{b}" for b in measured}

        def per_batch(name: str) -> float:
            return _med((s.end - s.start) * 1000 for s in t.spans
                        if s.name == name and s.ctx in in_batches)

        for name in ("apply.write_bucketed_target", "apply.drop_metrics",
                     "manifest_target.read_manifest", "manifest_target.read_buckets",
                     "manifest_target.commit_delta", "frontier.append_frontier"):
            L[f"{name}_ms"] = per_batch(name)
        # the batch function's own time: addBatch minus the spans it called
        roots = t.root_ms_by_ctx()
        L["apply.merge_self_ms"] = _med(
            by_id[b]["durationMs"].get("addBatch", 0) - roots.get(f"batch-{b}", 0.0)
            for b in measured if b in by_id)
        L["apply.buckets_rewritten_per_batch"] = _med(w[0] for w in walk)
        L["apply.bytes_written_per_event"] = sum(w[1] for w in walk) / max(1, sum(events))
        in_monitors = {f"monitor-{b}" for b in measured}

        def per_monitor(name: str) -> float:
            return _med((s.end - s.start) * 1000 for s in t.spans
                        if s.name == name and s.ctx in in_monitors)

        L["frontier.current_frontier_ms"] = per_monitor("monitor.current_frontier")
        L["status.health_report_ms"] = per_monitor("monitor.health_report")
        L["manifest_target.read_keys_ms"] = _med(t.durations_ms("manifest_target.read_keys", "lookup-"))
        L["lookup.collect_ms"] = _med(t.durations_ms("lookup.collect", "lookup-"))
        if self.p.protocol == "manifest":
            live = sum(os.path.getsize(f) for f in oracle.live_files(self.target, "manifest"))
            L["manifest_target.space_amp"] = oracle.data_bytes(self.target) / max(1, live)

    def layers_after(self) -> None:
        """Traced run only: the standalone cdc probe, recon spans, JVM GC."""
        from postgres_cdc_reconciliation_spark.sources import cdc

        t, L, spark = self.tracer, self.layer, self.spark
        t.default_ctx = "probe"
        incoming = os.path.join(self.dir, "incoming")
        files = sorted(os.path.join(incoming, n) for n in os.listdir(incoming))
        n_events = 0
        for f in files:
            with open(f, "rb") as fh:
                n_events += sum(1 for _ in fh)
        raw = spark.read.schema("key string, value string").json(files)
        t0 = time.perf_counter()
        cdc.unwrap(cdc.parse_stream(raw)).write.format("noop").mode("overwrite").save()
        L["cdc.parse_unwrap_ms_per_1k_events"] = (
            (time.perf_counter() - t0) * 1000 / (n_events / 1000))
        timed = {f"verify-{i}" for i in range(1, 1 + VERIFY_REPEATS)}
        for name, metric in (("verify.fingerprint", "recon.fingerprint_diff_ms"),
                             ("verify.drilldown", "recon.fingerprint_drilldown_ms")):
            L[metric] = _med((s.end - s.start) * 1000 for s in t.spans
                             if s.name == name and s.ctx in timed)
        L["jvm.gc_ms"] = self.gc_ms
        self.detail["spans"] = len(t.spans)
