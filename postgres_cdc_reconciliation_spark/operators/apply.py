"""CDC upsert/delete apply — the sink-side core operator (S7/T2/T3).

The reference delegates this to the Debezium JDBC sink
(jdbc-sink-connector-config.json:10-17: insert.mode=upsert,
primary.key.mode=record_key, delete.enabled=true): for each primary key the
LAST change event wins, and a delete removes the row.

Spark-first design:

- ``latest_per_key``: one aggregation with ``max_by(struct(*), lsn)`` —
  map-side partial aggregation collapses each key to its newest event
  *before* the shuffle, so shuffle volume is O(distinct keys in the batch),
  not O(events). This beats the row_number()-window formulation (full
  sort-per-partition, no partial agg) — the difference between one combine
  shuffle and a sort at 100 TB.
- ``apply_batch``: merge the deduped delta into the target by PK —
  upserts + delete handling in one join. Idempotent: re-applying the same
  batch yields the same target (exactly-once effect under retries, T2).
- ``apply_stream``: foreachBatch wrapper for Structured Streaming.

At cluster scale the target should be a transactional table format
(Delta/Iceberg MERGE); on plain parquet the target is laid out as
``_bucket=pmod(xxhash64(pk), N)`` hash partitions and each micro-batch
rewrites ONLY the buckets its keys touch (dynamic partition overwrite) —
per-batch cost is O(touched buckets), never O(target).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.lsn import lsn_to_long

#: default number of PK-hash partitions for a parquet apply target. Sized so
#: one bucket ≈ target_size/N — at 100 TB with N tuned up (say 16k) a bucket
#: stays a few GB, and a micro-batch touching k keys rewrites ≤ k buckets.
DEFAULT_TARGET_BUCKETS = 64

#: envelope columns an unwrapped change event carries beside its row
#: image (``sources.cdc.unwrap``); the apply target stores only the image
ENVELOPE_COLS = ("op", "source_lsn", "ts_ms", "__deleted")


def _contains_map(dt) -> bool:
    """True if ``dt`` is or transitively contains a MapType — xxhash64
    refuses a map ANYWHERE in the type tree (array<map<...>>, a struct
    with a map field), not just at the top level (ADVICE r7)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return True
    if isinstance(dt, ArrayType):
        return _contains_map(dt.elementType)
    if isinstance(dt, StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    return False


def hash_safe_cols(df: DataFrame, cols: list[str]) -> list[str]:
    """Subset of ``cols`` usable inside ``xxhash64`` — Spark refuses to
    hash MapType (no canonical entry order) without a legacy flag, so the
    payload-hash tie-breaks (latest_per_key, scd2_build, asof_join) hash
    every column EXCEPT map-carrying ones (the check walks the full type
    tree: array<map>, struct-with-map-field — ADVICE r7). Rows differing
    only in an unhashable column tie back to arrival order, which is the
    pre-tie-break behavior — strictly no worse, and analysis no longer
    crashes on map-carrying feeds (round-7 second review pass)."""
    return [c for c in cols if not _contains_map(df.schema[c].dataType)]


def payload_hash(df: DataFrame, cols: list[str]):
    """xxhash64 over the hashable subset of ``cols`` (lit(0) when nothing
    is hashable — ties then keep arrival order)."""
    safe = hash_safe_cols(df, cols)
    return F.xxhash64(*[F.col(c) for c in safe]) if safe else F.lit(0)


def bucket_expr(key_cols: list[str], n_buckets: int = DEFAULT_TARGET_BUCKETS):
    """Deterministic PK-hash bucket id (non-negative, stable across runs)."""
    return F.pmod(F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(n_buckets)).cast(
        "int"
    )


def cluster_by_bucket(
    df: DataFrame, key_cols: list[str], n_buckets: int = DEFAULT_TARGET_BUCKETS
) -> DataFrame:
    """``df`` with its ``_bucket`` column, repartitioned on it — the input
    of every ``partitionBy("_bucket")`` write. Each bucket's rows land in
    exactly one task, so a write emits ONE file per bucket dir however
    ``df`` was spread (without it, every task holding rows of a bucket
    writes its own file, and a bucket read back from k files is merged by
    k scan tasks into k new files — the count grows commit by commit).
    The partition count is the session's shuffle setting; AQE may
    coalesce partitions but never splits one."""
    return df.withColumn("_bucket", bucket_expr(key_cols, n_buckets)).repartition(
        "_bucket"
    )


#: sidecar recording the bucket count a target's layout was written with.
#: Underscore-prefixed, so Spark's parquet file index ignores it.
_LAYOUT_SIDECAR = "_pcr_layout.json"


def _write_layout_sidecar(
    spark: SparkSession, target_path: str, n_buckets: int
) -> None:
    # tmp-write + atomic rename (the manifest_target commit idiom): a
    # crash mid-write must never leave a truncated sidecar, which would
    # fail every later validation/dynamic write on this target until
    # hand-deleted
    import json

    path_cls = spark._jvm.org.apache.hadoop.fs.Path
    tmp = path_cls(f"{target_path}/.{_LAYOUT_SIDECAR}.tmp")
    final = path_cls(f"{target_path}/{_LAYOUT_SIDECAR}")
    fs = final.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps({"n_buckets": n_buckets}).encode()))
    finally:
        out.close()
    fs.delete(final, False)  # rename won't overwrite on all filesystems
    if not fs.rename(tmp, final):
        raise IOError(f"layout sidecar write failed at {target_path}")


def _read_layout_n_buckets(spark: SparkSession, target_path: str, _retry: bool = True):
    """The bucket count recorded in the layout sidecar, or None for a
    pre-sidecar target. An orphaned tmp with no final sidecar means a
    stamp crashed mid-replace — fail LOUDLY instead of silently
    downgrading the target to the weak legacy check. A reader racing a
    LIVE re-stamp (between its delete(final) and rename) sees the same
    tmp-without-final state for a few ms, so re-check once after a short
    pause before declaring the write dead (ADVICE r6). The open itself
    gets the same treatment: the file can vanish between the exists check
    and the open (the second race window of the same re-stamp), so a
    FileNotFoundException triggers ONE full re-evaluation — which then
    returns the re-stamped count, or raises the loud interrupted-write
    error if the writer really died."""
    import json
    import time

    path_cls = spark._jvm.org.apache.hadoop.fs.Path
    jpath = path_cls(f"{target_path}/{_LAYOUT_SIDECAR}")
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        tmp = path_cls(f"{target_path}/.{_LAYOUT_SIDECAR}.tmp")
        if fs.exists(tmp):
            time.sleep(0.2)  # a live re-stamp's delete→rename gap is ms-scale
            if not fs.exists(jpath):
                raise IOError(
                    f"interrupted layout-sidecar write at {target_path}: "
                    f".{_LAYOUT_SIDECAR}.tmp exists but the sidecar does not "
                    "— inspect the tmp's n_buckets and rename it into place "
                    "(or delete it to accept legacy validation)"
                )
        else:
            return None
    try:
        stream = fs.open(jpath)
        try:
            content = spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()
    except Exception as e:
        if _retry and "FileNotFoundException" in str(e):
            time.sleep(0.2)
            return _read_layout_n_buckets(spark, target_path, _retry=False)
        raise
    return int(json.loads(content)["n_buckets"])


def validate_bucket_layout(
    spark: SparkSession, target_path: str, n_buckets: int
) -> None:
    """Fail loudly when the caller's ``n_buckets`` disagrees with the
    bucket count the on-disk layout was written with (ADVICE r5): a
    mismatched count makes the touched-buckets filter recompute DIFFERENT
    bucket ids than the dirs on disk, silently missing the keys' existing
    rows — the apply path would resurrect deleted rows, the SCD2 path
    double-append versions. Layout from the sidecar when present; for a
    pre-sidecar target, the weaker invariant max(_bucket dir) < n_buckets
    still catches a shrunk count."""
    recorded = _read_layout_n_buckets(spark, target_path)
    if recorded is not None:
        if recorded != n_buckets:
            raise ValueError(
                f"bucket layout mismatch at {target_path}: target written "
                f"with n_buckets={recorded}, caller passed {n_buckets} — "
                "pass the original count (or fully rewrite the target to "
                "re-bucket)"
            )
        return
    jpath = spark._jvm.org.apache.hadoop.fs.Path(target_path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return  # nothing on disk yet: the first write defines the layout
    max_bucket = -1
    for st_ in fs.listStatus(jpath):
        name = st_.getPath().getName()
        if name.startswith("_bucket="):
            try:
                max_bucket = max(max_bucket, int(name.split("=", 1)[1]))
            except ValueError:
                continue
    if max_bucket >= 0:
        # bucketed layout but no sidecar: either a pre-sidecar legacy target
        # or a FIRST write that crashed between parquet commit and stamp
        # (ADVICE r6) — both validate only weakly (any count > max dir id
        # passes). Warn, don't fail: legacy targets are legitimate; the fix
        # for either is one static rewrite, which stamps.
        import logging

        logging.getLogger(__name__).warning(
            "bucketed target %s has _bucket= dirs but no %s sidecar: "
            "n_buckets=%d validates only against max dir id %d (weak). "
            "Run one static rewrite (write_bucketed_target(..., "
            "dynamic=False)) to stamp the layout and regain the strong "
            "check.",
            target_path,
            _LAYOUT_SIDECAR,
            n_buckets,
            max_bucket,
        )
    if max_bucket >= n_buckets:
        raise ValueError(
            f"bucket layout mismatch at {target_path}: on-disk bucket dir "
            f"_bucket={max_bucket} exceeds caller n_buckets={n_buckets} — "
            "the target was written with a larger bucket count"
        )


def write_bucketed_target(
    df: DataFrame,
    target_path: str,
    key_cols: list[str],
    n_buckets: int = DEFAULT_TARGET_BUCKETS,
    dynamic: bool = True,
) -> None:
    """Write/overwrite a PK-hash-bucketed parquet target.

    ``partitionOverwriteMode=dynamic`` replaces only the ``_bucket=`` dirs
    present in ``df`` — untouched buckets keep their existing files. Pass
    ``dynamic=False`` for a full truncate-and-write (initial snapshot, or
    migrating a legacy unpartitioned target). Every written bucket dir
    gets exactly one file (``cluster_by_bucket``).

    The sidecar records the layout's ``n_buckets`` so later
    readers/writers can validate their bucket count against the layout
    (``validate_bucket_layout``) instead of silently mis-pruning.

    A dynamic write validates the count against the existing layout FIRST:
    without the check, a caller passing the wrong ``n_buckets`` would merge
    mis-computed ``_bucket`` dirs into the layout and then re-stamp the
    sidecar with the wrong count — recording the corruption as valid. A
    static write may re-bucket freely (it truncates the whole target).

    Stamping policy: the sidecar is written only by a write that DEFINES
    the layout — a static rewrite, or the first write to a fresh path. A
    steady-state dynamic write never stamps: on a stamped target the
    validated count already matches (rewriting it would only add
    per-batch metadata ops and a crash window), and on a pre-sidecar
    legacy target stamping the caller's merely-plausible count would
    LOCK IN a possibly wrong layout (the weak max-dir check admits any
    larger count); legacy targets stay legacy until one full static
    rewrite migrates them.
    """
    spark = df.sparkSession
    existed = _path_exists(spark, target_path)
    if dynamic and existed:
        validate_bucket_layout(spark, target_path, n_buckets)
    (
        cluster_by_bucket(df, key_cols, n_buckets)
        .write.mode("overwrite")
        .option(
            "partitionOverwriteMode", "dynamic" if dynamic else "static"
        )
        .partitionBy("_bucket")
        .parquet(target_path)
    )
    if not dynamic or not existed:
        _write_layout_sidecar(spark, target_path, n_buckets)


def read_target(spark: SparkSession, target_path: str) -> DataFrame:
    """Read an apply target, hiding the internal ``_bucket`` layout column."""
    df = spark.read.parquet(target_path)
    return df.drop("_bucket") if "_bucket" in df.columns else df


def _drop_lsn_keyable_exprs(key_cols: list[str], lsn_col: str, lsn_is_text: bool):
    """(lsn_long, keyable) — the exact pair of expressions latest_per_key
    filters on, shared so the drop accounting can never drift from the
    drop itself."""
    lsn_long = (
        lsn_to_long(lsn_col) if lsn_is_text else F.col(lsn_col).cast("long")
    )
    keyable = F.lit(True)
    for k in key_cols:
        keyable = keyable & F.col(k).isNotNull()
    return lsn_long, keyable


def _drop_count_exprs(lsn_long, keyable) -> list:
    """The drop counters (events, unorderable_lsn, unkeyable, dropped) as
    aggregate expressions. Categories can overlap (an event can be both
    unorderable and unkeyable); 'dropped' is the exact count of events
    latest_per_key's filter removes."""
    droppable = lsn_long.isNull() | ~keyable
    return [
        F.count(F.lit(1)).alias("events"),
        F.sum(F.when(lsn_long.isNull(), 1).otherwise(0))
        .cast("long")
        .alias("unorderable_lsn"),
        F.sum(F.when(~keyable, 1).otherwise(0)).cast("long").alias("unkeyable"),
        F.sum(F.when(droppable, 1).otherwise(0)).cast("long").alias("dropped"),
    ]


def drop_metrics_df(
    events: DataFrame,
    key_cols: list[str],
    lsn_col: str = "source_lsn",
    lsn_is_text: bool = True,
) -> DataFrame:
    """1-row frame (events, unorderable_lsn, unkeyable, dropped) — the
    relational form of :func:`drop_metrics`' counters, for scheduled feed
    audits (driver-oracled as `q_apply_drop_audit`; the try_cast twin is
    `q_cast_audit`). Zero everywhere on a well-formed feed."""
    lsn_long, keyable = _drop_lsn_keyable_exprs(key_cols, lsn_col, lsn_is_text)
    return events.agg(*_drop_count_exprs(lsn_long, keyable))


def drop_metrics(
    events: DataFrame,
    key_cols: list[str],
    n_buckets: int = DEFAULT_TARGET_BUCKETS,
    lsn_col: str = "source_lsn",
    lsn_is_text: bool = True,
) -> dict:
    """The one stats pass over an event frame, as a plain dict:

    - ``events``, ``unorderable_lsn``, ``unkeyable``, ``dropped`` — exact
      accounting of what the latest_per_key dirty-feed guards discard
      (unparseable LSN / NULL key);
    - ``applied_lsn_long`` — max parsed LSN over all events, dropped ones
      included (they were consumed; None when no LSN parses);
    - ``buckets`` — sorted ids of the PK-hash buckets the events touch.

    ``apply_stream`` runs this once per micro-batch, and it is the batch's
    only action before the merge: emptiness, the buckets to read and
    rewrite, the drop warning and the frontier row all come from it. The
    buckets list is bounded by ``n_buckets`` — ints, never rows. (It is an
    action rather than ``observe`` metrics on the merge because
    ``Observation.get`` never returns inside ``foreachBatch`` once the plan
    joins a file scan.)"""
    lsn_long, keyable = _drop_lsn_keyable_exprs(key_cols, lsn_col, lsn_is_text)
    row = events.agg(
        *_drop_count_exprs(lsn_long, keyable),
        F.max(lsn_long).alias("applied_lsn_long"),
        F.collect_set(bucket_expr(key_cols, n_buckets)).alias("buckets"),
    ).first()
    stats = {
        k: (row[k] or 0)
        for k in ("events", "unorderable_lsn", "unkeyable", "dropped")
    }
    stats["applied_lsn_long"] = row["applied_lsn_long"]
    stats["buckets"] = sorted(row["buckets"])
    return stats


def _warn_dropped_events(metrics: dict, batch_id: int) -> None:
    """Log loudly when a micro-batch silently discarded events (unparseable
    LSN / NULL key — the latest_per_key dirty-feed guards). The drop itself
    is the documented contract (one mangled event must cost itself, not the
    job); this makes it OBSERVABLE instead of silent (ADVICE r7)."""
    import logging

    if metrics.get("dropped"):
        logging.getLogger(__name__).warning(
            "apply batch %s dropped %s of %s events "
            "(unorderable_lsn=%s, unkeyable=%s) — dirty feed upstream",
            batch_id,
            metrics["dropped"],
            metrics["events"],
            metrics["unorderable_lsn"],
            metrics["unkeyable"],
        )


def _path_exists(spark: SparkSession, path: str) -> bool:
    """Explicit FS existence check (works on any Hadoop-compatible FS).

    ADVICE r1: never treat an arbitrary read failure as 'first batch' — a
    transient IO error would silently rebuild the target from one
    micro-batch. Only true absence means first batch; anything else raises.
    """
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def _has_data_files(spark: SparkSession, path: str) -> bool:
    """True when the dir tree holds at least one DATA file (markers and
    hidden entries — ``_SUCCESS``, sidecars, checkpoints — don't count).

    A target dir that EXISTS but is dataless is a legitimate first-batch
    state (an empty-seed bootstrap, tooling that mkdir'd the path) — a
    bare read of it dies on parquet schema inference and kills the stream.
    This is a POSITIVE emptiness determination in the ADVICE r1 sense:
    the listing either succeeds (authoritative on every Hadoop FS) or its
    failure propagates loudly — no error is ever swallowed into
    "first batch". Early-exits on the first data file, so a populated
    target pays ~2 LIST calls, not a full tree walk."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    stack = [jpath]
    while stack:
        cur = stack.pop()
        for st in fs.listStatus(cur):
            name = st.getPath().getName()
            if st.isDirectory():
                # partition dirs may carry a leading underscore (this
                # package's own layout is `_bucket=N/`) — the `name=value`
                # shape marks them as DATA dirs, not markers, matching
                # Spark's own partition-discovery treatment
                if "=" in name or not name.startswith(("_", ".")):
                    stack.append(st.getPath())
            elif not name.startswith(("_", ".")):
                return True
    return False


def latest_per_key(
    events: DataFrame,
    key_cols: list[str],
    lsn_col: str = "source_lsn",
    lsn_is_text: bool = True,
) -> DataFrame:
    """Collapse a micro-batch to the newest event per key (last-writer-wins).

    max_by over a struct of all columns keyed by the BIGINT LSN; on a clean
    Debezium feed ties are impossible (LSN strictly increases per key,
    SURVEY.md §7 delta 6). Plans as SortAggregate (struct buffer isn't
    hash-agg mutable) but keeps the map-side partial/final split — shuffle
    volume is O(distinct keys in the batch), not O(events), which is the
    property the row_number()-window formulation lacks (full event shuffle
    + sort, zero partial aggregation).

    Dirty-feed contract (round-7 probe): an event whose LSN does not parse
    (lsn_to_long → NULL) cannot be ordered, and an event with a NULL key
    column cannot be KEYED (groupBy would collect all such events into one
    NULL group whose winner then upserts a ghost NULL-key row into the
    target — caught by the round's second review pass, the first probe's
    fixture had a delete shadowing the upsert). Both classes drop BEFORE
    the aggregate. And should a duplicate (key, lsn) ever appear
    (replayed/merged feeds), the tie breaks on a hash of the full payload
    instead of max_by's partition-arrival order — the partition-invariance
    the engine's determinism sweep pins everywhere else. All three guards
    are no-ops on a well-formed feed. :func:`drop_metrics` counts what the
    guards discard.
    """
    lsn_long, keyable = _drop_lsn_keyable_exprs(key_cols, lsn_col, lsn_is_text)
    payload = F.struct(*[F.col(c) for c in events.columns])
    order = F.struct(
        lsn_long.alias("_l"),
        payload_hash(events, events.columns).alias("_h"),
    )
    agg = (
        events.filter(lsn_long.isNotNull() & keyable)
        .groupBy(*[F.col(k) for k in key_cols])
        .agg(F.max_by(payload, order).alias("_latest"))
    )
    return agg.select("_latest.*")


def apply_batch(
    target: DataFrame,
    events: DataFrame,
    key_cols: list[str],
    lsn_col: str = "source_lsn",
    op_col: str = "op",
    drop_cols: tuple[str, ...] = ENVELOPE_COLS,
    evolve_schema: bool = False,
) -> DataFrame:
    """Apply unwrapped change events to a target snapshot.

    Semantics (jdbc-sink-connector-config.json:10-17): per key take the
    newest event; 'd' removes the row, anything else upserts the after-image.
    Returns the new target snapshot (anti-join out touched keys, union in
    survivors).

    ``evolve_schema=True`` enables ADDITIVE evolution, the Debezium
    ``schema.evolution: basic`` subset (jdbc-sink-connector-config.json:14):
    event columns absent from the target are appended (existing rows get
    NULL), and old-schema events missing target columns upsert NULL there.
    Column drops/renames/retypes stay errors — basic mode doesn't do them.
    """
    latest = latest_per_key(events, key_cols, lsn_col=lsn_col)
    touched_keys = latest.select(*key_cols)
    upserts = latest.filter(F.col(op_col) != "d").drop(*drop_cols)
    if evolve_schema:
        have = set(target.columns)
        for f in upserts.schema.fields:  # new event columns → append to target
            if f.name not in have:
                target = target.withColumn(f.name, F.lit(None).cast(f.dataType))
        have_ev = set(upserts.columns)
        for f in target.schema.fields:  # old-schema events → NULL-fill
            if f.name not in have_ev:
                upserts = upserts.withColumn(f.name, F.lit(None).cast(f.dataType))
    untouched = target.join(touched_keys, key_cols, "left_anti")
    # the target's declared column types win (JDBC-sink semantics: rows are
    # cast into the existing table) — otherwise union coercion would silently
    # widen types and leave a bucketed target with mixed parquet file schemas
    aligned = upserts.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in target.schema.fields]
    )
    return untouched.unionByName(aligned)


def apply_stream(
    parsed_unwrapped: DataFrame,
    target_path: str,
    key_cols: list[str],
    checkpoint_dir: str,
    frontier_path: str | None = None,
    n_buckets: int = DEFAULT_TARGET_BUCKETS,
    protocol: str = "overwrite",
    evolve_schema: bool = False,
):
    """Continuous apply: foreachBatch merge + frontier advance (T2+T5).

    Each micro-batch first runs ONE stats pass (:func:`drop_metrics`), its
    only action before the merge. The stats row carries everything the
    batch needs about itself:

    - ``events == 0`` ends an empty batch at once;
    - ``buckets`` names the PK-hash buckets to read and rewrite;
    - the drop counters are always taken, and a warning names them
      whenever the latest_per_key dirty-feed guards discard events
      (unparseable LSN / NULL key) — drops are counted, never silent;
    - the max parsed LSN and the event count become the frontier row,
      appended after the data commit — the engine's analog of
      confirmed_flush_lsn (check_batch_replication_status.sql:74-77).

    The batch is then deduped to latest-per-key and merged into the
    touched buckets of the target.

    Scale + crash-safety model:

    - The target is partitioned by ``_bucket = pmod(xxhash64(pk), n)``. A
      micro-batch only reads (partition-pruned) and rewrites (dynamic
      partition overwrite) the buckets its keys hash into — per-batch IO is
      O(delta × bucket_size), never O(target). The round-1 design rewrote
      the whole target twice per batch; this replaces it.
    - The merged bucket content is ``localCheckpoint``-ed before the write:
      materializing first means the overwrite never reads from the files it
      is replacing, and a mid-write crash is recovered by the stream
      checkpoint replaying the batch — ``apply_batch`` is idempotent, and
      buckets are disjoint key sets, so re-merging from any old/new mix of
      bucket states converges to the same target.
    - 'Missing target' is detected by an explicit FS existence check; any
      other read failure FAILS the batch (a transient IO error must never
      masquerade as 'first batch' and truncate the target — ADVICE r1).
    - The control write happens after the data write (commit-marker
      ordering, data_generator.py:96-121 analog).
    - ``evolve_schema=True`` (additive evolution, see ``apply_batch``): a
      micro-batch that introduces a NEW column forces a one-time full
      rewrite of the target (``dynamic=False``) instead of the touched-
      buckets overwrite. Touched-only would leave new-schema files in some
      ``_bucket=`` dirs and old-schema files in the rest, and a plain
      parquet read resolves one footer — the column would silently vanish.
      Schema change is DDL-rare, so paying O(target) once per change keeps
      every steady-state batch at O(delta).
    - ``protocol="manifest"`` swaps the in-place dynamic overwrite for the
      versioned-manifest commit (``manifest_target.py``): immutable
      per-attempt stage dirs + atomic rename-if-absent manifest commit, so
      concurrent readers get snapshot isolation, a mid-write crash leaves
      the previous snapshot fully visible, and even a RACING second writer
      fails loud without touching the winner's committed data (the
      dynamic-overwrite path remains strictly single-writer). Read such
      targets with ``manifest_target.read_snapshot``.
    """
    spark = parsed_unwrapped.sparkSession

    def _has_new_cols(batch_df: DataFrame, target_cols: list[str]) -> bool:
        """True when the batch carries payload columns the target lacks;
        raises unless additive evolution is on."""
        new_cols = [
            c
            for c in batch_df.columns
            if c not in ENVELOPE_COLS and c not in target_cols
        ]
        if new_cols and not evolve_schema:
            raise ValueError(
                f"events carry columns {new_cols} absent from the target; "
                "pass evolve_schema=True (additive evolution) or fix the feed"
            )
        return bool(new_cols)

    def _empty_target(batch_df: DataFrame) -> DataFrame:
        """An empty target with the delta's payload schema (first batch)."""
        return batch_df.limit(0).drop(*ENVELOPE_COLS)

    def _merge_manifest(batch_df: DataFrame, buckets: list[int]) -> None:
        from .manifest_target import (
            LostRaceError,
            _read_manifest_doc,
            commit_delta,
            read_buckets,
            read_snapshot,
        )

        # base_version + bounded retry: the stream is no longer guaranteed
        # to be the target's ONLY writer — the DML verbs (delete_keys/
        # delete_where/update_where) and maintenance compact() run beside
        # it. A commit that ignored an interleaved writer would silently
        # revert its rows (resurrect deleted keys); carrying the read
        # version turns that into the lost-the-race IOError, and the loser
        # re-reads + re-merges — the same idempotent re-merge its
        # crash-replay contract already performs.
        for attempt in range(5):
            touched = buckets
            base_v, doc = _read_manifest_doc(spark, target_path)
            target = None
            if base_v >= 0:
                # the doc's stamped schema is the snapshot's schema: the
                # new-column check needs no read of the data
                stamped = [f["name"] for f in doc["schema"]["fields"]]
                if _has_new_cols(batch_df, stamped):
                    # schema change: merge + commit EVERY live bucket in this
                    # one snapshot so the uniform-schema invariant holds (a
                    # touched-only commit would mix footers across bucket dirs)
                    target = read_snapshot(spark, target_path, version=base_v)
                    touched = sorted(set(doc["buckets"]) | set(buckets))
                else:
                    target = read_buckets(spark, target_path, buckets)
            if target is None:  # first commit, or all touched buckets empty
                target = _empty_target(batch_df)
            # No localCheckpoint here (unlike the overwrite path): the merge
            # plan reads only IMMUTABLE stage dirs pinned by explicit path
            # (read_buckets), so the stage write inside commit_delta is the
            # single safe materialization pass — a pre-checkpoint would add
            # a full block-manager round-trip per attempt and leak blocks
            # across retries (ADVICE r12).
            merged = apply_batch(
                target, batch_df, key_cols, evolve_schema=evolve_schema
            )
            try:
                commit_delta(
                    merged,
                    target_path,
                    key_cols,
                    touched,
                    n_buckets,
                    # unconditional: for a first commit base_v is -1 and
                    # commit_delta's current_v != base_version check turns a
                    # concurrent v0 winner into the retried LostRaceError.
                    # (base_version=None here disabled the guard for the
                    # target's FIRST commit — a racing writer's v0 rows were
                    # silently reverted by our v1. ADVICE r12.)
                    base_version=base_v,
                )
                return
            except LostRaceError:
                # ONLY the optimistic-concurrency loss is retriable; any
                # other IO fault (disk, permissions, torn manifest) must
                # fail the batch loudly rather than be re-merged 5 times.
                if attempt == 4:
                    raise  # persistent contention: fail the batch loudly

    def _merge_overwrite(batch_df: DataFrame, buckets: list[int]) -> None:
        if _path_exists(spark, target_path) and _has_data_files(
            spark, target_path
        ):
            raw = spark.read.parquet(target_path)
            if _has_new_cols(batch_df, raw.columns):
                # schema change: full rewrite so every bucket file carries the
                # evolved schema (see docstring) — one O(target) batch, then
                # steady state returns to touched-buckets-only
                target, dynamic = raw.drop("_bucket"), False
            elif "_bucket" in raw.columns:
                # the pruning filter recomputes bucket ids from the CALLER's
                # n_buckets; a count disagreeing with the on-disk layout is
                # caught by write_bucketed_target's validation BEFORE
                # anything is written (one sidecar read per batch — a second
                # pre-read validation here would double the metadata
                # round-trips on the hot streaming path and buys only an
                # earlier error for the same loud failure)
                target = raw.filter(F.col("_bucket").isin(buckets)).drop("_bucket")
                dynamic = True
            else:
                # legacy unpartitioned target (e.g. external snapshot):
                # one-time O(target) migration into the bucketed layout
                target, dynamic = raw, False
        else:
            # first batch (path absent, OR present but dataless — an
            # empty-seed bootstrap / pre-created dir). Static write: nothing
            # on disk to preserve, and it stamps the layout sidecar even
            # though the dir technically "existed"
            target, dynamic = _empty_target(batch_df), False
        # materialize, then dynamic-overwrite only the touched buckets
        new_target = apply_batch(
            target, batch_df, key_cols, evolve_schema=evolve_schema
        ).localCheckpoint(eager=True)
        write_bucketed_target(
            new_target, target_path, key_cols, n_buckets, dynamic=dynamic
        )
        if dynamic:
            # dynamic overwrite only replaces partitions PRESENT in the
            # output — a bucket whose last rows were all deleted produces no
            # partition, so its stale dir must be dropped explicitly.
            # (Replay-safe: checkpoint commits after the batch function
            # returns, so a crash here just re-runs the batch and re-deletes.)
            surviving = {
                r[0]
                for r in new_target.select(
                    bucket_expr(key_cols, n_buckets).alias("_b")
                )
                .distinct()
                .collect()
            }
            jvm_path_cls = spark._jvm.org.apache.hadoop.fs.Path
            fs = jvm_path_cls(target_path).getFileSystem(
                spark._jsc.hadoopConfiguration()
            )
            for b in set(buckets) - surviving:
                fs.delete(jvm_path_cls(f"{target_path}/_bucket={b}"), True)

    merge = _merge_manifest if protocol == "manifest" else _merge_overwrite

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        from ..streaming.frontier import append_frontier

        stats = drop_metrics(batch_df, key_cols, n_buckets)
        if stats["events"] == 0:
            return
        _warn_dropped_events(stats, batch_id)
        merge(batch_df, stats["buckets"])
        if frontier_path is not None:
            append_frontier(
                spark,
                frontier_path,
                batch_id,
                stats["applied_lsn_long"],
                stats["events"],
            )

    return (
        parsed_unwrapped.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )


def compact_changelog(
    events: DataFrame,
    key_cols: list[str],
    attr_cols: list[str],
    seq_col: str,
    op_col: str = "op",
    create_op: str = "c",
    delete_op: str = "d",
) -> DataFrame:
    """Kafka-log-compaction semantics over a changelog window: collapse all
    events per key to their NET effect, preserving replayability.

    The net op depends on both ends of the key's event run in the window:

      first=c, last=d  ->  (nothing)  the key was born and died inside the
                                      window; downstream never saw it
      first=c, last!=d ->  'c'        insert carrying the LAST after-image
      first!=c, last=d ->  'd'        tombstone (key may exist downstream)
      first!=c, last!=d -> 'u'        update carrying the LAST after-image

    This is what the Debezium->Kafka leg the reference rides on does at the
    broker (topic cleanup.policy=compact, docker-compose.yml Kafka service)
    plus tombstone collapse at the sink; replaying the compacted log onto
    any downstream state the window started from yields the same state as
    replaying the full log.

    Scale shape: ONE aggregation — min_by/max_by(struct, seq) with
    map-side partial combine, shuffle O(distinct keys), never O(events).
    (Spark plans struct-payload max_by as SortAggregate — its buffer
    isn't hash-agg mutable — but the partial/final split still holds, the
    same plan shape as latest_per_key; the q_priority_pick pack-into-one-
    long trick doesn't apply because the after-image payload is multi-
    column.) No whole-changelog window function, no self-join.
    Attr columns are nulled on tombstones so the output is a valid minimal
    changelog, not a peek at deleted data. ``seq_col`` must be unique per
    key (an LSN / commit sequence is — Debezium per-key ordering): min_by/
    max_by on a tied seq would pick an arbitrary event and the net image
    would be nondeterministic.
    """
    seq = F.col(seq_col)
    payload = F.struct(F.col(op_col).alias("_op"), *[F.col(c) for c in attr_cols])
    agg = events.groupBy(*[F.col(k) for k in key_cols]).agg(
        F.min_by(payload, seq).alias("_first"),
        F.max_by(payload, seq).alias("_last"),
        F.min(seq).alias("first_seq"),
        F.max(seq).alias("last_seq"),
        F.count("*").cast("long").alias("n_events"),
    )
    first_op = F.col("_first._op")
    last_op = F.col("_last._op")
    net_op = (
        F.when(last_op == delete_op, F.lit(delete_op))
        .when(first_op == create_op, F.lit(create_op))
        .otherwise(F.lit("u"))
    )
    kept = agg.filter(~((first_op == create_op) & (last_op == delete_op)))
    return kept.select(
        *key_cols,
        net_op.alias("net_op"),
        *[
            F.when(last_op != delete_op, F.col(f"_last.{c}")).alias(c)
            for c in attr_cols
        ],
        "n_events",
        "first_seq",
        "last_seq",
    )
