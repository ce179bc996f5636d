"""[EXT] Unified maintenance monitor for every persisted sidecar tier.

Every incremental tier in the engine grows per ingest batch — the manifest
target accrues versions and stage attempts, the semantic index accrues
``batch=N`` partitions, the text index accrues ``delta/v=K`` admits, the
streaming LSH band index accrues ``batch=N`` dirs, and a stamped clustered
dir accrues files its zonemap/bloom/NDV/hist sidecars haven't seen yet.
Each tier has its own stats view (``bucket_stats``, ``semantic_index_stats``,
…) and its own compaction verb; what was missing (VERDICT r11 #7) is ONE
report that walks any set of paths, detects what lives there, and says
whether maintenance is due and which verb to run.

``maintenance_report`` is that report: metadata IO only (filesystem
listings, sidecar JSON, manifest docs — never data files), one row per
detected tier per path, with per-tier thresholds and the advice string
naming the exact maintenance call. The driver-side listings are bounded by
file/dir counts, the same budget the tiers' own stats views spend.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

#: report row schema — one row per detected tier per path
REPORT_SCHEMA = (
    "path string, tier string, n_files long, n_bytes long, n_admits long, "
    "n_versions long, stale_files long, compaction_due boolean, "
    "advice string"
)

_SIDECARS = (
    "_pcr_zonemap.json",
    "_pcr_bloom.json",
    "_pcr_ndv.json",
    "_pcr_hist.json",
)


def _fs_of(spark, path):
    from .manifest_target import _fs

    return _fs(spark, path)


def _exists(spark, fs, path: str) -> bool:
    _, jp = _fs_of(spark, path)
    return fs.exists(jp)


def _list_names(spark, fs, path: str) -> list:
    _, jp = _fs_of(spark, path)
    if not fs.exists(jp):
        return []
    return list(fs.listStatus(jp))


def _du(spark, fs, path: str) -> tuple[int, int]:
    """(n_data_files, n_bytes) for a dir tree — hidden/marker files
    excluded. One getContentSummary-style recursive listing, no data IO."""
    _, jp = _fs_of(spark, path)
    if not fs.exists(jp):
        return 0, 0
    n = b = 0
    stack = [jp]
    while stack:
        cur = stack.pop()
        for st in fs.listStatus(cur):
            name = st.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            if st.isDirectory():
                stack.append(st.getPath())
            else:
                n += 1
                b += st.getLen()
    return n, b


def _read_json(fs, spark, path: str) -> dict:
    _, jp = _fs_of(spark, path)
    stream = fs.open(jp)
    try:
        return json.loads(bytes(stream.readAllBytes()).decode("utf-8"))
    finally:
        stream.close()


def _manifest_row(spark, fs, path, max_files_per_bucket, max_versions):
    from .manifest_target import STAGE_DIR, _manifest_versions, _read_manifest_doc

    versions = _manifest_versions(spark, path)
    # every committed version's labels are REACHABLE (time travel), not
    # orphans — only a stage dir no manifest points at is vacuum's food
    live_labels = set()
    mapping: dict[int, str] = {}  # the latest version's, after the loop
    for v in versions:
        _, doc = _read_manifest_doc(spark, path, v)
        mapping = doc["buckets"]
        live_labels |= set(mapping.values())
    # one glob per LIVE label (labels <= commits, usually << buckets)
    # instead of a listStatus round-trip per live bucket dir — 256 buckets
    # over 11 labels cost 11 py4j calls, not 256, and a full-stage-tree
    # glob (which also walks every historical version's dirs) is avoided
    current = {(label, b) for b, label in mapping.items()}
    n_files = n_bytes = 0
    per_bucket: dict[int, int] = {}
    for label in sorted({label for label, _ in current}):
        _, gpath = _fs_of(
            spark, f"{path}/{STAGE_DIR}/v={label}/_bucket=*/*"
        )
        for st in fs.globStatus(gpath) or []:
            p = st.getPath()
            name = p.getName()
            if name.startswith(("_", ".")) or st.isDirectory():
                continue
            b = int(p.getParent().getName().split("=", 1)[1])
            if (label, b) not in current:
                continue  # bucket superseded by a later commit (time travel)
            n_files += 1
            n_bytes += st.getLen()
            per_bucket[b] = per_bucket.get(b, 0) + 1
    worst_bucket_files = max(per_bucket.values(), default=0)
    # orphan stage attempts: staged dirs no committed manifest points at
    # (crashed/lost-race writers) — vacuum's food
    orphans = 0
    for st in _list_names(spark, fs, f"{path}/{STAGE_DIR}"):
        name = st.getPath().getName()
        if name.startswith("v=") and name[2:] not in live_labels:
            orphans += 1
    due = (
        worst_bucket_files > max_files_per_bucket
        or len(versions) > max_versions
        or orphans > 0
    )
    parts = []
    if worst_bucket_files > max_files_per_bucket:
        parts.append(
            f"compact(root, ...) — a bucket holds {worst_bucket_files} "
            f"files (> {max_files_per_bucket})"
        )
    if len(versions) > max_versions:
        parts.append(
            f"vacuum(root, keep_versions=...) — {len(versions)} versions "
            f"retained (> {max_versions})"
        )
    if orphans:
        parts.append(f"vacuum(root) — {orphans} orphan stage attempt(s)")
    return (
        path,
        "manifest_target",
        n_files,
        n_bytes,
        0,
        len(versions),
        orphans,
        bool(due),
        "; ".join(parts) if parts else "healthy",
    )


def _semantic_row(spark, fs, path, max_admits):
    batches = sorted(
        st.getPath().getName()
        for st in _list_names(spark, fs, path)
        if st.getPath().getName().startswith("batch=")
    )
    n_files, n_bytes = _du(spark, fs, path)
    n_admits = max(0, len(batches) - 1)  # batch=0 is the seed build
    due = n_admits > max_admits
    return (
        path,
        "semantic_index",
        n_files,
        n_bytes,
        n_admits,
        len(batches),
        0,
        bool(due),
        (
            f"semantic_index_compact(src, dst) — {n_admits} admitted "
            f"batches (> {max_admits}); each probed cluster opens one dir "
            "per batch"
            if due
            else "healthy"
        ),
    )


def _text_index_row(spark, fs, path, max_admits):
    from .retrieval import _idx_meta

    meta = _idx_meta(spark, path)
    n_files, n_bytes = _du(spark, fs, path)
    n_admits = len(meta["deltas"])
    due = n_admits > max_admits
    return (
        path,
        "text_index",
        n_files,
        n_bytes,
        n_admits,
        n_admits + 1,
        0,
        bool(due),
        (
            f"text_index_compact(src, dst) — {n_admits} committed deltas "
            f"(> {max_admits}); each probed bucket opens one dir per delta"
            if due
            else "healthy"
        ),
    )


def _stamped_row(spark, fs, path, max_stale_share, max_files):
    live = {
        st.getPath().getName(): st.getLen()
        for st in _list_names(spark, fs, path)
        if st.getPath().getName().endswith(".parquet")
    }
    stale = set()
    stamped_sidecars = []
    for sc in _SIDECARS:
        if not _exists(spark, fs, f"{path}/{sc}"):
            continue
        stamped_sidecars.append(sc)
        entries = _read_json(fs, spark, f"{path}/{sc}").get("files", {})
        stale |= set(live) - set(entries)
    n_files = len(live)
    n_bytes = sum(live.values())
    stale_share = (len(stale) / n_files) if n_files else 0.0
    parts = []
    if stale:
        verbs = ", ".join(
            f"stamp_{sc.split('_pcr_')[1].split('.')[0]}(mode='append')"
            for sc in stamped_sidecars
        )
        parts.append(
            f"{verbs} — {len(stale)} file(s) unstamped "
            f"({stale_share:.0%} of the dir is unprunable)"
        )
    if n_files > max_files:
        parts.append(
            f"compact_clustered(src, dst) — {n_files} files "
            f"(> {max_files}); per-file open cost dominates small scans"
        )
    due = stale_share > max_stale_share or n_files > max_files
    return (
        path,
        "stamped_parquet",
        n_files,
        n_bytes,
        0,
        0,
        len(stale),
        bool(due),
        "; ".join(parts) if parts else "healthy",
    )


def _batch_store_row(spark, fs, path, max_admits):
    batches = [
        st.getPath().getName()
        for st in _list_names(spark, fs, path)
        if st.getPath().getName().startswith("batch=")
    ]
    n_files, n_bytes = _du(spark, fs, path)
    n_admits = len(batches)
    due = n_admits > max_admits
    return (
        path,
        "batch_store",
        n_files,
        n_bytes,
        n_admits,
        n_admits,
        0,
        bool(due),
        (
            f"compact_batch_store(src, dst) — {n_admits} batch dirs "
            f"(> {max_admits}); every probe lists and opens all of them"
            if due
            else "healthy"
        ),
    )


def _stream_state_row(spark, fs, path, max_versions):
    committed = []
    for st in _list_names(spark, fs, path):
        name = st.getPath().getName()
        if name.startswith("v=") and _exists(
            spark, fs, f"{path}/{name}/_COMMIT"
        ):
            committed.append(int(name[2:]))
    n_files, n_bytes = _du(spark, fs, path)
    due = len(committed) > max_versions
    return (
        path,
        "stream_state",
        n_files,
        n_bytes,
        0,
        len(committed),
        0,
        bool(due),
        (
            f"{len(committed)} committed versions retained "
            f"(> {max_versions}) — lower keep_versions on the stream"
            if due
            else "healthy"
        ),
    )


def detect_tier(spark, path: str) -> str | None:
    """Which maintenance tier lives at ``path`` — None when unrecognized.
    Detection is structural (marker files/dirs), never data reads."""
    fs, _ = _fs_of(spark, path)
    from .manifest_target import MANIFEST_DIR

    if _exists(spark, fs, f"{path}/{MANIFEST_DIR}"):
        return "manifest_target"
    if _exists(spark, fs, f"{path}/_pcr_semindex.json"):
        return "semantic_index"
    if _exists(spark, fs, f"{path}/_COMMIT") and _exists(
        spark, fs, f"{path}/meta"
    ):
        return "text_index"
    if any(_exists(spark, fs, f"{path}/{sc}") for sc in _SIDECARS):
        return "stamped_parquet"
    names = [st.getPath().getName() for st in _list_names(spark, fs, path)]
    if any(n.startswith("v=") for n in names) and any(
        _exists(spark, fs, f"{path}/{n}/_COMMIT")
        for n in names
        if n.startswith("v=")
    ):
        return "stream_state"
    if any(n.startswith("batch=") for n in names):
        return "batch_store"
    return None


def maintenance_report(
    spark: SparkSession,
    paths: list[str] | str,
    max_admits: int = 8,
    max_files_per_bucket: int = 8,
    max_versions: int = 32,
    max_stale_share: float = 0.25,
    max_files: int = 512,
) -> DataFrame:
    """One maintenance row per recognized tier under each path: file/byte
    footprint, admit/version counts, staleness, a ``compaction_due``
    verdict against the thresholds, and the advice string naming the
    maintenance verb. An unrecognized path reports tier ``unknown`` with
    ``compaction_due=false`` (loud in the report, silent in the gate —
    a typo'd path must not page anyone).

    Thresholds: ``max_admits`` bounds delta/batch dirs per index (each
    admit adds one dir-open per probe), ``max_files_per_bucket`` and
    ``max_versions`` bound the manifest target, ``max_stale_share`` the
    unstamped-file fraction a sidecar-pruned scan tolerates (stale files
    are always READ — pruning degrades, never breaks), ``max_files`` the
    plain file count of a stamped dir."""
    if isinstance(paths, str):
        paths = [paths]
    if not paths:
        raise ValueError("paths must be non-empty")
    rows = []
    for p in paths:
        p = p.rstrip("/")
        fs, _ = _fs_of(spark, p)
        tier = detect_tier(spark, p)
        if tier == "manifest_target":
            rows.append(
                _manifest_row(spark, fs, p, max_files_per_bucket, max_versions)
            )
        elif tier == "semantic_index":
            rows.append(_semantic_row(spark, fs, p, max_admits))
        elif tier == "text_index":
            rows.append(_text_index_row(spark, fs, p, max_admits))
        elif tier == "stamped_parquet":
            rows.append(
                _stamped_row(spark, fs, p, max_stale_share, max_files)
            )
        elif tier == "batch_store":
            rows.append(_batch_store_row(spark, fs, p, max_admits))
        elif tier == "stream_state":
            rows.append(_stream_state_row(spark, fs, p, max_versions))
        else:
            n_files, n_bytes = _du(spark, fs, p)
            rows.append(
                (p, "unknown", n_files, n_bytes, 0, 0, 0, False,
                 "unrecognized layout — nothing to maintain")
            )
    return spark.createDataFrame(rows, REPORT_SCHEMA)


def compact_batch_store(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    partition_col: str | None = None,
    n_files: int = 8,
) -> int:
    """Compact an append-only ``batch=N`` store (the streaming LSH band
    index shape) into ``dst_path`` as a single ``batch=0`` dir: one read
    of all batch partitions, one write of ``n_files`` files (optionally
    repartitioned by ``partition_col`` so downstream equality joins
    co-locate). Returns the row count. Same no-data-loss contract as the
    index compactors: destination must be new; the caller swaps paths."""
    fs, _ = _fs_of(spark, src_path)
    if src_path.rstrip("/") == dst_path.rstrip("/"):
        raise ValueError("compact to a NEW path, then swap — never in place")
    if _exists(spark, fs, dst_path):
        raise ValueError(f"destination {dst_path} already exists")
    df = spark.read.parquet(src_path)
    if "batch" in df.columns:
        df = df.drop("batch")
    out = (
        df.repartition(n_files, partition_col)
        if partition_col
        else df.coalesce(n_files)
    )
    out.write.mode("errorifexists").parquet(f"{dst_path}/batch=0")
    return spark.read.parquet(dst_path).count()


#: maintain() result schema — one row per (path, action)
MAINTAIN_SCHEMA = (
    "path string, tier string, action string, executed boolean, "
    "detail string"
)

#: advice-substring -> action id (the advice strings are authored in THIS
#: module's row builders; tests/test_maintenance.py pins the mapping)
_ADVICE_ACTIONS = (
    ("compact(root", "manifest_compact"),
    ("vacuum(root", "manifest_vacuum"),
    ("semantic_index_compact(", "semantic_index_compact"),
    ("text_index_compact(", "text_index_compact"),
    ("compact_clustered(", "compact_clustered"),
    ("compact_batch_store(", "compact_batch_store"),
    ("lower keep_versions", "prune_stream_versions"),
)


def _sidecar_cols(doc: dict) -> list[str]:
    """Recover the stamped column set from a sidecar doc: every form
    (zonemap/bloom/ndv/hist) keys its per-file entries by column."""
    cols: set = set()
    for per in doc.get("files", {}).values():
        cols |= set(per)
    return sorted(cols)


def _compact_and_swap(spark, fs, path: str, compact_fn):
    """Run one dir-swap compaction tier with crash-debris hygiene (ADVICE
    r13 #3): a stale ``{path}__compacted`` from a run that died between
    compact and swap is deleted up front (it is pure, reproducible output
    of that run's input — keeping it only blocks every later run on
    errorifexists), and if the swap itself fails the freshly written
    compacted dir is deleted before the error surfaces, so the next
    maintain() resumes cleanly instead of failing the compact step.
    Returns (compact_fn's result, backup path)."""
    dst = f"{path}__compacted"
    _, jdst = _fs_of(spark, dst)
    if fs.exists(jdst):
        fs.delete(jdst, True)
    result = compact_fn(dst)
    try:
        backup = _swap_in(spark, fs, path, dst)
    except Exception:
        # the live dir is back in place (_swap_in restores it); the
        # compacted output is reproducible — remove it so the next run's
        # compact step doesn't trip over it
        fs.delete(jdst, True)
        raise
    return result, backup


def _swap_in(spark, fs, path: str, dst: str) -> str:
    """Atomic-ish cutover for the dir-swap tiers: rename the live dir to a
    backup, rename the freshly compacted dir into its place. The backup is
    KEPT (no-data-loss contract — the operator deletes it after
    validating); returns the backup path. Plain-parquet tiers have no
    manifest to arbitrate readers, so run swaps in a maintenance window —
    the same offline-by-design note every *_compact docstring carries."""
    backup = f"{path}__pre_compact"
    _, jsrc = _fs_of(spark, path)
    _, jdst = _fs_of(spark, dst)
    _, jbak = _fs_of(spark, backup)
    if fs.exists(jbak):
        raise ValueError(
            f"backup path {backup} already exists — a previous maintain() "
            "swap was not cleaned up; validate and remove it first"
        )
    if not fs.rename(jsrc, jbak):
        raise IOError(f"could not move {path} aside to {backup}")
    if not fs.rename(jdst, jsrc):
        # restore the original before failing: never leave the path empty
        fs.rename(jbak, jsrc)
        raise IOError(f"could not move {dst} into place at {path}")
    return backup


def maintain(
    spark: SparkSession,
    paths: list[str] | str,
    dry_run: bool = True,
    keep_manifests: int = 2,
    min_attempt_age_seconds: float = 3600.0,
    **thresholds,
) -> DataFrame:
    """EXECUTE the maintenance ``maintenance_report`` advises (VERDICT r12
    #7 — at 100 TB an admit curve that only *pages* is a regression, the
    report's advice must be runnable). One row per (path, action):
    whether it executed and what it did.

    ``dry_run=True`` (the default) only plans — every due action is
    listed with ``executed=false``. Execution semantics per tier:

    - **manifest_target**: ``compact`` re-commits through the versioned
      manifest protocol, so it is safe under live readers/writers — a
      concurrent commit surfaces as the lost race and compact is retried
      (bounded), exactly the DML loop's discipline. ``vacuum`` honors
      ``min_attempt_age_seconds`` so in-flight attempts are never
      reclaimed. key_cols and n_buckets come from the manifest's own
      stamps.
    - **semantic_index / text_index / batch_store / stamped_parquet
      (file-count)**: compact to ``{path}__compacted`` then swap in via
      rename, keeping ``{path}__pre_compact`` as the operator's backup.
      These tiers are manifest-free by design — swaps are NOT
      reader-atomic; run them in a maintenance window.
    - **stamped_parquet (stale sidecars)**: re-stamp in ``append`` mode —
      only unstamped files pay a footer/column pass; stamped params
      (cluster col, fpp, k/salt, buckets) carry over from the sidecar.
    - **stream_state**: prune committed ``v=`` snapshots beyond
      ``max_versions`` (newest kept) — the same pruning the owning stream
      performs on its next commit.
    """
    if isinstance(paths, str):
        paths = [paths]
    report = maintenance_report(spark, paths, **thresholds).collect()
    out_rows = []
    for row in report:
        if not row["compaction_due"]:
            out_rows.append(
                (row["path"], row["tier"], "none", False, "healthy")
            )
            continue
        actions = [
            act for needle, act in _ADVICE_ACTIONS if needle in row["advice"]
        ]
        # stale-sidecar re-stamps: advice names stamp_<kind>(mode='append')
        for kind in ("zonemap", "bloom", "ndv", "hist"):
            if f"stamp_{kind}(" in row["advice"]:
                actions.append(f"stamp_{kind}")
        for action in actions:
            if dry_run:
                out_rows.append(
                    (row["path"], row["tier"], action, False,
                     "dry run — pass dry_run=False to execute")
                )
                continue
            out_rows.append(
                _execute(
                    spark, row["path"], row["tier"], action,
                    keep_manifests=keep_manifests,
                    min_attempt_age_seconds=min_attempt_age_seconds,
                    max_versions=int(thresholds.get("max_versions", 32)),
                )
            )
    return spark.createDataFrame(out_rows, MAINTAIN_SCHEMA)


def _execute(
    spark, path, tier, action, keep_manifests, min_attempt_age_seconds,
    max_versions,
):
    fs, _ = _fs_of(spark, path)
    try:
        if action == "manifest_compact":
            from .manifest_target import LostRaceError, _read_manifest_doc
            from .manifest_target import compact as manifest_compact

            _, doc = _read_manifest_doc(spark, path)
            for attempt in range(5):
                try:
                    v = manifest_compact(
                        spark, path, doc["key_cols"], doc["n_buckets"]
                    )
                    return (
                        path, tier, action, True,
                        f"compacted to one file per bucket at v{v}",
                    )
                except LostRaceError:
                    if attempt == 4:
                        raise
            # unreachable
        if action == "manifest_vacuum":
            from .manifest_target import vacuum

            removed = vacuum(
                spark, path, keep_manifests=keep_manifests,
                min_attempt_age_seconds=min_attempt_age_seconds,
            )
            return (
                path, tier, action, True,
                f"vacuumed {len(removed)} stage dir(s), "
                f"kept {keep_manifests} manifest(s)",
            )
        if action == "semantic_index_compact":
            from .similarity import semantic_index_compact

            n, backup = _compact_and_swap(
                spark, fs, path,
                lambda dst: semantic_index_compact(spark, path, dst),
            )
            return (
                path, tier, action, True,
                f"compacted {n} rows; previous index kept at {backup}",
            )
        if action == "text_index_compact":
            from .retrieval import text_index_compact

            stats, backup = _compact_and_swap(
                spark, fs, path,
                lambda dst: text_index_compact(spark, path, dst),
            )
            return (
                path, tier, action, True,
                f"compacted ({stats}); previous index kept at {backup}",
            )
        if action == "compact_batch_store":
            n, backup = _compact_and_swap(
                spark, fs, path,
                lambda dst: compact_batch_store(spark, path, dst),
            )
            return (
                path, tier, action, True,
                f"compacted {n} rows into one batch dir; previous store "
                f"kept at {backup}",
            )
        if action == "compact_clustered":
            from .layout import compact_clustered

            stats, backup = _compact_and_swap(
                spark, fs, path,
                lambda dst: compact_clustered(spark, path, dst),
            )
            return (
                path, tier, action, True,
                f"compacted to {stats['n_files']} file(s), sidecars "
                f"restamped; previous dir kept at {backup}",
            )
        if action.startswith("stamp_"):
            from . import layout

            kind = action.split("_", 1)[1]
            sidecar = f"_pcr_{kind}.json"
            doc = _read_json(fs, spark, f"{path}/{sidecar}")
            cols = _sidecar_cols(doc)
            if not cols:
                return (
                    path, tier, action, False,
                    f"{sidecar} records no stamped columns — rebuild it "
                    "with an explicit column list",
                )
            fn = getattr(layout, f"stamp_{kind}")
            n = fn(spark, path, cols, mode="append")
            return (
                path, tier, action, True,
                f"append-stamped {kind} for {len(cols)} col(s) "
                f"({n} file(s) now covered)",
            )
        if action == "prune_stream_versions":
            committed = sorted(
                int(st.getPath().getName()[2:])
                for st in _list_names(spark, fs, path)
                if st.getPath().getName().startswith("v=")
                and _exists(spark, fs, f"{path}/{st.getPath().getName()}/_COMMIT")
            )
            drop = committed[:-max_versions] if max_versions > 0 else []
            for v in drop:
                _, jp = _fs_of(spark, f"{path}/v={v}")
                fs.delete(jp, True)
            return (
                path, tier, action, True,
                f"pruned {len(drop)} committed version(s), kept "
                f"{len(committed) - len(drop)}",
            )
        return (path, tier, action, False, "no executor for this action")
    except Exception as e:  # surface, don't abort the other paths' actions
        return (path, tier, action, False, f"FAILED: {e}")
