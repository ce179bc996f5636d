"""Create-exclusive manifest commit (VERDICT r9 #7): exactly one of two
racing writers lands a version, EVEN on a filesystem whose rename silently
overwrites (the S3A-without-conditional-create hazard the old
exists()+rename protocol could not close); torn-manifest reads fail loud
with one-file remediation."""

from __future__ import annotations

import json
import os

import pytest

from postgres_cdc_reconciliation_spark.operators import manifest_target as mt
from postgres_cdc_reconciliation_spark.operators.manifest_target import (
    MANIFEST_DIR,
    commit_delta,
    read_manifest,
    read_snapshot,
)


def _seed(spark, tmp_path):
    """One committed version (v0) with 2 buckets of real rows."""
    target = str(tmp_path / "target")
    df = spark.createDataFrame([(i, f"x{i}") for i in range(20)], "id long, v string")
    touched = sorted(
        r[0] for r in df.select(mt.bucket_expr(["id"], 8).alias("b")).distinct().collect()
    )
    assert commit_delta(df, target, ["id"], touched, 8) == 0
    return target, df, touched


def _doc(df, touched, label):
    """A v1 manifest body carrying every stamp a commit writes."""
    return json.dumps(
        {"version": 1, "n_buckets": 8, "key_cols": ["id"],
         "buckets": {str(b): label for b in touched},
         "schema": json.loads(df.schema.json()),
         "operation": "delta", "touched": touched, "committed_at": 0.0}
    )


class _OverwritingRenameFS:
    """Python proxy over the Hadoop FileSystem that simulates an object
    store whose rename silently replaces an existing destination (plain
    S3A semantics). Everything else forwards to the real local FS."""

    def __init__(self, fs):
        self._fs = fs

    def rename(self, src, dst):
        if self._fs.exists(dst):
            self._fs.delete(dst, False)
        return self._fs.rename(src, dst)

    def __getattr__(self, name):
        return getattr(self._fs, name)


class _NoExclusiveCreateFS(_OverwritingRenameFS):
    """Additionally refuses create-exclusive (a store that cannot express
    overwrite=false) so the commit falls back to tmp+rename."""

    def create(self, path, overwrite=True):
        if not overwrite:
            raise RuntimeError("create(overwrite=false) not supported here")
        return self._fs.create(path, overwrite)


def _patched_fs(monkeypatch, wrapper_cls):
    real = mt._fs

    def fake(spark, path):
        fs, jpath = real(spark, path)
        return wrapper_cls(fs), jpath

    monkeypatch.setattr(mt, "_fs", fake)


def test_racing_writers_one_wins_on_overwriting_rename_fs(
    spark, tmp_path, monkeypatch
):
    """Two writers race the same version on an overwriting-rename FS: the
    first create-exclusive lands, the second raises the lost-race IOError,
    and the winner's manifest bytes are untouched."""
    target, df, touched = _seed(spark, tmp_path)
    _patched_fs(monkeypatch, _OverwritingRenameFS)

    doc_a = _doc(df, touched, "1-winner")
    doc_b = _doc(df, touched, "1-loser")
    mt._commit_manifest_doc(spark, target, 1, "1-winner", doc_a)
    with pytest.raises(IOError, match="lost the race"):
        mt._commit_manifest_doc(spark, target, 1, "1-loser", doc_b)
    with open(f"{target}/{MANIFEST_DIR}/v1.json") as f:
        assert f.read() == doc_a, "loser must not touch the winner's bytes"


def test_full_commit_path_still_races_correctly(spark, tmp_path, monkeypatch):
    """End-to-end commit_delta race under overwriting rename: writer B read
    the v0 snapshot, writer A commits v1 first, B's commit of the same
    version must fail loud and leave A's snapshot intact."""
    target, df, touched = _seed(spark, tmp_path)
    _patched_fs(monkeypatch, _OverwritingRenameFS)

    a = df.withColumn("v", df.v.substr(1, 1))  # some new content
    b = df
    assert commit_delta(a, target, ["id"], touched, 8, base_version=0) == 1
    with pytest.raises(IOError):
        # B also merged against v0: base_version detects the stale read OR
        # the create-exclusive point rejects the duplicate version; either
        # way B cannot silently double-commit
        commit_delta(b, target, ["id"], touched, 8, base_version=0)
    v, _ = read_manifest(spark, target)
    assert v == 1
    rows = {r["v"] for r in read_snapshot(spark, target).collect()}
    assert rows == {"x"}, "winner's content is live"


def test_fallback_rename_path_when_exclusive_create_unsupported(
    spark, tmp_path, monkeypatch
):
    """A store without create-exclusive falls back to tmp+rename-if-absent
    and still commits; a second writer on the same version loses via the
    pre-rename existence check."""
    target, df, touched = _seed(spark, tmp_path)
    _patched_fs(monkeypatch, _NoExclusiveCreateFS)

    doc = _doc(df, touched, "1-fb")
    mt._commit_manifest_doc(spark, target, 1, "1-fb", doc)
    assert os.path.exists(f"{target}/{MANIFEST_DIR}/v1.json")
    with pytest.raises(IOError, match="lost the race"):
        mt._commit_manifest_doc(spark, target, 1, "1-fb2", doc)
    v, mapping = read_manifest(spark, target)
    assert v == 1 and set(mapping.values()) == {"1-fb"}


def test_torn_manifest_fails_loud_with_remediation(spark, tmp_path):
    """A writer that died between create and close leaves a torn latest
    manifest: readers retry (absorbing the live-writer window) then raise
    a loud error naming the file; deleting it restores the previous
    snapshot."""
    target, df, touched = _seed(spark, tmp_path)
    torn = f"{target}/{MANIFEST_DIR}/v1.json"
    with open(torn, "w") as f:
        f.write('{"version": 1, "buckets"')  # truncated mid-write
    with pytest.raises(IOError, match="unparseable manifest"):
        read_manifest(spark, target)
    os.remove(torn)  # the documented remediation
    v, _ = read_manifest(spark, target)
    assert v == 0
    assert read_snapshot(spark, target).count() == 20


def test_is_already_exists_matches_jvm_class_not_wording():
    """ADVICE r13 #2: lost-race detection must key off the JVM exception
    CLASS (FileAlreadyExistsException and subclasses), not the message
    wording — an FS implementation with different wording must still be
    recognized, and an unrelated exception must not be."""
    from postgres_cdc_reconciliation_spark.operators.manifest_target import (
        _is_already_exists,
    )

    class _JClass:
        def __init__(self, name, parent=None):
            self._name, self._parent = name, parent

        def getName(self):
            return self._name

        def getSuperclass(self):
            return self._parent

    class _JExc(Exception):
        def __init__(self, jcls, msg):
            super().__init__(msg)
            self._jcls = jcls

        @property
        def java_exception(self):
            outer = self

            class _JE:
                def getClass(self):
                    return outer._jcls

            return _JE()

    ioe = _JClass("java.io.IOException", _JClass("java.lang.Exception"))
    hadoop_faee = _JClass(
        "org.apache.hadoop.fs.FileAlreadyExistsException", ioe
    )
    vendor_sub = _JClass("com.vendor.fs.BucketObjectExists", hadoop_faee)
    nio_faee = _JClass("java.nio.file.FileAlreadyExistsException", ioe)

    # class match wins regardless of wording
    assert _is_already_exists(_JExc(hadoop_faee, "op failed: EEXIST"))
    assert _is_already_exists(_JExc(vendor_sub, "412 precondition failed"))
    assert _is_already_exists(_JExc(nio_faee, "some other wording"))
    # unrelated class + unrelated wording: NOT a lost race
    assert not _is_already_exists(_JExc(ioe, "connection reset"))
    # wording fallback still works for plain exceptions (RawLocal path)
    assert _is_already_exists(IOError("destination already exists"))
    assert not _is_already_exists(IOError("disk full"))
