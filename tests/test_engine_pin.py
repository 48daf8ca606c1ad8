"""Unit tests for `refuse_legacy_checkpoint` — the check every engine
starter (the manager's deploy paths, `cli.py cmd_process`) runs
before `.start()`.  A checkpoint an older release wrote with the
applyInPandasWithState engine records the HDFS-backed state-store
provider in its offsets; resuming it on transformWithStateInPandas
would only fail inside the started query
(UNSUPPORTED_FEATURE.STATE_STORE_MULTIPLE_COLUMN_FAMILIES).  Also the
engine manager's boot refusal of an engines root that still holds the
shared all-specs checkpoint of an older release."""
from __future__ import annotations

import json
import re
from pathlib import Path

import pytest

from old_original_java_little_horse_spark.streaming.engine import (
    refuse_legacy_checkpoint,
)

_HDFS_OFFSETS = (
    'v1\n{"batchWatermarkMs":0,"conf":{'
    '"spark.sql.streaming.stateStore.providerClass":'
    '"org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"}}'
    "\n{}\n")
_ROCKSDB_OFFSETS = _HDFS_OFFSETS.replace("HDFSBacked", "RocksDB")


def _mk_offsets(ckpt: Path, txt: str = _HDFS_OFFSETS):
    (ckpt / "offsets").mkdir(parents=True)
    (ckpt / "offsets" / "0").write_text(txt)


def _refused(ckpt: Path) -> bool:
    try:
        refuse_legacy_checkpoint(str(ckpt))
    except RuntimeError as e:
        assert str(ckpt) in str(e)  # the error names the directory
        return True
    return False


def test_fresh_checkpoint_takes_default_and_stamps_marker(tmp_path):
    """A fresh checkpoint starts on the one engine there is.  Nothing
    is stamped beside it any more: the check only reads, so it neither
    creates the directory nor writes an `engine.json` marker."""
    ckpt = tmp_path / "ckpt"
    assert not _refused(ckpt)
    assert not ckpt.exists()
    ckpt.mkdir()
    assert not _refused(ckpt)
    assert list(ckpt.iterdir()) == []


def test_markerless_committed_checkpoint_pins_pandas_state(tmp_path):
    """A committed checkpoint without a marker whose offsets record the
    HDFS-backed provider was written by the applyInPandasWithState
    engine.  That engine is gone, so the checkpoint is no longer pinned
    to it but refused: the error names the provider it found, and no
    marker is written."""
    ckpt = tmp_path / "ckpt"
    _mk_offsets(ckpt)
    with pytest.raises(RuntimeError, match="HDFSBackedStateStoreProvider"):
        refuse_legacy_checkpoint(str(ckpt))
    assert not (ckpt / "engine.json").exists()


def test_markerless_tws_checkpoint_detected_from_offsets(tmp_path):
    """A checkpoint whose offsets record the RocksDB provider resumes —
    whatever an older release's `engine.json` marker beside it says:
    the offsets are Spark's own record and the only one read."""
    ckpt = tmp_path / "ckpt"
    _mk_offsets(ckpt, _ROCKSDB_OFFSETS)
    (ckpt / "engine.json").write_text(json.dumps({"engine": "pandas-state"}))
    assert not _refused(ckpt)


def test_detection_tristate(tmp_path):
    assert not _refused(tmp_path / "none")  # fresh: no checkpoint yet
    empty = tmp_path / "empty"
    (empty / "offsets").mkdir(parents=True)
    assert not _refused(empty)  # fresh: no committed offsets
    hdfs = tmp_path / "hdfs"
    _mk_offsets(hdfs)
    assert _refused(hdfs)
    legacy = tmp_path / "legacy"
    _mk_offsets(legacy, "{}")  # offsets without a provider record
    assert _refused(legacy)


def test_detection_reads_newest_offsets_numerically(tmp_path):
    """Offsets filenames are batch ids; lexicographic order scans '9'
    before '10'.  The check must read the genuinely newest committed
    batch first — pinned here by making only batch 12 carry the
    RocksDB record and planting a conflicting record in older
    batches."""
    ckpt = tmp_path / "ckpt"
    (ckpt / "offsets").mkdir(parents=True)
    # batches 2 and 9 say HDFS; only the newest (12) says RocksDB — a
    # provider flip can't happen in real life, which is exactly why
    # the newest-first read order is the observable contract here.
    (ckpt / "offsets" / "2").write_text(_HDFS_OFFSETS)
    (ckpt / "offsets" / "9").write_text(_HDFS_OFFSETS)
    (ckpt / "offsets" / "12").write_text(_ROCKSDB_OFFSETS)
    assert not _refused(ckpt)
    # provider-less newest batch falls through to the next-newest
    (ckpt / "offsets" / "13").write_text("v1\n{}\n{}\n")
    assert not _refused(ckpt)
    # non-numeric names don't crash the check
    (ckpt / "offsets" / "metadata-ish").write_text("v1\n{}\n{}\n")
    assert not _refused(ckpt)
    # a stray non-numeric file CARRYING a provider record must not
    # shadow the newest numeric batch — non-numeric names sort before
    # every batch id, so batch 12's RocksDB record wins.
    (ckpt / "offsets" / "zz-stray").write_text(_HDFS_OFFSETS)
    assert not _refused(ckpt)
    # ...and the converse: a newest HDFS batch is refused.
    (ckpt / "offsets" / "14").write_text(_HDFS_OFFSETS)
    assert _refused(ckpt)


def test_cmd_process_refuses_legacy_checkpoint(spark, tmp_path, monkeypatch):
    """The process verb refuses a legacy checkpoint before its query
    starts, naming the directory."""
    from old_original_java_little_horse_spark import cli

    ckpt = tmp_path / "ckpt"
    _mk_offsets(ckpt)  # applyInPandasWithState-era checkpoint
    events = tmp_path / "events"
    events.mkdir()
    spec_file = tmp_path / "spec.json"
    spec_file.write_text(json.dumps({"name": "s", "thread_specs": {}}))
    monkeypatch.setattr(cli, "_spark", lambda: spark)

    args = type("A", (), {
        "spec": str(spec_file), "events_dir": str(events),
        "snapshots_dir": str(tmp_path / "snaps"),
        "checkpoint_dir": str(ckpt), "executor": None,
    })()
    active = len(spark.streams.active)
    with pytest.raises(RuntimeError, match=re.escape(str(ckpt))):
        cli.cmd_process(args)
    assert len(spark.streams.active) == active  # nothing was started


def test_missing_protobuf_fails_at_start(spark, tmp_path, monkeypatch):
    """Without a resolvable protobuf runtime the manager and `cli
    process` fail at start, naming the override variable — not on
    the first deploy, inside Spark's Python runner."""
    from old_original_java_little_horse_spark import cli, protobuf_compat
    from old_original_java_little_horse_spark.api.engines import (
        SparkEngineManager,
    )

    monkeypatch.setattr(protobuf_compat, "ensure_protobuf", lambda: False)
    with pytest.raises(RuntimeError, match="LH_SPARK_PROTOBUF_PATH"):
        SparkEngineManager(spark, str(tmp_path / "engines"))

    spec_file = tmp_path / "spec.json"
    spec_file.write_text(json.dumps({"name": "s", "thread_specs": {}}))

    def no_spark():
        raise AssertionError("Spark started before the runtime check")

    monkeypatch.setattr(cli, "_spark", no_spark)
    args = type("A", (), {
        "spec": str(spec_file), "events_dir": str(tmp_path / "events"),
        "snapshots_dir": str(tmp_path / "snaps"),
        "checkpoint_dir": str(tmp_path / "ckpt"), "executor": None,
    })()
    with pytest.raises(RuntimeError, match="LH_SPARK_PROTOBUF_PATH"):
        cli.cmd_process(args)


def test_manager_refuses_leftover_shared_root(tmp_path):
    """An engines root where an older release's single query for all
    specs committed work under `_shared/ckpt` is refused at manager
    construction: the per-spec engines would never resume those runs,
    and each later event for one would be dropped as an event for an
    unknown run.  An empty `_shared` directory (or one without
    committed offsets) passes."""
    from old_original_java_little_horse_spark.api.engines import (
        SparkEngineManager,
    )

    root = tmp_path / "engines"
    (root / "_shared").mkdir(parents=True)
    SparkEngineManager(spark=None, base_dir=str(root))
    (root / "_shared" / "ckpt" / "offsets").mkdir(parents=True)
    SparkEngineManager(spark=None, base_dir=str(root))

    ckpt = root / "_shared" / "ckpt"
    (ckpt / "offsets" / "0").write_text(_ROCKSDB_OFFSETS)
    with pytest.raises(RuntimeError, match=re.escape(str(ckpt))) as e:
        SparkEngineManager(spark=None, base_dir=str(root))
    assert "not resume" in str(e.value)
