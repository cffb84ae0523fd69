"""Small JSON records (plans/records.py) and the crash point between a
record's temp file and its rename. These tests run no Spark job: they
use the Hadoop FileSystem of the running JVM and the local file system
under ``tmp_path``."""

from __future__ import annotations

import json
import uuid

import pytest

from schema_drift_detector_spark.plans import manifest, records


def test_temp_record_before_rename_is_not_a_commit(spark, tmp_path):
    """A crash after a commit record's temp file is written, before its
    rename, leaves a hidden ``.<name>.<hex>.tmp`` file with the whole
    record in it. That batch is not committed: read_commits skips the
    file, and pending_partitions still lists the batch's partitions."""
    out_dir = str(tmp_path)
    manifest.commit_partitions(spark, out_dir, "r1", [{"partition_id": p} for p in (0, 1)])
    run_dir = tmp_path / "manifest" / "run_id=r1"
    unpublished = {"run_id": "r1", "partitions": [
        {"partition_id": p, "status": "done"} for p in (2, 3)
    ]}
    tmp = run_dir / f".{records.unique_name()}.{uuid.uuid4().hex}.tmp"
    tmp.write_text(json.dumps(unpublished))

    commits = manifest.read_commits(spark, out_dir, "r1")
    assert [[p["partition_id"] for p in c["partitions"]] for c in commits] == [[0, 1]]
    assert manifest.pending_partitions(spark, [0, 1, 2, 3], out_dir, "r1") == [2, 3]


def test_visible_non_record_entry_raises(spark, tmp_path):
    """A visible entry that is not a ``.json`` record means a foreign
    layout in the directory: read_records fails rather than skip it."""
    records.write_record(spark, str(tmp_path), records.unique_name(), {"a": 1})
    (tmp_path / "part-00000.parquet").write_bytes(b"PAR1")
    with pytest.raises(RuntimeError, match="part-00000.parquet"):
        records.read_records(spark, str(tmp_path))


def test_records_read_back_whole_in_write_order(spark, tmp_path):
    """Records written under unique_name read back whole, oldest first,
    and leave no temp file behind."""
    directory = str(tmp_path / "log")
    written = [{"seq": i, "payload": {"ids": list(range(i)), "note": "é" * i}} for i in range(5)]
    for rec in written:
        records.write_record(spark, directory, records.unique_name(), rec)
    assert records.read_records(spark, directory) == written
    assert len(list((tmp_path / "log").glob("*.json"))) == 5
    assert list((tmp_path / "log").glob(".*")) == []


def test_second_write_of_a_name_raises_and_keeps_the_first(spark, tmp_path):
    """A record is written once: publishing a second record under an
    existing name raises FileExistsError (an OSError, as HDFS's refused
    rename is), the first record reads back unchanged, and the second
    write leaves no temp file."""
    directory = str(tmp_path / "log")
    name = records.unique_name()
    records.write_record(spark, directory, name, {"v": 1})
    with pytest.raises(FileExistsError):
        records.write_record(spark, directory, name, {"v": 2})
    assert records.read_record(spark, directory, name) == {"v": 1}
    assert records.read_records(spark, directory) == [{"v": 1}]
    assert list((tmp_path / "log").glob(".*")) == []
