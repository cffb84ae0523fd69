"""Checkpoint manifest with partition-granular resume (north_rule).

The reference persists immutable snapshots with a version chain
(snapshot_persistence_agent.py:154-273); the north_rule generalizes
that lineage to run checkpoints. Each run has a commit log of small
JSON records (FIXTURES.md F5):

    <out_dir>/manifest/run_id=<run_id>/<commit>.json

One record per batch commit lists that batch's partitions with status,
timing, metrics and lineage. A batch's record is written only AFTER its
verdict/violation writes complete, so the record is the commit point:
an interrupted run leaves no record for the batch, and resume
recomputes exactly the missing partitions. The run's first record also
holds its input fingerprint and partition universe (see resume_universe).

Records are read and written on the driver (plans/records.py): resume
is a set difference of the partition universe against the committed
partitions — no Spark job and no scan of the data table.
"""

from __future__ import annotations

import time
from datetime import datetime, timezone
from typing import Any
from urllib.parse import quote

from pyspark.sql import DataFrame, SparkSession

from . import records


def run_path(out_dir: str, run_id: str) -> str:
    return f"{out_dir.rstrip('/')}/manifest/run_id={quote(run_id, safe='')}"


def read_commits(spark: SparkSession, out_dir: str, run_id: str) -> list[dict[str, Any]]:
    """The run's commit records, oldest first."""
    return records.read_records(spark, run_path(out_dir, run_id))


def resume_universe(
    spark: SparkSession, out_dir: str, run_id: str, fingerprint: str | None
) -> list[int] | None:
    """The partition universe the run recorded with its input
    fingerprint, or None when it recorded none (no commit yet, or an
    input without files, which rescans on every call).

    Raises when the recorded fingerprint differs from ``fingerprint``:
    the input was rewritten since the run started, and resuming would
    mix verdicts over two inputs under one run_id.
    """
    recorded = next((c["input"] for c in read_commits(spark, out_dir, run_id) if "input" in c), None)
    if recorded is None:
        return None
    if recorded["fingerprint"] != fingerprint:
        raise RuntimeError(
            f"run_id {run_id!r} cannot resume: its input changed since the run "
            f"started (fingerprint {recorded['fingerprint']} recorded, "
            f"{fingerprint} now); start a new run_id for the new input"
        )
    return recorded["universe"]


def pending_partitions(
    spark: SparkSession, universe: DataFrame | list[int], out_dir: str, run_id: str
) -> list[int]:
    """Partition ids still to validate: the universe minus the
    partitions the run committed.

    ``universe``: partition ids, or a DataFrame with a ``partition_id``
    column (one collect of its distinct ids).
    """
    if isinstance(universe, DataFrame):
        universe = [r.partition_id for r in universe.select("partition_id").distinct().collect()]
    done = {
        p["partition_id"]
        for c in read_commits(spark, out_dir, run_id)
        for p in c["partitions"]
        if p["status"] == "done"
    }
    return sorted(set(universe) - done)


def _iso(ts: float) -> str:
    return datetime.fromtimestamp(ts, tz=timezone.utc).isoformat(timespec="microseconds")


def commit_partitions(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    partition_stats: list[dict],
    run_input: dict[str, Any] | None = None,
) -> None:
    """Write one commit record — the atomic commit point for a batch.

    partition_stats: [{partition_id, docs_validated, started_at (epoch s),
    metrics (dict), lineage (dict)}]
    run_input: {fingerprint, universe}, stored on the run's first
    commit (see resume_universe).
    """
    now = time.time()
    record: dict[str, Any] = {
        "run_id": run_id,
        "committed_at": _iso(now),
        "partitions": [
            {
                "run_id": run_id,
                "partition_id": int(p["partition_id"]),
                "status": "done",
                "started_at": _iso(p.get("started_at", now)),
                "finished_at": _iso(now),
                "docs_validated": int(p.get("docs_validated", 0)),
                "metrics": p.get("metrics", {}),
                "lineage": p.get("lineage", {}),
            }
            for p in partition_stats
        ],
    }
    if run_input is not None:
        record["input"] = run_input
    records.write_record(spark, run_path(out_dir, run_id), records.unique_name(), record)
