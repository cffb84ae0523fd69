"""Snapshot store: one immutable JSON record per snapshot under
``<out_dir>/store/`` (reference: snapshot_persistence_agent.py:154-273,
infra/neo4j/init_schema.cypher:16-32).

Layout (FIXTURES.md F5):
    <store>/<snapshot_id>.json   snapshot_id, entity, epoch, timestamp,
                                 created_by, source_path,
                                 previous_snapshot_id and the
                                 snapshot's FieldMeta list
The identity, its PREVIOUS_SNAPSHOT edge and the fields land in one
write, so a snapshot is either wholly discoverable or absent. The edge
is picked once, when the snapshot is persisted (the most recent other
snapshot of the entity) and read back from the record after that, so a
snapshot persisted between two calls of one run does not move it.
Records are read and written through plans/records.py — no Spark job.
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import Any, Sequence

from pyspark.sql import SparkSession

from ..model import FIELD_SCHEMA
from ..operators.snapshot import ensure_metadata_only, new_snapshot_id
from . import records


def _name(snapshot_id: str) -> str:
    return f"{snapshot_id}{records.SUFFIX}"


def persist_snapshot(
    spark: SparkSession,
    store_dir: str,
    entity: str,
    epoch: int,
    fields: Sequence[dict[str, Any]],
    source_path: str | None = None,
    snapshot_id: str | None = None,
    previous_snapshot_id: str | None = None,
) -> str:
    """Write an immutable snapshot record; returns its uuid
    (≙ snapshot_persistence_agent.py:116 identity semantics).
    ``fields``: FieldMeta dicts (name, dtype, nullable, ordinal) in
    list order. ``snapshot_id`` and ``previous_snapshot_id`` let a
    caller that resolved the chain up front (see resolve_snapshot_chain)
    persist under that id and edge; default mints a fresh uuid."""
    snapshot_id = snapshot_id or new_snapshot_id()
    ensure_metadata_only({k for f in fields for k in f})
    record = {
        "snapshot_id": snapshot_id,
        "entity": entity,
        "epoch": int(epoch),
        # fixed-width UTC ISO 8601, so string order is time order
        "timestamp": datetime.now(timezone.utc).isoformat(timespec="microseconds"),
        "created_by": "schema_drift_detector_spark",
        "source_path": source_path,
        "previous_snapshot_id": previous_snapshot_id,
        "fields": [{k: f.get(k) for k in FIELD_SCHEMA.fieldNames()} for f in fields],
    }
    records.write_record(spark, store_dir, _name(snapshot_id), record)
    return snapshot_id


def read_snapshots(spark: SparkSession, store_dir: str) -> list[dict[str, Any]]:
    """Every snapshot record of the store; [] before the first persist."""
    return records.read_records(spark, store_dir)


def _latest_other(snaps: list[dict[str, Any]], entity: str, snapshot_id: str) -> str | None:
    """R11: the entity's most recent snapshot other than ``snapshot_id``
    (timestamp desc, snapshot_id as a deterministic tie-break)."""
    others = [s for s in snaps if s["entity"] == entity and s["snapshot_id"] != snapshot_id]
    if not others:
        return None
    return max(others, key=lambda s: (s["timestamp"], s["snapshot_id"]))["snapshot_id"]


def resolve_snapshot_chain(
    spark: SparkSession,
    store_dir: str,
    entity: str,
    epoch: int,
    run_id: str,
) -> tuple[str, str | None, bool]:
    """Resolve (snapshot_id, previous_snapshot_id, needs_persist) from
    one read of the store.

    A run reuses the snapshot it already persisted (source_path ==
    run_id) and the previous id recorded in it, so a resumed run keeps
    its snapshot id and its chain edge even when other snapshots of the
    entity were persisted in between. A resume whose entity or epoch
    differs from the recorded one raises ValueError: one run_id is one
    snapshot. A record written before the edge was stored re-derives it
    as the entity's latest other snapshot. When ``needs_persist`` is
    True the caller owns writing the snapshot via persist_snapshot(...,
    snapshot_id=..., previous_snapshot_id=...) — and must do so before
    any snapshot_id-keyed output becomes visible (write-ahead).
    """
    snaps = read_snapshots(spark, store_dir)
    existing = next((s for s in snaps if s["source_path"] == run_id), None)
    if existing and (existing["entity"], existing["epoch"]) != (entity, int(epoch)):
        raise ValueError(
            f"run {run_id} was started with entity={existing['entity']!r}, "
            f"epoch={existing['epoch']}; this call asks for entity={entity!r}, "
            f"epoch={int(epoch)}: start a new run_id"
        )
    snapshot_id = existing["snapshot_id"] if existing else new_snapshot_id()
    previous = _latest_other(snaps, entity, snapshot_id)
    if existing:
        previous = existing.get("previous_snapshot_id", previous)
    return snapshot_id, previous, existing is None


def fields_of(spark: SparkSession, store_dir: str, snapshot_id: str) -> list[dict[str, Any]]:
    """The snapshot's FieldMeta dicts, in the list order they were
    persisted in."""
    return records.read_record(spark, store_dir, _name(snapshot_id))["fields"]
