"""Snapshot construction + snapshot store.

Reference parity:
  - snapshot construction (R8): csv_crawler_agent.py:270-291 projects
    each column to {name, type, nullable, ordinal}; the engine reads the
    typed schema of the table it validates, so the type and nullability
    are the observed ones (the reference guesses them from header names)
  - previous-snapshot resolution (R11) and persist (R12):
    snapshot_persistence_agent.py:154-273 — immutable records with uuid
    ids; the PREVIOUS_SNAPSHOT chain is a most-recent-other-snapshot
    lookup by timestamp, resolved per call on the driver (plans/store.py)
  - PII / metadata-only guard (R10): csv_crawler_agent.py:113-127 — the
    snapshot store must never contain raw data rows

A snapshot is a schema's field list — tens of entries next to the
10^12-doc input — so it is built and stored on the driver; all heavy
lifting stays in the profile pass.
"""

from __future__ import annotations

import uuid
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..model import FIELD_SCHEMA

# keys that must never appear in persisted snapshot metadata
# (csv_crawler_agent.py:113-127 forbidden-key scan)
FORBIDDEN_KEYS = {"sample_rows", "rows", "data", "example_values", "example", "samples"}


def new_snapshot_id() -> str:
    """Immutable snapshot identity (snapshot_persistence_agent.py:116)."""
    return str(uuid.uuid4())


def field_list(schema: T.StructType) -> list[dict[str, Any]]:
    """StructType → FieldMeta dicts (name, dtype, nullable, ordinal), in
    schema order."""
    return [
        {"name": f.name, "dtype": f.dataType.simpleString(), "nullable": f.nullable, "ordinal": i}
        for i, f in enumerate(schema.fields)
    ]


def fields_from_schema(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """StructType → fields DataFrame (name, dtype, nullable, ordinal);
    the rows of field_list."""
    return spark.createDataFrame(field_list(schema), FIELD_SCHEMA)


def ensure_metadata_only(columns: Iterable[str]) -> None:
    """R10 analog: refuse to persist anything that looks like raw data.

    Snapshots hold only field metadata; the guard rejects forbidden
    column or key names outright (same key set as the reference's
    recursive scan) so a future refactor can't silently start
    persisting rows.
    """
    bad = {c for c in columns if c.lower() in FORBIDDEN_KEYS}
    if bad:
        raise ValueError(f"snapshot store must be metadata-only; forbidden columns: {sorted(bad)}")
