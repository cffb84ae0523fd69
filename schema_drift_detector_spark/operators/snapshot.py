"""Snapshot construction + snapshot store.

Reference parity:
  - snapshot construction (R8): csv_crawler_agent.py:270-291 — headers →
    [{name, type, nullable=True, ordinal=i}] with name-heuristic types
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
from typing import Any, Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..functions.inference import infer_type_from_name
from ..model import FIELD_SCHEMA

# keys that must never appear in persisted snapshot metadata
# (csv_crawler_agent.py:113-127 forbidden-key scan)
FORBIDDEN_KEYS = {"sample_rows", "rows", "data", "example_values", "example", "samples"}


def new_snapshot_id() -> str:
    """Immutable snapshot identity (snapshot_persistence_agent.py:116)."""
    return str(uuid.uuid4())


def field_list(schema: T.StructType, use_name_heuristic: bool = False) -> list[dict[str, Any]]:
    """StructType → FieldMeta dicts (name, dtype, nullable, ordinal), in
    schema order.

    ``use_name_heuristic=True`` reproduces the reference crawler's
    metadata-only inference (R7) instead of the observed Spark type —
    needed for golden parity with examples/*/csv_crawler_agent_output.json.
    """
    return [
        {
            "name": f.name,
            "dtype": infer_type_from_name(f.name) if use_name_heuristic else f.dataType.simpleString(),
            "nullable": True if use_name_heuristic else f.nullable,
            "ordinal": i,
        }
        for i, f in enumerate(schema.fields)
    ]


def fields_from_schema(
    spark: SparkSession,
    schema: T.StructType,
    use_name_heuristic: bool = False,
) -> DataFrame:
    """StructType → fields DataFrame (name, dtype, nullable, ordinal);
    the rows of field_list."""
    return spark.createDataFrame(field_list(schema, use_name_heuristic), FIELD_SCHEMA)


DEFAULT_HEADER_MAX_BYTES = 32 * 1024  # csv_crawler_agent.py:8 DEFAULT_MAX_BYTES


def read_csv_header_bounded(
    spark: SparkSession,
    path: str,
    max_bytes: int = DEFAULT_HEADER_MAX_BYTES,
) -> list[str]:
    """Bounded header scan (R4 parity, csv_crawler_agent.py:129-141):
    read at most ``max_bytes`` from the file and parse the first
    non-empty CSV row. This is a metadata-only probe — the 10^12-doc
    table is never touched; only the first 32 KiB of one file is.

    Spark-first generalization of the reference's per-scheme backends
    (R5/R6, local/s3/gs/http branches): the Hadoop FileSystem API
    dispatches on the path scheme, so the same code serves file://,
    s3a://, gs://, abfs://... wherever the cluster has connectors.
    """
    import csv
    import io

    local = path.split("://", 1)[0] if "://" in path else None
    if local is None or local == "file":
        p = path.split("://", 1)[1] if local else path
        with open(p, "rb") as fh:
            raw = fh.read(max_bytes)
    else:
        # remote scheme → Hadoop FS; one bounded JVM→Python byte transfer
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        stream = fs.open(jpath)
        try:
            bounded = jvm.org.apache.commons.io.input.BoundedInputStream(stream, max_bytes)
            raw = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(bounded))
        finally:
            stream.close()
    # first non-empty CSV row, cells stripped (csv_crawler_agent.py:41-49)
    text = raw.decode("utf-8", errors="replace")
    for row in csv.reader(io.StringIO(text)):
        if row:
            return [c.strip() for c in row]
    return []


def header_fields(headers: Sequence[str]) -> list[dict[str, Any]]:
    """Header names → FieldMeta dicts, exactly the crawler's projection
    (csv_crawler_agent.py:270-291): nullable=True, ordinal=i,
    name-heuristic type."""
    return [
        {"name": h.strip(), "dtype": infer_type_from_name(h.strip()), "nullable": True, "ordinal": i}
        for i, h in enumerate(headers)
    ]


def fields_from_headers(spark: SparkSession, headers: Sequence[str]) -> DataFrame:
    """Header names → snapshot fields DataFrame; the rows of header_fields."""
    return spark.createDataFrame(header_fields(headers), FIELD_SCHEMA)


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
