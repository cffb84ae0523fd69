"""Snapshot construction + snapshot store.

Reference parity:
  - snapshot construction (R8): csv_crawler_agent.py:270-291 — headers →
    [{name, type, nullable=True, ordinal=i}] with name-heuristic types
  - previous-snapshot resolution (R11): snapshot_persistence_agent.py:174-182
    (ORDER BY timestamp DESC LIMIT 1 per component) → top-1-per-key window
  - persist (R12): snapshot_persistence_agent.py:154-273 — immutable
    append, uuid ids; the PREVIOUS_SNAPSHOT chain is resolved per call
    (plans/store.py)
  - PII / metadata-only guard (R10): csv_crawler_agent.py:113-127 — the
    snapshot store must never contain raw data rows

Spark-first: the snapshot store is an append-only parquet/iceberg table
partitioned by (entity, epoch); the Neo4j version chain becomes a
most-recent-other-snapshot lookup by timestamp. Store tables are tiny
(metadata only) relative to the 10^12-doc input — all heavy lifting
stays in the profile pass.
"""

from __future__ import annotations

import uuid
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.inference import infer_type_from_name
from ..model import FIELD_SCHEMA

# keys that must never appear in persisted snapshot metadata
# (csv_crawler_agent.py:113-127 forbidden-key scan)
FORBIDDEN_KEYS = {"sample_rows", "rows", "data", "example_values", "example", "samples"}


def new_snapshot_id() -> str:
    """Immutable snapshot identity (snapshot_persistence_agent.py:116)."""
    return str(uuid.uuid4())


def fields_from_schema(
    spark: SparkSession,
    schema: T.StructType,
    use_name_heuristic: bool = False,
) -> DataFrame:
    """StructType → fields DataFrame (name, dtype, nullable, ordinal).

    ``use_name_heuristic=True`` reproduces the reference crawler's
    metadata-only inference (R7) instead of the observed Spark type —
    needed for golden parity with examples/*/csv_crawler_agent_output.json.
    """
    rows = [
        (
            f.name,
            infer_type_from_name(f.name) if use_name_heuristic else f.dataType.simpleString(),
            True if use_name_heuristic else f.nullable,
            i,
        )
        for i, f in enumerate(schema.fields)
    ]
    return spark.createDataFrame(rows, FIELD_SCHEMA)


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


def fields_from_headers(spark: SparkSession, headers: Sequence[str]) -> DataFrame:
    """Header names → snapshot fields, exactly the crawler's projection
    (csv_crawler_agent.py:270-291): nullable=True, ordinal=i,
    name-heuristic type."""
    rows = [(h.strip(), infer_type_from_name(h.strip()), True, i) for i, h in enumerate(headers)]
    return spark.createDataFrame(rows, FIELD_SCHEMA)


def ensure_metadata_only(df: DataFrame, allowed_value_cols: Sequence[str] = ("min_val", "max_val")) -> None:
    """R10 analog: refuse to persist anything that looks like raw data.

    Our profiles contain only aggregates; the guard rejects forbidden
    column names outright (same key set as the reference's recursive
    scan) so a future refactor can't silently start persisting rows.
    """
    bad = {c for c in df.columns if c.lower() in FORBIDDEN_KEYS}
    if bad:
        raise ValueError(f"snapshot store must be metadata-only; forbidden columns: {sorted(bad)}")


def latest_snapshot_per_entity(snapshots: DataFrame) -> DataFrame:
    """R11: most recent snapshot per entity — top-1 window.

    Physical note: snapshots is a small metadata table; the window
    shuffle is negligible. At extreme entity counts this stays a single
    hash-partitioned exchange on entity.
    """
    w = Window.partitionBy("entity").orderBy(F.col("timestamp").desc())
    return (
        snapshots.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
