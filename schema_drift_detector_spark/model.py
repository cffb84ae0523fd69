"""Canonical schemas for the engine's data model (FIXTURES.md §F1/F5).

Maps the reference's metadata objects to Spark StructTypes:
  - documents           input table per BASELINE.json input_hint
  - asset_catalog       referential-integrity dimension
  - snapshot fields     ≙ reference FieldMeta {name,type,nullable,ordinal}
                        (csv_crawler_agent.py:277, detector_agent.py:188-194)
  - profiles            per-partition column profiles of a snapshot
  - changes             ≙ drift-report Change rows (detector_agent.py:569-588)
  - verdicts/violations ≙ drift report + per-row violation evidence

The snapshot store and the checkpoint manifest are JSON records, not
tables (plans/store.py, plans/manifest.py).
"""

from __future__ import annotations

from pyspark.sql import types as T

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), True),
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), True),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("epoch", T.IntegerType(), False),
    ]
)

ASSET_CATALOG_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("asset_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), True),
        T.StructField("size_bytes", T.LongType(), True),
    ]
)

# One row per column of a snapshotted schema — the reference's FieldMeta.
FIELD_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("dtype", T.StringType(), True),
        T.StructField("nullable", T.BooleanType(), True),
        T.StructField("ordinal", T.IntegerType(), True),
    ]
)

PROFILE_SCHEMA = T.StructType(
    [
        T.StructField("snapshot_id", T.StringType(), False),
        T.StructField("entity", T.StringType(), True),
        T.StructField("epoch", T.IntegerType(), True),
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("column", T.StringType(), False),
        T.StructField("ordinal", T.IntegerType(), True),
        T.StructField("dtype", T.StringType(), True),
        T.StructField("nullable", T.BooleanType(), True),
        T.StructField("n_rows", T.LongType(), True),
        T.StructField("null_ratio", T.DoubleType(), True),
        T.StructField("min_val", T.StringType(), True),
        T.StructField("max_val", T.StringType(), True),
        T.StructField("approx_distinct", T.LongType(), True),
        T.StructField("hll_sketch", T.BinaryType(), True),
        T.StructField("histogram", T.MapType(T.StringType(), T.LongType()), True),
    ]
)

VERDICT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("epoch", T.IntegerType(), True),
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("constraint", T.StringType(), False),
        T.StructField("passed", T.BooleanType(), False),
        T.StructField("severity", T.StringType(), True),
        T.StructField("summary", T.StringType(), True),
        T.StructField("metrics", T.StringType(), True),  # JSON
    ]
)

VIOLATION_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("epoch", T.IntegerType(), True),
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("constraint", T.StringType(), False),
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("kind", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("span_order", T.IntegerType(), True),
    ]
)

SEVERITY_RANK = {"info": 0, "low": 1, "medium": 2, "high": 3, "warning": 4, "critical": 5}
