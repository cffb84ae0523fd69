"""Canonical schemas for the engine's data model (FIXTURES.md §F1/F5).

Maps the reference's metadata objects to Spark StructTypes:
  - spans               one element of the documents table's span array
  - snapshot fields     ≙ reference FieldMeta {name,type,nullable,ordinal}
                        (csv_crawler_agent.py:277, detector_agent.py:188-194)
  - verdicts/violations ≙ drift report + per-row violation evidence

The profiles and span_profiles tables take their schema from
operators/profile.py (FIXTURES.md F5). The snapshot store and the
checkpoint manifest are JSON records, not tables (plans/store.py,
plans/manifest.py).
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

# One row per column of a snapshotted schema — the reference's FieldMeta.
FIELD_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("dtype", T.StringType(), True),
        T.StructField("nullable", T.BooleanType(), True),
        T.StructField("ordinal", T.IntegerType(), True),
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
