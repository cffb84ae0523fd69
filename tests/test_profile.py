"""Profiler tests: one-pass column profiles, sketch merge algebra,
span-level metrics, fixed-bin histograms."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from schema_drift_detector_spark.operators.profile import (
    numeric_histogram,
    profile_columns,
    profile_spans,
)
from schema_drift_detector_spark.sources.synth import SynthConfig, synth_documents

CFG = SynthConfig(n_docs=1_600, n_partitions=8, n_assets=4_000)


@pytest.fixture(scope="module")
def docs(spark):
    return synth_documents(spark, CFG, epoch=0).cache()


def test_profile_columns_shape_and_values(spark, docs):
    prof = profile_columns(docs, snapshot_id="s0", entity="documents")
    rows = prof.collect()
    # 8 partitions × 3 atomic columns (doc_id, quality; epoch/partition_id are group cols... doc_id, quality only? spans excluded)
    by = {(r.partition_id, r.column): r for r in rows}
    cols = {r.column for r in rows}
    assert cols == {"doc_id", "quality"}
    assert len(rows) == 8 * 2
    r = by[(0, "doc_id")]
    assert r.n_rows == CFG.n_docs // 8
    assert r.null_ratio == 0.0
    assert r.min_val.startswith("doc-")
    assert r.snapshot_id == "s0" and r.entity == "documents"
    # approx distinct close to exact
    exact = docs.filter("partition_id = 0").select("doc_id").distinct().count()
    assert abs(r.approx_distinct - exact) <= max(2, exact * 0.05)


def test_profile_spans(spark, docs):
    sp = profile_spans(docs).collect()
    assert len(sp) == 8
    r = {x.partition_id: x for x in sp}[0]
    assert r.n_spans > 0
    assert set(r.kind_histogram) <= {"text", "image", "audio", "table"}
    assert sum(r.kind_histogram.values()) == r.n_spans
    assert r.offset_min == 0
    assert 0.0 <= r.text_null_ratio < 0.3


def test_numeric_histogram_fixed_bins(spark, docs):
    exploded = docs.select("partition_id", F.explode("spans.offset").alias("off"))
    hist = numeric_histogram(exploded, "off", lo=0.0, hi=40.0, nbins=8, group_cols=["partition_id"])
    rows = hist.collect()
    assert all(0 <= r.bin < 8 for r in rows)
    total = sum(r.bin_count for r in rows)
    assert total == docs.select(F.explode("spans.offset")).count()


def test_profile_is_single_shuffle(spark, docs):
    plan = profile_columns(docs)._jdf.queryExecution().executedPlan().toString()
    # one wide hash-aggregate pair → exactly one exchange
    assert plan.count("Exchange") == 1


def test_null_span_kind_does_not_crash_profiles(spark):
    """map_from_entries rejects null keys — null kinds must coalesce to
    'unknown' instead of failing the stage on one malformed span."""
    import pyspark.sql.functions as F

    from schema_drift_detector_spark.operators.profile import profile_spans
    from schema_drift_detector_spark.plans.run import baseline_kind_counts

    docs = spark.createDataFrame(
        [(1, [("text", "hi", None, 0), (None, None, None, 5)])],
        "partition_id int, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    prof = profile_spans(docs).collect()[0]
    assert prof.n_spans == 2
    assert prof.kind_histogram == {"text": 1, "unknown": 1}
    kinds = {r.category: r.cnt for r in baseline_kind_counts(docs).collect()}
    assert kinds == {"text": 1, "unknown": 1}


def test_numeric_histogram_excludes_nan_and_guards_bounds(spark):
    import math

    import pyspark.sql.functions as F
    import pytest as _pytest

    from schema_drift_detector_spark.operators.profile import numeric_histogram

    df = spark.createDataFrame(
        [(0, 1.0), (0, 2.0), (0, float("nan")), (0, None)], "partition_id int, v double"
    )
    rows = numeric_histogram(df, "v", 0.0, 4.0, 4, ["partition_id"]).collect()
    assert sum(r.bin_count for r in rows) == 2  # NaN and null both excluded
    with _pytest.raises(ValueError, match="hi > lo"):
        numeric_histogram(df, "v", 4.0, 4.0, 4, ["partition_id"])


def test_profile_columns_no_atomic_columns_returns_empty(spark):
    from schema_drift_detector_spark.operators.profile import profile_columns

    docs = spark.createDataFrame(
        [(1, 0, [("text", "x", None, 0)])],
        "partition_id int, epoch int, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    out = profile_columns(docs, snapshot_id="s", entity="e")
    assert out.count() == 0
    assert "column" in out.columns and "hll_sketch" in out.columns


def test_profile_runs_one_distinct_machine_per_column(spark, docs):
    """r8: approx_distinct derives from the persisted DataSketches HLL
    (hll_sketch_estimate over the hll_sketch_agg result) — the plan must
    not also run a separate approx_count_distinct machine per column, and
    profile_spans must union the media_ref sketch exactly once."""
    from schema_drift_detector_spark.operators.profile import (
        profile_columns,
        profile_spans,
    )

    cplan = profile_columns(docs)._jdf.queryExecution().toString()
    assert "approx_count_distinct" not in cplan
    assert "hll_sketch_agg" in cplan and "hll_sketch_estimate" in cplan

    splan = profile_spans(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert splan.count("hll_union_agg") == 1
