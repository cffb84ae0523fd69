"""Constraint tests against the synthesizer's injected violations
(FIXTURES.md F1): duplicates only in partitions {2,5}, dangling refs
only in partition 3, distribution drift only in partitions {1,4}."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from schema_drift_detector_spark.operators.constraints import (
    check_distribution_drift,
    check_referential_integrity,
    check_uniqueness,
    drift_statistics,
    duplicate_keys,
)
from schema_drift_detector_spark.operators.profile import numeric_histogram
from schema_drift_detector_spark.sources.synth import (
    SynthConfig,
    synth_asset_catalog,
    synth_documents,
)

CFG = SynthConfig(n_docs=6_400, n_partitions=8, n_assets=4_000)


@pytest.fixture(scope="module")
def docs(spark):
    return synth_documents(spark, CFG, epoch=0).cache()


@pytest.fixture(scope="module")
def catalog(spark):
    return synth_asset_catalog(spark, CFG).cache()


def test_uniqueness_localized(spark, docs):
    verdicts, violations = check_uniqueness(docs, run_id="r1")
    v = {r.partition_id: r for r in verdicts.collect()}
    assert len(v) == 8
    failing = {p for p, r in v.items() if not r.passed}
    assert failing == set(CFG.dup_partitions)
    for p in failing:
        assert v[p].severity == "high"
        assert "duplicate rows" in v[p].summary
    for p in set(range(8)) - failing:
        assert v[p].severity == "info" and v[p].summary == "uniqueness ok"

    viol = violations.collect()
    assert len(viol) > 0
    assert {r.partition_id for r in viol} <= set(CFG.dup_partitions)
    assert all(r.constraint == "uniqueness" for r in viol)
    # every violating doc_id really is duplicated
    dup_ids = {r["doc_id"] for r in duplicate_keys(docs).collect()}
    assert {r.doc_id for r in viol} <= dup_ids


def test_referential_integrity_localized(spark, docs, catalog):
    verdicts, violations = check_referential_integrity(docs, catalog, run_id="r1")
    v = {r.partition_id: r for r in verdicts.collect()}
    failing = {p for p, r in v.items() if not r.passed}
    assert failing == {CFG.dangling_partition}
    viol = violations.collect()
    assert len(viol) > 0
    assert {r.partition_id for r in viol} == {CFG.dangling_partition}
    # violation rows carry span-sequence evidence per input_hint
    for r in viol[:20]:
        assert r.media_ref.startswith("asset-")
        assert int(r.media_ref.split("-")[1]) >= CFG.n_assets
        assert r.kind in {"image", "audio", "table"}
        assert r.span_order >= 0


def test_ri_plan_uses_broadcast(spark, docs, catalog):
    _, violations = check_referential_integrity(docs, catalog, run_id="r1")
    plan = violations._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_distribution_drift_localized(spark, docs):
    e2 = synth_documents(spark, CFG, epoch=2)
    base = numeric_histogram(
        docs.select("partition_id", F.explode("spans.offset").alias("off")),
        "off", 0.0, 60.0, 16, ["partition_id"],
    )
    curr = numeric_histogram(
        e2.select("partition_id", F.explode("spans.offset").alias("off")),
        "off", 0.0, 60.0, 16, ["partition_id"],
    )
    verdicts = check_distribution_drift(base, curr, run_id="r1", epoch=2)
    v = {r.partition_id: r for r in verdicts.collect()}
    failing = {p for p, r in v.items() if not r.passed}
    assert set(CFG.drift_partitions) <= failing
    # non-drifted partitions must pass (same generator, same seed)
    assert failing <= set(CFG.drift_partitions)


def test_drift_statistics_identity(spark, docs):
    base = numeric_histogram(
        docs.select("partition_id", F.explode("spans.offset").alias("off")),
        "off", 0.0, 60.0, 16, ["partition_id"],
    )
    stats = drift_statistics(base, base).collect()
    for r in stats:
        assert r.ks_stat == 0.0
        assert r.chi2_stat < 1e-9


def test_sparse_bin_does_not_fail_a_matching_partition(spark):
    """A tail bin with 2 baseline and 18 current rows, the other bins
    matching, equal totals: the two-sample chi-square of homogeneity
    gives that bin (2 − 18)² / 20 = 12.8, so the partition passes. The
    one-sample form, which takes the baseline's 2 as the expected count,
    gives it 128 and fails a partition whose KS is 0.0016. A bin empty
    on both sides adds nothing."""
    import json

    from schema_drift_detector_spark.operators.constraints import check_categorical_drift

    base = {0: 1016, **{i: 1000 for i in range(1, 10)}, 10: 2, 11: 0}
    curr = {**{i: 1000 for i in range(10)}, 10: 18, 11: 0}
    expected_chi2 = 16**2 / 2016 + 12.8

    def hist(counts):
        return spark.createDataFrame(
            [(0, b, n) for b, n in counts.items()], "partition_id int, bin int, bin_count long"
        )

    (v,) = check_distribution_drift(hist(base), hist(curr), "s", 1).collect()
    m = json.loads(v.metrics)
    assert v.passed, v.summary
    assert m["chi2_stat"] == pytest.approx(expected_chi2)
    assert (m["n_bins"], m["n_base"], m["n_curr"]) == (12, 10_018, 10_018)
    assert m["ks_stat"] == pytest.approx(16 / 10_018)

    def kinds(counts):
        return hist(counts).withColumnsRenamed({"bin": "category", "bin_count": "cnt"})

    (cv,) = check_categorical_drift(kinds(base), kinds(curr), "s", 1).collect()
    assert cv.passed, cv.summary
    assert json.loads(cv.metrics)["chi2_stat"] == pytest.approx(expected_chi2)


def test_categorical_drift_on_span_kinds(spark, docs):
    """Chi-square over the span-kind histograms: e0 vs e0 passes
    everywhere; a synthetic kind-shift fails only where injected."""
    import pyspark.sql.functions as F

    from schema_drift_detector_spark.operators.constraints import check_categorical_drift

    kinds = docs.select("partition_id", F.explode("spans.kind").alias("category")).groupBy(
        "partition_id", "category"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    v = {
        r.partition_id: r
        for r in check_categorical_drift(kinds, kinds, "r", 0).collect()
    }
    assert all(r.passed for r in v.values())
    # shift: in partitions {1,4} relabel all 'image' spans as 'audio'
    shifted = docs.select("partition_id", F.explode("spans.kind").alias("category"))
    shifted = shifted.withColumn(
        "category",
        F.when(
            F.col("partition_id").isin(1, 4) & (F.col("category") == "image"), "audio"
        ).otherwise(F.col("category")),
    ).groupBy("partition_id", "category").agg(F.count(F.lit(1)).alias("cnt"))
    v2 = {
        r.partition_id: r
        for r in check_categorical_drift(kinds, shifted, "r", 1).collect()
    }
    failing = {p for p, r in v2.items() if not r.passed}
    assert failing == {1, 4}


def test_quantile_drift_fails_closed_on_one_sided_groups(spark):
    """A partition with a baseline sketch but no current one (vanished),
    or vice versa (new), or one whose current values are all null, must
    FAIL — not silently drop out of an inner join or compare against an
    empty sketch. Null and NaN values are not counted in n."""
    import json

    from schema_drift_detector_spark.operators.constraints import check_quantile_drift
    from schema_drift_detector_spark.operators.profile import kll_profiles

    def sketches(values_by_partition):
        rows = [(p, v) for p, vs in values_by_partition.items() for v in vs]
        return kll_profiles(
            spark.createDataFrame(rows, "partition_id int, v double"), "v", ["partition_id"]
        )

    full = [float(i) for i in range(100)]
    with_missing = full + [None, float("nan")]
    base = sketches({0: with_missing, 1: full, 3: full})
    curr = sketches({0: with_missing, 2: full, 3: [None, None]})
    v = {r.partition_id: r for r in check_quantile_drift(base, curr, "q", 1).collect()}
    assert set(v) == {0, 1, 2, 3}
    assert v[0].passed is True            # identical sketches
    assert v[1].passed is False           # vanished from current
    assert v[2].passed is False           # new without baseline
    assert v[3].passed is False           # only null values in current
    assert "missing baseline or current digest" in v[1].summary
    assert v[3].summary == "missing baseline or current digest (n_base=100 n_curr=0)"
    m0 = json.loads(v[0].metrics)
    assert (m0["ks_stat"], m0["n_base"], m0["n_curr"]) == (0.0, 100, 100)


def test_categorical_drift_null_kinds_match_across_sides(spark):
    """Null span kinds count as one category ('unknown') on both sides,
    so identical data passes: a null category never matches itself in
    the full-outer join and would read as drift."""
    from schema_drift_detector_spark.operators.constraints import check_categorical_drift
    from schema_drift_detector_spark.plans.run import baseline_kind_counts

    spans = [("text", "t", None, 0), ("image", None, "m", 1), (None, None, None, 2),
             ("text", "u", None, 3), ("audio", None, "a", 4)]
    docs = spark.createDataFrame(
        [(i % 2, spans) for i in range(50)],
        "partition_id int, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    kinds = baseline_kind_counts(docs)
    v = check_categorical_drift(kinds, baseline_kind_counts(docs), "c", 0).collect()
    assert sorted(r.partition_id for r in v) == [0, 1]
    assert all(r.passed for r in v), [r.summary for r in v]


def test_ri_bloom_catalog_matches_plain_join(spark):
    """bloom_catalog=True must produce BIT-IDENTICAL verdicts and
    violation rows to the plain join (no false negatives: a bloom miss
    is an exact 'dangling'); the synth fixture injects dangling
    media_refs in partition 3. Also check the scale property: the
    residual exact join's input is a small fraction of all refs."""
    import pyspark.sql.functions as F

    from schema_drift_detector_spark.operators.constraints import check_referential_integrity
    from schema_drift_detector_spark.sources.synth import (
        SynthConfig,
        synth_asset_catalog,
        synth_documents,
    )

    cfg = SynthConfig(n_docs=2_000, n_partitions=8, n_assets=3_000)
    docs = synth_documents(spark, cfg, epoch=0)
    catalog = synth_asset_catalog(spark, cfg)

    v_plain, viol_plain = check_referential_integrity(docs, catalog, "r")
    v_bloom, viol_bloom = check_referential_integrity(
        docs, catalog, "r", bloom_catalog=True
    )
    vp = {(r.partition_id): (r.passed, r.summary) for r in v_plain.collect()}
    vb = {(r.partition_id): (r.passed, r.summary) for r in v_bloom.collect()}
    assert vp == vb and vb[3][0] is False
    p = {(r.doc_id, r.span_order, r.media_ref) for r in viol_plain.collect()}
    b = {(r.doc_id, r.span_order, r.media_ref) for r in viol_bloom.collect()}
    assert p == b and len(b) > 0

    # scale property: most refs are resolved by the bloom alone —
    # the residual join sees only maybes (present keys + ~1% fpp)
    from schema_drift_detector_spark.functions.bloom import build_bloom, might_contain_udf

    cat = catalog.select("media_ref").distinct()
    bits, m, k = build_bloom(cat, "media_ref", cat.count())
    mc = might_contain_udf(spark, bits, m, k)
    refs = docs.select(F.explode("spans.media_ref").alias("media_ref")).filter(
        F.col("media_ref").isNotNull()
    )
    stats = refs.withColumn("maybe", mc("media_ref")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("maybe").cast("int")).alias("n_maybe"),
    ).first()
    dang = refs.join(cat, "media_ref", "left_anti").count()
    # every present ref probes true; absent refs mostly probe false
    assert stats.n_maybe >= stats.n - dang
    assert stats.n_maybe - (stats.n - dang) <= max(3, 0.03 * dang + 0.02 * stats.n)

    # ADVICE r3: the assembled bitmap lives on the driver and ships as
    # one broadcast — sizes past the ceiling fail loud with guidance,
    # before any Spark job runs
    with pytest.raises(ValueError, match="GiB.*ceiling"):
        build_bloom(cat, "media_ref", expected_items=10**10, bits_per_key=10)


def test_null_keys_null_refs_and_refless_partitions(spark):
    """Hostile input the generator never makes (FIXTURES F1 semantics):
    a null doc_id is not an identifier, so each null-key row violates
    uniqueness and no null key is a duplicate; a null media_ref on a
    non-text span is dangling; and a partition with no media refs (text
    only, an empty span list, or null spans) still gets an RI verdict."""
    import json

    from pyspark.sql import types as T

    from schema_drift_detector_spark.model import SPAN_STRUCT

    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), True),
            T.StructField("spans", T.ArrayType(SPAN_STRUCT), True),
            T.StructField("partition_id", T.IntegerType(), False),
            T.StructField("epoch", T.IntegerType(), False),
        ]
    )
    text = [("text", "hello", None, 0)]
    docs = spark.createDataFrame(
        [
            ("a", text, 0, 0),
            (None, text, 0, 0),
            (None, text, 0, 0),
            (None, text, 0, 0),
            (
                "b",
                [("image", None, "asset-1", 0), ("image", None, None, 1), ("text", "t", None, 2)],
                1,
                0,
            ),
            ("c", [], 2, 0),
            ("d", None, 2, 0),
        ],
        schema,
    )
    catalog = spark.createDataFrame([("asset-1",)], "media_ref string")

    assert duplicate_keys(docs).count() == 0
    uq_v, uq_viol = check_uniqueness(docs, run_id="h")
    uq = {r.partition_id: r for r in uq_v.collect()}
    assert uq[0].passed is False and uq[1].passed and uq[2].passed
    assert json.loads(uq[0].metrics)["n_null_keys"] == 3
    assert "3 null keys" in uq[0].summary
    assert sorted((r.partition_id, r.doc_id) for r in uq_viol.collect()) == [(0, None)] * 3

    for kw in ({}, {"broadcast_catalog": False}, {"bloom_catalog": True}):
        ri_v, ri_viol = check_referential_integrity(docs, catalog, "h", **kw)
        ri = {r.partition_id: (r.passed, json.loads(r.metrics)) for r in ri_v.collect()}
        assert ri == {
            0: (True, {"n_refs": 0, "n_dangling": 0}),
            1: (False, {"n_refs": 2, "n_dangling": 1}),
            2: (True, {"n_refs": 0, "n_dangling": 0}),
        }, kw
        assert [(r.doc_id, r.kind, r.media_ref, r.span_order) for r in ri_viol.collect()] == [
            ("b", "image", None, 1)
        ], kw
