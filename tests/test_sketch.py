"""KLL quantile sketches: Spark integration (native build and merge),
the Catalyst KS against an exact reference, quantile-drift verdicts."""

from __future__ import annotations

import json
import re

import numpy as np
import pyspark.sql.functions as F

from schema_drift_detector_spark.operators.constraints import check_quantile_drift
from schema_drift_detector_spark.operators.profile import kll_profiles
from schema_drift_detector_spark.plans.run import baseline_tdigest
from schema_drift_detector_spark.sources.synth import SynthConfig, synth_documents

CFG = SynthConfig(n_docs=3_200, n_partitions=8, n_assets=2_000)
# KLL's normalized rank error at k = 200 (DataSketches, 99% confidence)
KLL_RANK_ERROR = 0.0165


def test_tdigest_profiles_and_tree_merge(spark):
    """Per-partition KLL sketches merge natively (kll_merge_agg_double)
    into one table-level sketch that counts every offset and places the
    median within the rank error."""
    docs = synth_documents(spark, CFG, epoch=0)
    offs = docs.select("partition_id", F.explode("spans.offset").alias("off")).cache()
    prof = kll_profiles(offs, "off", ["partition_id"]).cache()
    assert prof.count() == 8
    merged = prof.agg(F.kll_merge_agg_double("kll").alias("kll")).select(
        F.kll_sketch_get_n_double("kll").alias("n"),
        F.kll_sketch_get_quantile_double("kll", F.lit(0.5)).alias("median"),
    ).first()
    assert merged.n == offs.count()
    lo, hi = offs.approxQuantile("off", [0.5 - KLL_RANK_ERROR, 0.5 + KLL_RANK_ERROR], 0.0)
    assert lo <= merged.median <= hi
    offs.unpersist()
    prof.unpersist()


def test_quantile_drift_localized(spark):
    e0 = synth_documents(spark, CFG, epoch=0)
    e2 = synth_documents(spark, CFG, epoch=2)
    base = kll_profiles(
        e0.select("partition_id", F.explode("spans.offset").alias("off")), "off", ["partition_id"]
    )
    curr = kll_profiles(
        e2.select("partition_id", F.explode("spans.offset").alias("off")), "off", ["partition_id"]
    )
    v = {r.partition_id: r for r in check_quantile_drift(base, curr, "r", 2).collect()}
    failing = {p for p, r in v.items() if not r.passed}
    assert failing == set(CFG.drift_partitions)


def _offsets_by_partition(docs) -> dict[int, np.ndarray]:
    rows = docs.select("partition_id", F.col("spans.offset").alias("o")).collect()
    out: dict[int, list[int]] = {}
    for r in rows:
        out.setdefault(r.partition_id, []).extend(r.o)
    return {p: np.sort(np.asarray(v, dtype=np.float64)) for p, v in out.items()}


def _exact_ks(a: np.ndarray, b: np.ndarray) -> float:
    xs = np.union1d(a, b)
    fa = np.searchsorted(a, xs, side="right") / len(a)
    fb = np.searchsorted(b, xs, side="right") / len(b)
    return float(np.abs(fa - fb).max())


def test_kll_ks_matches_exact_ks(spark):
    """The Catalyst KS over two KLL sketches stays within 0.025 of the
    exact two-sample KS computed with numpy from the raw offsets, on
    drifted and undrifted partitions alike. The budget covers the rank
    grid (0.5/100 per side) plus the sketches' rank error (KLL_RANK_ERROR
    each, at 99% confidence, rarely both at full size and sign)."""
    e0 = synth_documents(spark, CFG, epoch=0)
    e2 = synth_documents(spark, CFG, epoch=2)
    got = {
        r.partition_id: json.loads(r.metrics)["ks_stat"]
        for r in check_quantile_drift(baseline_tdigest(e0), baseline_tdigest(e2), "r", 2).collect()
    }
    a, b = _offsets_by_partition(e0), _offsets_by_partition(e2)
    assert set(got) == set(a) == set(range(CFG.n_partitions))
    for p in got:
        exact = _exact_ks(a[p], b[p])
        assert abs(got[p] - exact) <= 0.025, (p, got[p], exact)


def test_quantile_drift_plans_run_no_python(spark):
    """Building the sketches and the KS check are native Catalyst plans:
    no Python UDF or grouped-pandas node in either executed plan."""
    docs = synth_documents(spark, CFG, epoch=0)
    base = baseline_tdigest(docs)
    check = check_quantile_drift(base, baseline_tdigest(docs), "r", 0)
    python_nodes = re.compile(r"ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas")
    for df in (base, check):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert not python_nodes.search(plan), plan
