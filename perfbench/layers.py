"""The traced run: per-layer metrics.

1. The first loop iteration -- the one the untraced runs time -- with
   spans recorded around run_validation and the eager public functions it
   calls into (store.*, manifest.*, policy.*), and Spark's job and stage
   counters read for each call's time window after the iteration ends.
   ``trace.overhead_s`` is the time the span bookkeeping itself added;
   ``trace.iteration_s`` is the wall time of the traced run_validation
   calls, to compare with the same calls in the untraced runs
   (``run_s`` plus, on resume_batched, ``resume_s``).
2. A sweep that calls each data layer's public functions on the
   workload's own inputs, each under its own Spark job group, forcing
   every result with the noop sink.
"""

from __future__ import annotations

import statistics
import time

from pyspark.sql import functions as F

from perfbench.trace import SparkCounters, Tracer, idle_seconds, tree_stats


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def traced(bench, wl) -> dict:
    from schema_drift_detector_spark.plans import manifest as M
    from schema_drift_detector_spark.plans import policy, store
    from schema_drift_detector_spark.plans import run as R

    counters = SparkCounters(bench.spark)
    tracer = Tracer("run")
    targets = {
        "run": (R, "run_validation"),
        "store.resolve": (store, "resolve_snapshot_chain"),
        "store.persist": (store, "persist_snapshot"),
        "store.fields_of": (store, "fields_of"),
        "manifest.pending": (M, "pending_partitions"),
        "manifest.commit": (M, "commit_partitions"),
        "policy.healing_plan": (policy, "healing_plan"),
        "policy.notification": (policy, "notification"),
        "policy.decision_envelope": (policy, "decision_envelope"),
    }
    with tracer.wrapping(targets):
        # the checks after each call also read the manifest; only spans
        # inside a run_validation span belong to the engine's calls
        wl.iteration(1)
    calls = tracer.calls()
    n = len(calls)

    def per_call(name):
        return sum(tracer.total(name, c.call) for c in calls) / n

    jobs, idle, batch = [], [], []
    for c in calls:
        w0, w1 = c.wall_start, c.wall_start + (c.end - c.start)
        cj = counters.jobs_between(w0, w1)
        jobs.append(cj)
        idle.append(idle_seconds(cj, w0, w1))
        commits = tracer.of("manifest.commit", c.call)
        pend = tracer.of("manifest.pending", c.call)
        if commits and pend:
            batch.append((commits[-1].end - pend[0].end) / len(commits))
    spark_tot = counters.stage_totals([j for cj in jobs for j in cj])
    m = {
        "store.resolve_s": (per_call("store.resolve"), "s"),
        "store.persist_s": (per_call("store.persist"), "s"),
        "store.fields_of_s": (per_call("store.fields_of"), "s"),
        "manifest.pending_s": (per_call("manifest.pending"), "s"),
        "manifest.commit_s": (per_call("manifest.commit"), "s"),
        "policy.decide_s": (
            sum(per_call(k) for k in ("policy.healing_plan", "policy.notification", "policy.decision_envelope")),
            "s",
        ),
        "run.spark_jobs": (sum(len(cj) for cj in jobs) / n, "count"),
        "run.idle_s": (statistics.mean(idle), "s"),
        "run.batch_s": (statistics.mean(batch) if batch else 0.0, "s"),
        "spark.task_s": (spark_tot["task_s"] / n, "s"),
        "spark.gc_s": (spark_tot["gc_s"] / n, "s"),
        "spark.spill_bytes": (spark_tot["spill_bytes"] / n, "B"),
        "spark.shuffle_write_bytes": (spark_tot["shuffle_write_bytes"] / n, "B"),
        "spark.tasks": (spark_tot["tasks"] / n, "count"),
    }
    out_dir = wl.trace_out_dir()
    m["store.files"] = (tree_stats(f"{out_dir}/store")[0], "count")
    m["manifest.files"] = (tree_stats(f"{out_dir}/manifest")[0], "count")
    m["run.out_files"] = (tree_stats(out_dir)[0], "count")
    wl.finish()
    m["manifest.rework_partitions"] = (wl.rework, "count")
    m.update(sweep(bench, counters, wl))
    m["trace.overhead_s"] = (tracer.overhead_s, "s")
    m["trace.iteration_s"] = (sum(c.end - c.start for c in calls), "s")
    return m


def sweep(bench, counters: SparkCounters, wl) -> dict:
    """Each data layer's public functions on the workload's inputs."""
    from schema_drift_detector_spark.functions.bloom import build_bloom, might_contain_udf
    from schema_drift_detector_spark.operators import constraints as C
    from schema_drift_detector_spark.operators.diff import diff_fields, drift_report
    from schema_drift_detector_spark.operators.profile import profile_columns, profile_spans
    from schema_drift_detector_spark.operators.skew import choose_salt_buckets
    from schema_drift_detector_spark.operators.snapshot import fields_from_schema
    from schema_drift_detector_spark.plans.run import (
        DEFAULT_SPEC,
        baseline_histogram,
        baseline_kind_counts,
        baseline_tdigest,
    )
    from schema_drift_detector_spark.sources.io import read_table

    spark = bench.spark
    sc = spark.sparkContext
    docs_path, docs, catalog, prev, (b_hist, b_td, b_kinds) = wl.sweep_inputs()
    spec = wl.spec
    times: dict[str, float] = {}

    def timed(group: str, fn):
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            times[group] = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)

    def shuffle(*groups):
        return sum(counters.stage_totals(counters.jobs_in_group(g))["shuffle_write_bytes"] for g in groups)

    timed("sources.scan", lambda: _force(read_table(spark, docs_path)))
    input_bytes = counters.stage_totals(counters.jobs_in_group("sources.scan"))["input_bytes"]

    timed("profile.columns", lambda: _force(profile_columns(docs, snapshot_id="trace", entity="documents")))
    timed("profile.spans", lambda: _force(profile_spans(docs)))
    timed("profile.drift_sketch", lambda: [
        _force(baseline_histogram(docs, DEFAULT_SPEC)), _force(baseline_tdigest(docs)),
        _force(baseline_kind_counts(docs)),
    ])

    salt_buckets = timed("skew.choose_salt", lambda: choose_salt_buckets(docs, "doc_id", phi=0.002))
    # the salt the workload's spec makes run_validation use
    salt = salt_buckets if spec.get("uniqueness", {}).get("auto_salt") else DEFAULT_SPEC["uniqueness"]["salt_buckets"]

    n_keys = catalog.count()
    bitmap, m_bits, k = timed("bloom.build", lambda: build_bloom(catalog.select("media_ref"), "media_ref", n_keys))
    probe = might_contain_udf(spark, bitmap, m_bits, k)
    refs = docs.select(F.explode("spans.media_ref").alias("media_ref")).filter(F.col("media_ref").isNotNull())
    probed, maybe = refs.agg(F.count(F.lit(1)), F.sum(probe("media_ref").cast("long"))).first()

    dups = timed("constraints.dup_keys", lambda: _cached(C.duplicate_keys(docs, "doc_id", salt)))
    try:
        uq_v, uq_viol = C.check_uniqueness(docs, "trace", dups=dups)
        timed("constraints.uniqueness", lambda: [_force(uq_v), _force(uq_viol)])
        ri = {"bloom": probe} if spec.get("referential_integrity", {}).get("bloom_catalog") else {}
        ri_v, ri_viol = C.check_referential_integrity(docs, catalog, "trace", bloom_catalog=bool(ri), **ri)
        timed("constraints.ri", lambda: [_force(ri_v), _force(ri_viol)])
        d = DEFAULT_SPEC["distribution_drift"]
        drift = [
            C.check_distribution_drift(b_hist, baseline_histogram(docs, DEFAULT_SPEC), "trace", 2,
                                       ks_threshold=d["ks_threshold"],
                                       chi2_per_bin_threshold=d["chi2_per_bin_threshold"]),
            C.check_quantile_drift(b_td, baseline_tdigest(docs), "trace", 2),
            C.check_categorical_drift(b_kinds, baseline_kind_counts(docs), "trace", 2),
        ]
        verdicts = timed("constraints.drift", lambda: [
            tuple(r) for v in drift for r in v.select("constraint", "partition_id", "passed").collect()
        ])
        _check_drift(bench, wl, verdicts)
        violation_rows = uq_viol.count() + ri_viol.count()
    finally:
        dups.unpersist()
    skew = counters.max_task_skew(
        counters.jobs_in_group("constraints.dup_keys") + counters.jobs_in_group("constraints.uniqueness")
    )

    def report():
        before = fields_from_schema(spark, prev.schema)
        after = fields_from_schema(spark, docs.schema)
        return drift_report(diff_fields(before, after)).first()

    timed("diff.report", report)

    return {
        "sources.scan_s": (times["sources.scan"], "s"),
        "sources.input_bytes": (input_bytes, "B"),
        "profile.columns_s": (times["profile.columns"], "s"),
        "profile.spans_s": (times["profile.spans"], "s"),
        "profile.drift_sketch_s": (times["profile.drift_sketch"], "s"),
        "profile.shuffle_bytes": (shuffle("profile.columns", "profile.spans", "profile.drift_sketch"), "B"),
        "constraints.dup_keys_s": (times["constraints.dup_keys"], "s"),
        "constraints.uniqueness_s": (times["constraints.uniqueness"], "s"),
        "constraints.ri_s": (times["constraints.ri"], "s"),
        "constraints.drift_s": (times["constraints.drift"], "s"),
        "constraints.shuffle_bytes": (
            shuffle("constraints.dup_keys", "constraints.uniqueness", "constraints.ri", "constraints.drift"), "B",
        ),
        "constraints.violation_rows": (violation_rows, "count"),
        "constraints.max_task_skew": (skew, "ratio"),
        "skew.choose_salt_s": (times["skew.choose_salt"], "s"),
        "skew.salt_buckets": (salt_buckets, "count"),
        "bloom.build_s": (times["bloom.build"], "s"),
        "bloom.bitmap_bytes": (len(bitmap), "B"),
        "bloom.maybe_ratio": (maybe / probed, "ratio"),
        "diff.report_s": (times["diff.report"], "s"),
    }


def _check_drift(bench, wl, verdicts: list) -> None:
    """The drift verdicts of e2 against e0 baselines must fail exactly the
    generator's drift partitions; a mismatch is a failed call."""
    exp = wl.oracle.expect(2, None, drift_checks=True).passed
    want = {k: v for k, v in exp.items() if k[0].endswith("_drift")}
    got = {(c, int(p)): bool(ok) for c, p, ok in verdicts}
    problems = [f"verdict {k}: {got.get(k)} != {want.get(k)}" for k in sorted(set(got) | set(want))
                if got.get(k) != want.get(k)]
    bench.record("drift_checks", 0.0, 0, problems)


def _cached(df):
    df = df.cache()
    df.count()
    return df
