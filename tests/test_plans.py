"""Physical-plan assertions: the optimizations the 100-TB posture
depends on must actually appear in the executed plan — filter pushdown,
nested-column pruning, broadcast strategies, map-side partial
aggregation."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from schema_drift_detector_spark.operators.profile import numeric_histogram, profile_columns
from schema_drift_detector_spark.sources.synth import SynthConfig, synth_asset_catalog, synth_documents

CFG = SynthConfig(n_docs=800, n_partitions=8, n_assets=1_000)


@pytest.fixture(scope="module")
def docs_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "docs")
    synth_documents(spark, CFG, epoch=0).write.parquet(p)
    return p


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_partition_filter_pushed_to_parquet(spark, docs_path):
    docs = spark.read.parquet(docs_path)
    sub = docs.filter(F.col("partition_id").isin([1, 4]))
    plan = _plan(sub)
    assert "PushedFilters" in plan and "partition_id" in plan.split("PushedFilters")[1][:200]


def test_column_pruning_excludes_spans(spark, docs_path):
    """profile_columns only touches atomic columns — the scan must not
    read the (heavy) spans column."""
    docs = spark.read.parquet(docs_path)
    plan = _plan(profile_columns(docs))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "spans" not in read_schema
    assert "doc_id" in read_schema


def test_nested_pruning_kind_only(spark, docs_path):
    """A kind-only span query must prune text/media_ref from the scan
    (Catalyst nested-schema pruning)."""
    docs = spark.read.parquet(docs_path)
    q = docs.select(F.explode("spans.kind").alias("k")).groupBy("k").count()
    read_schema = _plan(q).split("ReadSchema:")[1].splitlines()[0]
    assert "kind" in read_schema
    assert "media_ref" not in read_schema


def test_histogram_has_partial_aggregation(spark, docs_path):
    docs = spark.read.parquet(docs_path)
    hist = numeric_histogram(
        docs.select("partition_id", F.explode("spans.offset").alias("off")),
        "off", 0.0, 60.0, 16, ["partition_id"],
    )
    plan = _plan(hist)
    # partial + final pair → two HashAggregates around one shuffle
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1


def test_catalog_broadcast_in_ri(spark, docs_path):
    from schema_drift_detector_spark.operators.constraints import check_referential_integrity

    docs = spark.read.parquet(docs_path)
    catalog = synth_asset_catalog(spark, CFG)
    _, viol = check_referential_integrity(docs, catalog, "r")
    assert "BroadcastHashJoin" in _plan(viol)


def test_diff_is_pure_jvm_single_join(spark):
    """The diff is one full-outer join with JVM-only expressions — no
    Python evaluation nodes anywhere in the plan."""
    from schema_drift_detector_spark.model import FIELD_SCHEMA
    from schema_drift_detector_spark.operators.diff import diff_fields

    a = spark.createDataFrame([("x", "string", True, 0), ("y", "string", True, 1)], FIELD_SCHEMA)
    b = spark.createDataFrame([("x", "string", True, 0), ("z", "string", True, 1)], FIELD_SCHEMA)
    plan = _plan(diff_fields(a, b))
    assert "FullOuter" in plan
    assert "EvalPython" not in plan  # no BatchEvalPython / ArrowEvalPython
    assert plan.count("Join") == 1


def test_ri_shuffle_join_fallback(spark, docs_path):
    """broadcast_catalog=False must produce a non-broadcast join (the
    huge-catalog path) and identical verdicts."""
    from schema_drift_detector_spark.operators.constraints import check_referential_integrity

    docs = spark.read.parquet(docs_path)
    catalog = synth_asset_catalog(spark, CFG)
    v_b, _ = check_referential_integrity(docs, catalog, "r", broadcast_catalog=True)
    # broadcast_catalog=False lets Spark pick; with auto-broadcast off
    # (simulating a catalog too big to fit) the plan must fall back to a
    # shuffle join and still produce identical verdicts
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        v_s, viol_s = check_referential_integrity(docs, catalog, "r", broadcast_catalog=False)
        plan = _plan(viol_s)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        a = {(r.partition_id): r.passed for r in v_b.collect()}
        b = {(r.partition_id): r.passed for r in v_s.collect()}
        assert a == b
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def _task_stats(spark, fn):
    """Run fn() under a fresh job group and return per-stage task stats
    from the AppStatusStore: [{stage, durations_ms, reads, writes}]
    where reads/writes are shuffle RECORD counts per task. Record
    balance is the deterministic straggler signal — task wall time on
    this steal-prone host is noise below ~100ms."""
    import uuid as _uuid

    sc = spark.sparkContext
    group = f"stats-{_uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = []
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            tl = store.taskList(int(sid), 0, 100000)
            durs, reads, writes = [], [], []
            for i in range(tl.size()):
                t = tl.apply(i)
                d = t.duration()
                durs.append(int(d.get()) if d.isDefined() else 0)
                tm = t.taskMetrics()
                if tm.isDefined():
                    m = tm.get()
                    reads.append(int(m.shuffleReadMetrics().recordsRead()))
                    writes.append(int(m.shuffleWriteMetrics().recordsWritten()))
            if durs:
                out.append(
                    {"stage": int(sid), "durations": durs, "reads": reads, "writes": writes}
                )
    return out


def test_salted_uniqueness_agg_is_balanced(spark):
    """duplicate_keys' salted two-phase aggregation: no reducer reads a
    disproportionate share even with 40% of rows on one key."""
    from statistics import median

    from schema_drift_detector_spark.operators.constraints import duplicate_keys

    df = spark.range(400_000).select(
        F.when(F.col("id") % 5 < 2, F.lit("HOT-KEY"))
        .otherwise(F.format_string("key-%012d", F.col("id")))
        .alias("doc_id")
    )
    stats = _task_stats(spark, lambda: duplicate_keys(df, "doc_id", 32).collect())
    reducer_stages = [s for s in stats if sum(s["reads"]) > 0]
    assert reducer_stages, "expected at least one shuffle-read stage"
    for s in reducer_stages:
        busy = sorted(r for r in s["reads"] if r > 0)
        if len(busy) < 4:
            continue  # coalesced/tiny stages carry no straggler signal
        assert busy[-1] / median(busy) <= 3.0, (s["stage"], busy[-5:])


def test_choose_salt_buckets_decision_and_unsalted_plan(spark):
    """choose_salt_buckets: 1 on a uniform key (no hot key at phi),
    ceil(max_share·P) on a 40%-hot key; salt_buckets=1 routes
    duplicate_keys onto the plain one-phase aggregation (no __salt
    column, no second aggregation pair in the plan)."""
    from schema_drift_detector_spark.operators.constraints import duplicate_keys
    from schema_drift_detector_spark.operators.skew import choose_salt_buckets

    uniform = spark.range(50_000).select(
        F.format_string("u-%09d", F.col("id")).alias("k")
    )
    assert choose_salt_buckets(uniform, "k") == 1
    hot = spark.range(50_000).select(
        F.when(F.col("id") % 5 < 2, F.lit("HOT"))
        .otherwise(F.format_string("u-%09d", F.col("id")))
        .alias("k")
    )
    # 40% share × 8 test shuffle partitions → 4 salt buckets
    assert choose_salt_buckets(hot, "k") == 4
    unsalted = _plan(duplicate_keys(uniform, "k", salt_buckets=1))
    assert "__salt" not in unsalted
    salted = _plan(duplicate_keys(uniform, "k", salt_buckets=8))
    assert "__salt" in salted


def test_resolve_snapshot_chain_matches_legacy_pair(spark, tmp_path_factory):
    """The one-read resolve_snapshot_chain (r4 verdict #1) keeps the
    rule of the per-call lookup it replaced (the entity's most recent
    other snapshot) on: empty store, reuse of an existing run's
    snapshot, and previous-id selection across entities and epochs."""
    from schema_drift_detector_spark.operators.snapshot import field_list
    from schema_drift_detector_spark.plans import store

    d = str(tmp_path_factory.mktemp("chain"))
    fields = field_list(spark.range(1).select(F.col("id").alias("doc_id")).schema)

    # empty store: new id, no previous, needs persist
    sid, prev, created = store.resolve_snapshot_chain(spark, d, "docs", 0, "run-a")
    assert created and prev is None
    store.persist_snapshot(
        spark, d, "docs", 0, fields, source_path="run-a", snapshot_id=sid
    )

    # same run resumes: same id back, nothing to persist
    sid2, prev2, created2 = store.resolve_snapshot_chain(spark, d, "docs", 0, "run-a")
    assert sid2 == sid and not created2 and prev2 is None

    # a later epoch of the same entity: fresh id, previous = first
    sid3, prev3, created3 = store.resolve_snapshot_chain(spark, d, "docs", 1, "run-b")
    assert created3 and sid3 != sid and prev3 == sid
    store.persist_snapshot(
        spark, d, "docs", 1, fields, source_path="run-b", snapshot_id=sid3
    )

    # other entities never leak into the chain
    store.persist_snapshot(spark, d, "other", 0, fields, source_path="run-c")
    sid4, prev4, _ = store.resolve_snapshot_chain(spark, d, "docs", 2, "run-d")
    assert prev4 == sid3
