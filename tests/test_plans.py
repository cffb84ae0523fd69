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


def test_ann_broadcasts_queries(spark):
    from schema_drift_detector_spark.operators.ann import topk_bruteforce

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    top = topk_bruteforce(emb, emb.filter("vec_id < 3"), k=3)
    assert "Broadcast" in _plan(top)


def test_catalog_broadcast_in_ri(spark, docs_path):
    from schema_drift_detector_spark.operators.constraints import check_referential_integrity

    docs = spark.read.parquet(docs_path)
    catalog = synth_asset_catalog(spark, CFG)
    _, viol = check_referential_integrity(docs, catalog, "r")
    assert "BroadcastHashJoin" in _plan(viol)


def test_diff_is_pure_jvm_single_join(spark):
    """The diff is one full-outer join with JVM-only expressions — no
    Python evaluation nodes anywhere in the plan."""
    from schema_drift_detector_spark.operators.diff import diff_fields
    from schema_drift_detector_spark.operators.snapshot import fields_from_headers

    a = fields_from_headers(spark, ["x", "y"])
    b = fields_from_headers(spark, ["x", "z"])
    plan = _plan(diff_fields(a, b))
    assert "FullOuter" in plan
    assert "EvalPython" not in plan  # no BatchEvalPython / ArrowEvalPython
    assert plan.count("Join") == 1


def test_centroid_pick_avoids_global_sort(spark):
    """deterministic_centroids must plan as TakeOrderedAndProject (per-task
    local top-k, driver merge) — NOT a global sort / single-partition window
    over the corpus, which was the round-1 scale-killer at 10^9 vectors."""
    from schema_drift_detector_spark.operators.ann import deterministic_centroids

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(deterministic_centroids(emb, 8))
    assert "TakeOrderedAndProject" in plan
    # the only rangepartitioning/sort allowed is over the already-limited k
    # rows (after TakeOrderedAndProject); the corpus scan itself must feed
    # the top-k directly with no Exchange below it
    scan_side = plan.split("TakeOrderedAndProject")[-1]
    assert "Exchange" not in scan_side


def test_bucketed_join_avoids_shuffle(spark, tmp_path_factory):
    """Two tables bucketed on the join key must join with NO Exchange —
    the co-located-join path that amortizes one write-time shuffle over
    every subsequent join at 10^12-doc scale."""
    import uuid

    from schema_drift_detector_spark.sources.io import write_bucketed

    docs = synth_documents(spark, CFG, epoch=0).select("doc_id", "partition_id")
    other = synth_documents(spark, CFG, epoch=0).select("doc_id", "quality")
    ta, tb = f"ba_{uuid.uuid4().hex[:8]}", f"bb_{uuid.uuid4().hex[:8]}"
    write_bucketed(docs, ta, "doc_id", 8)
    write_bucketed(other, tb, "doc_id", 8)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table(ta).join(spark.table(tb), "doc_id")
        plan = _plan(j)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange" not in plan  # bucket co-location: no shuffle at all
        assert j.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


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


def test_kmeans_iteration_shuffles_only_partials(spark):
    """One Lloyd iteration must shuffle ONLY the per-task partial rows
    (centroid_id, psum, pcount) — not the corpus vectors, and never
    exploded (cell, dim) rows (the round-2 formulation shuffled N x dim
    rows per iteration: ~10^12 at 10^9 x 768-dim)."""
    import numpy as np

    from schema_drift_detector_spark.functions.similarity import normalize
    from schema_drift_detector_spark.operators.ann import _lloyd_iteration

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    v = emb.select(normalize("embedding").alias("nv"))
    dim = len(emb.select("embedding").first()[0])
    step = _lloyd_iteration(v, np.eye(4, dim), [0, 1, 2, 3])
    plan = _plan(step)
    # no explode of vectors into (cell, dim) rows anywhere in the plan
    assert "Generate" not in plan and "posexplode" not in plan
    # exactly one Exchange, and it hashes the partials on centroid_id —
    # everything below it (the corpus scan + fused assign/partial-sum
    # mapInPandas) runs shuffle-free
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1, plan
    assert "hashpartitioning(centroid_id" in exchanges[0], exchanges[0]
    below = plan.split("Exchange")[-1]
    assert "MapInPandas" in below and "Scan parquet" in below, plan


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


def test_bucketed_uniqueness_agg_zero_exchange(spark):
    """spec opt-in 'bucketed': over a table bucketed on the key,
    duplicate_keys aggregates with ZERO Exchange (the write-time shuffle
    is amortized) and finds exactly the same duplicates as the salted
    path over the same rows."""
    import uuid

    from schema_drift_detector_spark.operators.constraints import duplicate_keys
    from schema_drift_detector_spark.sources.io import write_bucketed

    df = spark.range(50_000).select(
        F.when(F.col("id") % 1000 == 0, F.lit("DUP"))
        .otherwise(F.format_string("d-%08d", F.col("id")))
        .alias("doc_id")
    )
    tname = f"uq_bucketed_{uuid.uuid4().hex[:8]}"
    write_bucketed(df, tname, "doc_id", 8)
    try:
        bucketed = spark.table(tname)
        dups = duplicate_keys(bucketed, "doc_id", assume_bucketed=True)
        plan = _plan(dups)
        assert "Exchange" not in plan, plan
        got = {r.doc_id: r.n_occurrences for r in dups.collect()}
        ref = {
            r.doc_id: r.n_occurrences
            for r in duplicate_keys(bucketed, "doc_id").collect()
        }
        assert got == ref == {"DUP": 50}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tname}")


def test_kmeans_iteration_shuffle_volume(spark):
    """Measured (not just plan-shape) evidence for the trainer rewrite:
    one Lloyd iteration's total shuffle-write records must be bounded by
    partials (tasks x k), which is >=4x fewer rows than the N x dim
    exploded rows the round-2 formulation shuffled."""
    import numpy as np

    from schema_drift_detector_spark.functions.similarity import normalize
    from schema_drift_detector_spark.operators.ann import _lloyd_iteration

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    v = emb.select(normalize("embedding").alias("nv"))
    n = emb.count()
    dim = len(emb.select("embedding").first()[0])
    k = 8
    step = _lloyd_iteration(v, np.eye(k, dim), list(range(k)))
    stats = _task_stats(
        spark, lambda: step.write.format("noop").mode("overwrite").save()
    )
    shuffled = sum(sum(s["writes"]) for s in stats)
    # bound by the WRITING (map) stage's task count — the reducer stage
    # can have more tasks and would loosen the partials bound
    writers = [s for s in stats if sum(s["writes"]) > 0]
    n_tasks = max(len(s["durations"]) for s in writers)
    assert 0 < shuffled <= n_tasks * k, (shuffled, n_tasks, k)
    assert n * dim >= 4 * shuffled, f"want >=4x fewer than N*dim: {shuffled} vs {n * dim}"


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
    """The one-read resolve_snapshot_chain (r4 verdict #1) must agree
    with previous_snapshot on: empty store, reuse of an existing run's
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
    assert store.previous_snapshot(spark, d, "docs", sid3) == sid

    # other entities never leak into the chain
    store.persist_snapshot(spark, d, "other", 0, fields, source_path="run-c")
    sid4, prev4, _ = store.resolve_snapshot_chain(spark, d, "docs", 2, "run-d")
    assert prev4 == sid3 == store.previous_snapshot(spark, d, "docs", sid4)
