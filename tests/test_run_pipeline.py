"""End-to-end pipeline: epochs e0→e1→e2, per-partition verdicts,
violations, manifest resume idempotence, policy decisions."""

from __future__ import annotations

import json
import os
import uuid

import pyspark.sql.functions as F
import pytest

from schema_drift_detector_spark.plans import manifest as M
from schema_drift_detector_spark.plans import records, store
from schema_drift_detector_spark.plans.run import (
    baseline_histogram,
    read_verdicts,
    read_violations,
    run_validation,
)
from schema_drift_detector_spark.sources.synth import (
    SynthConfig,
    synth_asset_catalog,
    synth_documents,
)

CFG = SynthConfig(n_docs=3_200, n_partitions=8, n_assets=4_000)


@pytest.fixture(scope="module")
def docs0(spark):
    return synth_documents(spark, CFG, epoch=0).cache()


@pytest.fixture(scope="module")
def catalog(spark):
    return synth_asset_catalog(spark, CFG).cache()


def test_full_run_epoch0(spark, docs0, catalog, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("run_e0"))
    env = run_validation(spark, docs0, catalog, out, run_id="r0", epoch=0)
    # first snapshot → all adds → info → drift detected but not breaking
    assert env["details"]["drift"]["drift_report"]["severity"] == "info"
    assert env["decision"] in ("auto_heal", "manual_review")  # adds → sql actions, auto_heal policy
    assert env["decision"] == "auto_heal"
    v = read_verdicts(spark, out, "r0")
    by = {(r.constraint, r.partition_id): r for r in v.collect()}
    assert not by[("uniqueness", 2)].passed
    assert not by[("uniqueness", 5)].passed
    assert by[("uniqueness", 0)].passed
    assert not by[("referential_integrity", 3)].passed
    viol = read_violations(spark, out, "r0")
    assert viol.filter("constraint = 'uniqueness'").count() > 0
    # manifest covers all 8 partitions
    assert M.pending_partitions(spark, docs0.select("partition_id"), out, "r0") == []


def test_epoch_sequence_drift_decisions(spark, docs0, catalog, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("run_seq"))
    e1 = synth_documents(spark, CFG, epoch=1)
    e2 = synth_documents(spark, CFG, epoch=2)
    base_hist = baseline_histogram(docs0, __import__(
        "schema_drift_detector_spark.plans.run", fromlist=["DEFAULT_SPEC"]).DEFAULT_SPEC)

    env0 = run_validation(spark, docs0, catalog, out, run_id="s0", epoch=0)
    env1 = run_validation(spark, e1, catalog, out, run_id="s1", epoch=1)
    # e0→e1: add country (low) / info → auto_heal (sql action, no manual)
    assert env1["details"]["drift"]["drift_report"]["summary"] == "add country (low)"
    assert env1["details"]["severity"] == "info"
    assert env1["decision"] == "auto_heal"

    env2 = run_validation(
        spark, e2, catalog, out, run_id="s2", epoch=2, baseline_hist=base_hist
    )
    # e1→e2: remove country → overall critical → pause
    rep = env2["details"]["drift"]["drift_report"]
    assert rep["severity"] == "critical"
    assert any(c["op"] == "remove" and c["field"] == "country" for c in rep["changes"])
    assert env2["decision"] == "pause"
    # distribution drift fails exactly the injected partitions
    dd = {
        r.partition_id: r
        for r in read_verdicts(spark, out, "s2")
        .filter("constraint = 'distribution_drift'")
        .collect()
    }
    failing = {p for p, r in dd.items() if not r.passed}
    assert failing == set(CFG.drift_partitions)
    # notification fired on breaking drift (R22 message shape)
    assert env2["notification"]["sent"] is True
    assert env2["notification"]["message"].startswith("Schema Drift Detected! Severity: critical.")
    # later runs into the same out_dir leave the first run's rows alone:
    # 8 partitions x (uniqueness, referential_integrity)
    assert read_verdicts(spark, out, "s0").count() == 16


def test_run_leaves_session_overwrite_mode_alone(spark, docs0, catalog, tmp_path):
    """The dynamic partition overwrite is a writer option: the shared
    session's partitionOverwriteMode reads the caller's value for the
    whole call, so one call on a session cannot reset the mode under
    another call's writes."""
    import threading

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    seen = set()
    done = threading.Event()

    def poll():
        while not done.is_set():
            seen.add(spark.conf.get(key))
            done.wait(0.01)

    poller = threading.Thread(target=poll)
    poller.start()
    try:
        run_validation(spark, docs0, catalog, str(tmp_path / "out"), run_id="om", epoch=0)
    finally:
        done.set()
        poller.join()
    assert seen == {before}
    assert spark.conf.get(key) == before


def test_resume_idempotent(spark, docs0, catalog, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("run_resume"))
    # interrupted run: 4 batches of 2 partitions, killed after 2 batches
    env_a = run_validation(
        spark, docs0, catalog, out, run_id="rr", epoch=0,
        partition_batches=4, fail_after_batches=2,
    )
    pending_mid = M.pending_partitions(spark, docs0.select("partition_id"), out, "rr")
    assert 0 < len(pending_mid) < 8
    # resume completes only the missing partitions
    env_b = run_validation(
        spark, docs0, catalog, out, run_id="rr", epoch=0, partition_batches=4
    )
    assert sorted(env_b["run"]["partitions_pending_before"]) == pending_mid
    assert M.pending_partitions(spark, docs0.select("partition_id"), out, "rr") == []
    # verdicts: exactly one row per (constraint, partition); same results
    # as an uninterrupted run
    out2 = str(tmp_path_factory.mktemp("run_plain"))
    run_validation(spark, docs0, catalog, out2, run_id="pp", epoch=0)
    a = {
        (r.constraint, r.partition_id): (r.passed, r.summary)
        for r in read_verdicts(spark, out, "rr").collect()
    }
    b = {
        (r.constraint, r.partition_id): (r.passed, r.summary)
        for r in read_verdicts(spark, out2, "pp").collect()
    }
    assert len(a) == 16  # 2 constraints × 8 partitions, no duplicates
    assert a == b
    # resume reused the interrupted run's snapshot (no duplicate chain)
    from schema_drift_detector_spark.plans.store import read_snapshots

    snaps = sum(s["source_path"] == "rr" for s in read_snapshots(spark, f"{out}/store"))
    assert snaps == 1


def test_uniqueness_verdict_unaffected_by_repartition(spark, docs0, catalog, tmp_path_factory):
    """Span-sequence + verdict stability under physical repartitioning
    (input_hint invariant: results depend on data, not layout)."""
    out = str(tmp_path_factory.mktemp("run_shuffled"))
    shuffled = docs0.repartition(13, "doc_id")
    env = run_validation(spark, shuffled, catalog, out, run_id="sh", epoch=0)
    v = {
        (r.constraint, r.partition_id): r.passed
        for r in read_verdicts(spark, out, "sh").collect()
    }
    assert not v[("uniqueness", 2)] and not v[("uniqueness", 5)]
    assert not v[("referential_integrity", 3)]
    assert v[("uniqueness", 0)] and v[("referential_integrity", 0)]


def test_cross_batch_duplicates_detected(spark, docs0, catalog, tmp_path_factory):
    """Duplicates of the same doc_id split across partitions that land in
    DIFFERENT batches must still fail uniqueness in both partitions —
    the dup-key set is computed once over the full table, not per batch."""
    out = str(tmp_path_factory.mktemp("run_xbatch"))
    # clone one partition-0 doc into partition 7; with partition_batches=4
    # the stride grouping puts 0 and 7 in different batches ([0,4] vs [3,7])
    clone = docs0.filter(F.col("partition_id") == 0).limit(1).withColumn(
        "partition_id", F.lit(7).cast("int")
    )
    docs_x = docs0.unionByName(clone)
    run_validation(
        spark, docs_x, catalog, out, run_id="xb", epoch=0, partition_batches=4
    )
    v = {
        (r.constraint, r.partition_id): r.passed
        for r in read_verdicts(spark, out, "xb").collect()
    }
    assert not v[("uniqueness", 0)]
    assert not v[("uniqueness", 7)]


def test_crash_between_write_and_commit_no_duplicates(
    spark, docs0, catalog, tmp_path_factory
):
    """A crash after a batch's output writes but before its manifest
    commit leaves orphaned parquet rows; the resume must overwrite them
    in place so readers never see duplicated verdict/violation rows."""
    out = str(tmp_path_factory.mktemp("run_orphan"))
    run_validation(
        spark, docs0, catalog, out, run_id="cw", epoch=0,
        partition_batches=4, fail_after_batches=2, crash_after_write=True,
    )
    # batch 0 committed; batch 1's outputs are orphaned (no manifest row)
    pending = M.pending_partitions(spark, docs0.select("partition_id"), out, "cw")
    assert len(pending) == 6
    run_validation(
        spark, docs0, catalog, out, run_id="cw", epoch=0, partition_batches=4
    )
    rows = read_verdicts(spark, out, "cw").collect()
    keys = [(r.constraint, r.partition_id) for r in rows]
    assert len(keys) == len(set(keys)) == 16  # no duplicated verdicts
    # violation rows match a clean (uninterrupted) run exactly — the
    # orphaned batch's rows were overwritten, not appended twice
    out_clean = str(tmp_path_factory.mktemp("run_orphan_clean"))
    run_validation(spark, docs0, catalog, out_clean, run_id="cl", epoch=0)
    per_part = lambda out_, rid: {  # noqa: E731
        (r.constraint, r.partition_id): r["count"]
        for r in read_violations(spark, out_, rid)
        .groupBy("constraint", "partition_id").count().collect()
    }
    assert per_part(out, "cw") == per_part(out_clean, "cl")


def test_clean_data_empty_violations_readable(spark, tmp_path_factory):
    """A run over clean data writes zero violation rows; read_violations
    must return an empty TYPED frame, not fail schema inference on the
    footer-less directory."""
    from schema_drift_detector_spark.model import VIOLATION_SCHEMA

    cfg = SynthConfig(
        n_docs=800, n_partitions=4, n_assets=2_000,
        dup_partitions=(), dangling_partition=-1,
    )
    docs = synth_documents(spark, cfg, epoch=0)
    catalog = synth_asset_catalog(spark, cfg)
    out = str(tmp_path_factory.mktemp("run_clean"))
    run_validation(spark, docs, catalog, out, run_id="cl0", epoch=0)
    v = read_verdicts(spark, out, "cl0")
    assert all(r.passed for r in v.collect())
    viol = read_violations(spark, out, "cl0")
    assert viol.count() == 0
    assert [f.name for f in viol.schema.fields] == [f.name for f in VIOLATION_SCHEMA.fields]


def test_categorical_drift_in_pipeline(spark, docs0, catalog, tmp_path_factory):
    from schema_drift_detector_spark.plans.run import baseline_kind_counts

    out = str(tmp_path_factory.mktemp("run_cat"))
    run_validation(
        spark, docs0, catalog, out, run_id="cd0", epoch=0,
        baseline_kinds=baseline_kind_counts(docs0),
    )
    cd = {
        r.partition_id: r
        for r in read_verdicts(spark, out, "cd0")
        .filter("constraint = 'categorical_drift'")
        .collect()
    }
    # one verdict per partition; identical kind mix → all pass
    assert set(cd) == set(range(8))
    assert all(r.passed for r in cd.values())


def test_vanished_partition_fails_in_pipeline(spark, docs0, catalog, tmp_path_factory):
    """A partition present in a drift baseline but absent from the
    current table must still get its fail-closed verdict from each of
    the three drift checks — the per-batch partition filter must not
    swallow it."""
    from schema_drift_detector_spark.plans.run import (
        DEFAULT_SPEC,
        baseline_kind_counts,
        baseline_tdigest,
    )

    out = str(tmp_path_factory.mktemp("run_vanish"))
    current = docs0.filter(F.col("partition_id") != 6)  # partition 6 vanishes
    run_validation(
        spark, current, catalog, out, run_id="vz", epoch=1,
        baseline_hist=baseline_histogram(docs0, DEFAULT_SPEC),
        baseline_td=baseline_tdigest(docs0),
        baseline_kinds=baseline_kind_counts(docs0),
        partition_batches=3,
    )
    verdicts = read_verdicts(spark, out, "vz").collect()
    for constraint in ("distribution_drift", "quantile_drift", "categorical_drift"):
        by = {r.partition_id: r for r in verdicts if r.constraint == constraint}
        assert set(by) == set(range(8)), constraint  # 7 live + the vanished one
        assert by[6].passed is False, constraint
        assert "missing baseline or current" in by[6].summary, constraint
        assert all(by[p].passed for p in range(8) if p != 6), constraint


def test_categorical_drift_fails_closed_on_missing_baseline(spark, docs0):
    """A partition absent from the baseline must fail (not null-verdict)."""
    from schema_drift_detector_spark.operators.constraints import check_categorical_drift
    from schema_drift_detector_spark.plans.run import baseline_kind_counts

    kinds = baseline_kind_counts(docs0)
    base = kinds.filter(F.col("partition_id") != 3)
    v = {r.partition_id: r for r in check_categorical_drift(base, kinds, "fc", 0).collect()}
    assert v[3].passed is False
    assert "missing baseline" in v[3].summary
    assert all(v[p].passed for p in range(8) if p != 3)


def test_quantile_drift_in_pipeline(spark, docs0, catalog, tmp_path_factory):
    from schema_drift_detector_spark.plans.run import baseline_tdigest

    out = str(tmp_path_factory.mktemp("run_td"))
    e2 = synth_documents(spark, CFG, epoch=2)
    env = run_validation(
        spark, e2, catalog, out, run_id="td2", epoch=2,
        baseline_td=baseline_tdigest(docs0),
    )
    qd = {
        r.partition_id: r
        for r in read_verdicts(spark, out, "td2")
        .filter("constraint = 'quantile_drift'")
        .collect()
    }
    failing = {p for p, r in qd.items() if not r.passed}
    assert failing == set(CFG.drift_partitions)


def test_pipeline_with_bloom_ri(spark, tmp_path):
    """spec {'referential_integrity': {'bloom_catalog': True}} declares
    the catalog too big to broadcast: the pipeline runs RI as a
    non-broadcast join (AQE picks it) and produces the same verdicts as
    the default broadcast join — incl. the injected danglers in
    partition 3."""
    import pyspark.sql.functions as F

    from schema_drift_detector_spark.plans.run import read_verdicts, run_validation
    from schema_drift_detector_spark.sources.synth import (
        SynthConfig,
        synth_asset_catalog,
        synth_documents,
    )

    cfg = SynthConfig(n_docs=1_200, n_partitions=8, n_assets=2_000)
    docs = synth_documents(spark, cfg, epoch=0)
    cat = synth_asset_catalog(spark, cfg)

    def ri_verdicts(out, run_id, spec):
        run_validation(spark, docs, cat, str(out), run_id=run_id, partition_batches=2, spec=spec)
        v = read_verdicts(spark, str(out), run_id)
        return {
            r.partition_id: r.passed
            for r in v.filter(F.col("constraint") == "referential_integrity").collect()
        }

    plain = ri_verdicts(tmp_path / "plain", "rp", None)
    bloom = ri_verdicts(
        tmp_path / "bloom", "rb", {"referential_integrity": {"bloom_catalog": True}}
    )
    assert plain == bloom and bloom[3] is False and bloom[0] is True


def test_auto_salt_spec_is_accepted_and_verdicts_hold(spark, docs0, catalog, tmp_path_factory):
    """spec {'uniqueness': {'auto_salt': True}} is accepted and ignored:
    duplicate keys come from the one-phase COUNT, whose map-side partial
    aggregation already spreads a hot key. Verdicts hold on synth docs
    and on a 40%-hot-key table."""
    out = str(tmp_path_factory.mktemp("run_autosalt"))
    run_validation(
        spark, docs0, catalog, out, run_id="as0", epoch=0,
        spec={"uniqueness": {"auto_salt": True}},
    )
    v = read_verdicts(spark, out, "as0")
    by = {(r.constraint, r.partition_id): r.passed for r in v.collect()}
    assert by[("uniqueness", 2)] is False and by[("uniqueness", 5)] is False
    assert by[("uniqueness", 0)] is True

    # 40% of rows collapse onto one doc_id
    hot = docs0.withColumn(
        "doc_id",
        F.when(
            F.pmod(F.xxhash64("doc_id"), F.lit(5)) < 2, F.lit("HOT")
        ).otherwise(F.col("doc_id")),
    )
    out2 = str(tmp_path_factory.mktemp("run_autosalt_hot"))
    run_validation(
        spark, hot, catalog, out2, run_id="as1", epoch=0,
        spec={"uniqueness": {"auto_salt": True}},
    )
    # the hot key is a duplicate everywhere — every partition holding it fails
    v2 = read_verdicts(spark, out2, "as1")
    hot_fails = {r.partition_id for r in v2.collect()
                 if r.constraint == "uniqueness" and not r.passed}
    assert len(hot_fails) == 8  # HOT appears in every partition

    # a fully resumed re-invocation with the knob set runs no batch
    out3 = str(tmp_path_factory.mktemp("run_static"))
    run_validation(spark, docs0, catalog, out3, run_id="as2", epoch=0)
    env_resumed = run_validation(
        spark, docs0, catalog, out3, run_id="as2", epoch=0,
        spec={"uniqueness": {"auto_salt": True}},
    )
    assert env_resumed["run"]["batches_executed"] == 0


@pytest.mark.parametrize(
    "spec, named",
    [
        ({"uniqueness": {"salt_bucket": 16}}, "'salt_bucket'.*valid keys: \\['key', 'salt_buckets'\\]"),
        ({"uniquness": {"key": "doc_id"}}, "'uniquness'.*valid sections"),
    ],
    ids=["key", "section"],
)
def test_unknown_spec_key_or_section_is_refused_before_any_write(
    spark, docs0, catalog, tmp_path, spec, named
):
    """A misspelt spec key or section raises a ValueError naming it and
    what is valid, before the run writes anything under out_dir."""
    out = tmp_path / "out"
    with pytest.raises(ValueError, match=named):
        run_validation(spark, docs0, catalog, str(out), run_id="strict", spec=spec)
    assert not out.exists() or not any(out.iterdir())


def test_docs_validated_counts_each_partition_across_a_resume(spark, docs0, catalog, tmp_path):
    """Each commit record's docs_validated is its partition's row count,
    summed over the partition's epoch groups, for the batch an
    interrupted run committed and for the batch its resume committed."""
    docs = docs0.withColumn("epoch", F.pmod(F.hash("doc_id"), F.lit(2)).cast("int"))
    assert {r.epoch for r in docs.select("epoch").distinct().collect()} == {0, 1}
    want = {r.partition_id: r["count"] for r in docs.groupBy("partition_id").count().collect()}

    out = str(tmp_path / "out")
    run_validation(spark, docs, catalog, out, run_id="dv", partition_batches=2, fail_after_batches=1)
    first = [p for c in M.read_commits(spark, out, "dv") for p in c["partitions"]]
    assert 0 < len(first) < len(want)
    run_validation(spark, docs, catalog, out, run_id="dv", partition_batches=2)
    got = {p["partition_id"]: p["docs_validated"] for c in M.read_commits(spark, out, "dv") for p in c["partitions"]}
    assert got == want


def test_snapshot_durable_before_outputs_and_resume_reuses_id(
    spark, docs0, catalog, tmp_path_factory
):
    """Write-ahead invariant (review r5 #1): by the time ANY
    snapshot_id-keyed output row is on disk, the snapshot store row must
    be durable — otherwise a crash in that window makes the resumed run
    mint a fresh snapshot_id and the old profile dirs are orphaned
    forever. crash_after_write stops exactly between the batch writes
    and the manifest commit, the worst point of that window."""
    from schema_drift_detector_spark.plans import store

    out = str(tmp_path_factory.mktemp("run_wa"))
    run_validation(
        spark, docs0, catalog, out, run_id="wa", epoch=0,
        partition_batches=4, fail_after_batches=1, crash_after_write=True,
    )
    # outputs exist for the crashed batch...
    import os
    assert os.path.isdir(f"{out}/profiles")
    # ...and the snapshot row is ALREADY durable
    snaps = store.read_snapshots(spark, f"{out}/store")
    assert len(snaps) == 1
    sid = snaps[0]["snapshot_id"]
    # resume reuses that id: no second snapshot row, and every profile
    # dir on disk is keyed by the one snapshot_id
    run_validation(
        spark, docs0, catalog, out, run_id="wa", epoch=0, partition_batches=4
    )
    snaps2 = store.read_snapshots(spark, f"{out}/store")
    assert [s["snapshot_id"] for s in snaps2] == [sid]
    run_dir = f"{out}/profiles/run_id=wa"
    sid_dirs = {d for d in os.listdir(run_dir) if d.startswith("snapshot_id=")}
    assert sid_dirs == {f"snapshot_id={sid}"}
    # the written layout is the one FIXTURES.md F5 documents
    assert set(spark.read.parquet(f"{out}/profiles").columns) == {
        "run_id", "snapshot_id", "partition_id", "entity", "epoch", "column",
        "ordinal", "dtype", "nullable", "n_rows", "null_ratio", "min_val",
        "max_val", "approx_distinct", "hll_sketch",
    }
    assert set(spark.read.parquet(f"{out}/span_profiles").columns) == {
        "run_id", "partition_id", "epoch", "n_spans", "n_text_null", "n_text",
        "text_null_ratio", "offset_min", "offset_max",
        "approx_distinct_media_ref", "media_ref_hll", "kind_histogram",
    }


def _verdict_rows(spark, out, run_id):
    """The run's verdicts as sorted ((constraint, partition_id), (passed,
    summary)) pairs; a duplicated row shows up as a repeated key."""
    return sorted(
        ((r.constraint, r.partition_id), (r.passed, r.summary))
        for r in read_verdicts(spark, out, run_id).collect()
    )


def _violation_counts(spark, out, run_id):
    return {
        (r.constraint, r.partition_id): r["count"]
        for r in read_violations(spark, out, run_id)
        .groupBy("constraint", "partition_id").count().collect()
    }


@pytest.fixture(scope="module")
def uninterrupted(spark, docs0, catalog, tmp_path_factory):
    """Verdict rows and violation counts of one uninterrupted run over docs0."""
    out = str(tmp_path_factory.mktemp("run_uninterrupted"))
    run_validation(spark, docs0, catalog, out, run_id="un", epoch=0)
    return _verdict_rows(spark, out, "un"), _violation_counts(spark, out, "un")


def test_crash_after_snapshot_before_any_output(spark, docs0, catalog, uninterrupted, tmp_path_factory):
    """A crash after the snapshot record is durable and before the first
    batch leaves that record and nothing else. The resume reuses the
    record as written and validates every partition."""
    out = str(tmp_path_factory.mktemp("run_snap_only"))
    run_validation(
        spark, docs0, catalog, out, run_id="so", epoch=0,
        partition_batches=2, fail_after_batches=0,
    )
    snaps = store.read_snapshots(spark, f"{out}/store")
    assert [s["source_path"] for s in snaps] == ["so"]
    assert M.read_commits(spark, out, "so") == []
    assert not os.path.exists(f"{out}/verdicts")

    env = run_validation(spark, docs0, catalog, out, run_id="so", epoch=0, partition_batches=2)
    assert env["run"]["partitions_pending_before"] == list(range(8))
    # one record for the run, neither rewritten nor joined by a second
    assert store.read_snapshots(spark, f"{out}/store") == snaps
    rows = _verdict_rows(spark, out, "so")
    assert len(rows) == len({k for k, _ in rows}) == 16
    assert rows == uninterrupted[0]


def test_commit_temp_file_before_rename_is_rerun(spark, docs0, catalog, uninterrupted, tmp_path_factory):
    """A crash between a commit record's temp write and its rename leaves
    a hidden ``.<name>.<hex>.tmp`` file that claims the batch's
    partitions as done. It is not a commit: the resume re-runs exactly
    those partitions and ends where an uninterrupted run ends."""
    out = str(tmp_path_factory.mktemp("run_tmp_commit"))
    run_validation(
        spark, docs0, catalog, out, run_id="tc", epoch=0,
        partition_batches=2, fail_after_batches=1,
    )
    pending = M.pending_partitions(spark, docs0.select("partition_id"), out, "tc")
    assert len(pending) == 4
    (done,) = M.read_commits(spark, out, "tc")
    claim = {**done, "partitions": [{**done["partitions"][0], "partition_id": p} for p in pending]}
    tmp = f"{M.run_path(out, 'tc')}/.{records.unique_name()}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        json.dump(claim, f)

    env = run_validation(spark, docs0, catalog, out, run_id="tc", epoch=0, partition_batches=2)
    assert env["run"]["partitions_pending_before"] == pending
    assert _verdict_rows(spark, out, "tc") == uninterrupted[0]
    assert _violation_counts(spark, out, "tc") == uninterrupted[1]
    assert M.pending_partitions(spark, docs0.select("partition_id"), out, "tc") == []


def _parquet_docs(spark, docs0, path):
    """docs0 as a parquet table partitioned on partition_id, read back."""
    docs0.write.partitionBy("partition_id").parquet(path)
    return spark.read.parquet(path)


def test_committed_retry_over_parquet_runs_no_spark_job(spark, docs0, catalog, tmp_path):
    """A retry of a fully committed run over file-backed input touches
    only driver-side records: the snapshot store, the schema diff and
    the commit log (with the universe recorded at the first commit)."""
    docs = _parquet_docs(spark, docs0, str(tmp_path / "docs"))
    out = str(tmp_path / "out")
    first = run_validation(spark, docs, catalog, out, run_id="zj", epoch=0)
    sc = spark.sparkContext._jsc.sc()

    def job_ids():
        sc.listenerBus().waitUntilEmpty(60_000)
        jobs = sc.statusStore().jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    before = job_ids()
    retry = run_validation(spark, docs, catalog, out, run_id="zj", epoch=0)
    assert job_ids() - before == set()
    assert retry["run"]["partitions_pending_before"] == []
    assert retry["decision"] == first["decision"]
    assert retry["details"]["drift"] == first["details"]["drift"]


def test_resume_over_rewritten_input_is_refused(spark, docs0, catalog, tmp_path):
    """The run's first commit records its input fingerprint; a resume
    after one input partition was rewritten must fail naming the run
    instead of mixing verdicts over two inputs."""
    from schema_drift_detector_spark.sources.io import input_fingerprint

    path = str(tmp_path / "docs")
    docs = _parquet_docs(spark, docs0, path)
    out = str(tmp_path / "out")
    run_validation(
        spark, docs, catalog, out, run_id="fp", epoch=0,
        partition_batches=2, fail_after_batches=1,
    )
    assert M.pending_partitions(spark, docs.select("partition_id"), out, "fp") != []
    # re-reading the unchanged table gives the same fingerprint
    assert input_fingerprint(spark.read.parquet(path)) == input_fingerprint(docs)
    assert input_fingerprint(docs0) is None  # generated rows: nothing to fingerprint

    # rewrite partition 3 with one document fewer
    part = f"{path}/partition_id=3"
    kept = spark.read.parquet(part).limit(CFG.n_docs // 8 - 1).collect()
    spark.createDataFrame(kept, spark.read.parquet(part).schema).write.mode("overwrite").parquet(part)
    with pytest.raises(RuntimeError, match="run_id 'fp' cannot resume: its input changed"):
        run_validation(
            spark, spark.read.parquet(path), catalog, out, run_id="fp", epoch=0,
            partition_batches=2,
        )


def test_legacy_parquet_store_or_manifest_fails_loudly(spark, docs0, catalog, tmp_path):
    """An out_dir holding the old parquet manifest or snapshot store
    fails before any work, with a migration hint — no second reader."""
    for table in ("manifest", "store/snapshots"):
        out = str(tmp_path / table.replace("/", "_"))
        spark.range(1).write.parquet(f"{out}/{table}")
        with pytest.raises(RuntimeError, match="move it aside"):
            run_validation(spark, docs0, catalog, out, run_id="lg", epoch=0)
        assert not os.path.exists(f"{out}/verdicts")


def test_run_validation_plans_run_no_python(spark, tmp_path):
    """Every SQL execution a run_validation call starts is a native plan:
    no Python UDF, pandas/Arrow map or grouped-pandas node, with the
    resume_batched spec (auto_salt, bloom_catalog) and all three drift
    baselines. Inputs are staged as parquet so the generator's
    mapInPandas is not in the plans."""
    import re

    from schema_drift_detector_spark.plans.run import (
        DEFAULT_SPEC,
        baseline_kind_counts,
        baseline_tdigest,
    )

    cfg = SynthConfig(n_docs=1_600, n_partitions=8, n_assets=2_000)
    for name, df in (
        ("e0", synth_documents(spark, cfg, epoch=0)),
        ("e2", synth_documents(spark, cfg, epoch=2)),
        ("catalog", synth_asset_catalog(spark, cfg)),
    ):
        df.write.parquet(str(tmp_path / name))
    e0, e2, cat = (spark.read.parquet(str(tmp_path / n)) for n in ("e0", "e2", "catalog"))
    baselines = dict(
        baseline_hist=baseline_histogram(e0, DEFAULT_SPEC),
        baseline_td=baseline_tdigest(e0),
        baseline_kinds=baseline_kind_counts(e0),
    )
    sc = spark.sparkContext._jsc.sc()
    sql_store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        sc.listenerBus().waitUntilEmpty(60_000)
        ex = sql_store.executionsList()
        return {ex.apply(i).executionId(): ex.apply(i) for i in range(ex.size())}

    before = set(executions())
    run_validation(
        spark, e2, cat, str(tmp_path / "out"), run_id="np", epoch=2, partition_batches=2,
        spec={"uniqueness": {"auto_salt": True}, "referential_integrity": {"bloom_catalog": True}},
        **baselines,
    )
    started = {i: e for i, e in executions().items() if i not in before}
    assert started
    python_nodes = re.compile(
        r"ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas"
    )
    for i, e in started.items():
        plan = e.physicalPlanDescription()
        assert not python_nodes.search(plan), (i, e.description(), plan)


def test_resume_keeps_the_previous_snapshot_it_recorded(spark, catalog, tmp_path):
    """Run A is interrupted, run B persists a newer snapshot of the same
    entity, then A resumes. The resume diffs against the previous
    snapshot A recorded when it started (X's), not against B's: the
    envelope and the lineage of every A commit are as before B."""
    cfg = SynthConfig(n_docs=800, n_partitions=4, n_assets=4_000, seed=7)
    e0, e1, e2 = (synth_documents(spark, cfg, epoch=e) for e in (0, 1, 2))
    out = str(tmp_path / "out")
    env_x = run_validation(spark, e0, catalog, out, run_id="X", epoch=0)
    x_id = env_x["details"]["snapshot_ids"]["snapshot_id"]

    env_a = run_validation(
        spark, e1, catalog, out, run_id="A", epoch=1, partition_batches=2, fail_after_batches=1
    )
    assert env_a["details"]["snapshot_ids"]["previous_snapshot_id"] == x_id
    assert env_a["details"]["drift"]["drift_report"]["summary"] == "add country (low)"
    run_validation(spark, e2, catalog, out, run_id="B", epoch=2)

    resumed = run_validation(spark, e1, catalog, out, run_id="A", epoch=1, partition_batches=2)
    assert resumed["run"]["batches_executed"] == 2  # the 2 pending partitions, one per batch
    for key in ("snapshot_ids", "drift"):
        assert resumed["details"][key] == env_a["details"][key]
    lineage = [p["lineage"] for c in M.read_commits(spark, out, "A") for p in c["partitions"]]
    assert len(lineage) == 4
    assert {ln["previous_snapshot_id"] for ln in lineage} == {x_id}


def test_null_partition_id_is_refused_before_any_write(spark, catalog, tmp_path):
    """A null partition_id belongs to no batch (FIXTURES F1): the run
    raises a ValueError naming the run and the column before its
    snapshot record is written, so out_dir holds no record."""
    from pyspark.sql import types as T

    from schema_drift_detector_spark.model import SPAN_STRUCT

    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), True),
            T.StructField("spans", T.ArrayType(SPAN_STRUCT), True),
            T.StructField("partition_id", T.IntegerType(), True),
            T.StructField("epoch", T.IntegerType(), False),
        ]
    )
    text = [("text", "hello", None, 0)]
    docs = spark.createDataFrame([("a", text, 0, 0), ("b", text, None, 0)], schema)
    out = str(tmp_path / "out")
    with pytest.raises(ValueError, match="run np0: column partition_id holds a null"):
        run_validation(spark, docs, catalog, out, run_id="np0", epoch=0)
    assert store.read_snapshots(spark, f"{out}/store") == []


@pytest.mark.parametrize("changed", [{"epoch": 1}, {"entity": "other"}], ids=["epoch", "entity"])
def test_resume_with_a_changed_epoch_or_entity_is_refused(spark, catalog, tmp_path, changed):
    """A run_id is one snapshot of one entity and epoch (FIXTURES F5).
    Re-invoking an interrupted run with another epoch or entity raises
    before anything is written, instead of minting a second snapshot
    for the run and skipping the partitions it already committed."""
    cfg = SynthConfig(n_docs=800, n_partitions=4, n_assets=4_000)
    docs = synth_documents(spark, cfg, epoch=0)
    out = str(tmp_path / "out")
    first = dict(run_id="R", entity="documents", epoch=0, partition_batches=2)
    run_validation(spark, docs, catalog, out, fail_after_batches=1, **first)
    snaps = store.read_snapshots(spark, f"{out}/store")
    commits = M.read_commits(spark, out, "R")
    assert len(snaps) == 1 and len(commits) == 1

    with pytest.raises(ValueError, match="run R was started with entity='documents', epoch=0"):
        run_validation(spark, docs, catalog, out, **{**first, **changed})
    assert store.read_snapshots(spark, f"{out}/store") == snaps
    assert M.read_commits(spark, out, "R") == commits
