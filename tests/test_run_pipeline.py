"""End-to-end pipeline: epochs e0→e1→e2, per-partition verdicts,
violations, manifest resume idempotence, policy decisions."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from schema_drift_detector_spark.plans import manifest as M
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
    """A partition present in the drift baseline but absent from the
    current table must still get its fail-closed verdict — the per-batch
    partition filter must not swallow it."""
    from schema_drift_detector_spark.plans.run import baseline_kind_counts

    out = str(tmp_path_factory.mktemp("run_vanish"))
    current = docs0.filter(F.col("partition_id") != 6)  # partition 6 vanishes
    run_validation(
        spark, current, catalog, out, run_id="vz", epoch=1,
        baseline_kinds=baseline_kind_counts(docs0), partition_batches=3,
    )
    cd = {
        r.partition_id: r
        for r in read_verdicts(spark, out, "vz")
        .filter("constraint = 'categorical_drift'")
        .collect()
    }
    assert set(cd) == set(range(8))  # 7 live + the vanished one
    assert cd[6].passed is False
    assert "missing baseline or current data" in cd[6].summary
    assert all(cd[p].passed for p in range(8) if p != 6)


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
    """spec {'referential_integrity': {'bloom_catalog': True}} runs the
    whole pipeline with the bloom-prefiltered RI path (filter built once
    per run, before the batch loop) and produces the same verdicts as
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


def test_auto_salt_decision_in_pipeline(spark, docs0, catalog, tmp_path_factory):
    """r3 verdict #2: spec {'uniqueness': {'auto_salt': True}} closes
    the loop from heavy_hitters to the salt_buckets knob inside
    run_validation. On synth docs (no hot doc_id — the injected dups are
    a few 2x keys, far under phi) the decision SKIPS the salt
    (buckets == 1, one-phase aggregation); on a 40%-hot-key table it
    sizes the salt from the measured share (ceil(0.4·P) with P=8 test
    shuffle partitions → 4). Verdicts must match the static-salt run in
    both cases."""
    out = str(tmp_path_factory.mktemp("run_autosalt"))
    env = run_validation(
        spark, docs0, catalog, out, run_id="as0", epoch=0,
        spec={"uniqueness": {"auto_salt": True}},
    )
    assert env["run"]["uniqueness_salt_buckets"] == 1
    v = read_verdicts(spark, out, "as0")
    by = {(r.constraint, r.partition_id): r.passed for r in v.collect()}
    assert by[("uniqueness", 2)] is False and by[("uniqueness", 5)] is False
    assert by[("uniqueness", 0)] is True

    # 40% of rows collapse onto one doc_id → the decision fires
    hot = docs0.withColumn(
        "doc_id",
        F.when(
            F.pmod(F.xxhash64("doc_id"), F.lit(5)) < 2, F.lit("HOT")
        ).otherwise(F.col("doc_id")),
    )
    out2 = str(tmp_path_factory.mktemp("run_autosalt_hot"))
    env2 = run_validation(
        spark, hot, catalog, out2, run_id="as1", epoch=0,
        spec={"uniqueness": {"auto_salt": True}},
    )
    assert env2["run"]["uniqueness_salt_buckets"] > 1, env2["run"]
    # the hot key is a duplicate everywhere — every partition holding it fails
    v2 = read_verdicts(spark, out2, "as1")
    hot_fails = {r.partition_id for r in v2.collect()
                 if r.constraint == "uniqueness" and not r.passed}
    assert len(hot_fails) == 8  # HOT appears in every partition

    # default (no auto_salt) still reports the static knob
    out3 = str(tmp_path_factory.mktemp("run_static"))
    env3 = run_validation(spark, docs0, catalog, out3, run_id="as2", epoch=0)
    assert env3["run"]["uniqueness_salt_buckets"] == 16

    # fully-resumed re-invocation: no aggregation runs, so no decision
    # is reported (a static 16 here would fake one)
    env_resumed = run_validation(
        spark, docs0, catalog, out3, run_id="as2", epoch=0,
        spec={"uniqueness": {"auto_salt": True}},
    )
    assert env_resumed["run"]["batches_executed"] == 0
    assert env_resumed["run"]["uniqueness_salt_buckets"] is None


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
