"""run_validation — the engine's end-to-end driver program.

Replaces the reference's LLM-sequenced crew (crew.py:168-176,
config/tasks.yaml) with a deterministic pipeline:

    identify → profile → persist snapshot → detect (schema diff +
    constraints) → heal → notify → decide

and adds the north_rule requirements the reference lacks: partition-
granular checkpoint/resume and per-partition verdicts.

Scale shape of one run over a 10^12-doc table:
  - ONE scan of the batch's partitions feeds the profile aggregation
    (single shuffle) and constraint checks; partition pruning comes from
    the `partition_id` filter pushed to the source.
  - The snapshot store, schema diff, manifest and policy handle tens of
    rows; they run on the driver over small JSON records under out_dir
    and start no Spark job. A retry of a committed run over file-backed
    input starts none at all.
  - The manifest commit per batch bounds re-work after failure to one
    batch of partitions.
"""

from __future__ import annotations

import time
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import constraints as C
from ..operators.diff import diff_field_lists
from ..operators.profile import (
    numeric_histogram,
    profile_columns,
    profile_spans,
    tdigest_profiles,
)
from ..operators.snapshot import field_list
from ..sources.io import input_fingerprint
from . import manifest as M
from . import policy, records, store

DEFAULT_SPEC: dict[str, Any] = {
    "uniqueness": {"key": "doc_id", "salt_buckets": 16},
    # broadcast_catalog None = per-mode default (plain join: broadcast;
    # bloom mode: NON-broadcast residual). Pinning True here would leak
    # a full-catalog broadcast into bloom runs via the section merge —
    # the exact thing bloom_catalog exists to avoid.
    "referential_integrity": {"broadcast_catalog": None},
    "distribution_drift": {
        "column": "offset",
        "lo": 0.0,
        "hi": 60.0,
        "nbins": 16,
        "ks_threshold": 0.1,
        "chi2_per_bin_threshold": 10.0,
    },
    "quantile_drift": {"ks_threshold": 0.1},
    "categorical_drift": {"chi2_per_category_threshold": 10.0},
    "policy": {"auto_heal": True, "notify_on_breaking": True, "channels": ["email"]},
}


def _offsets_view(docs: DataFrame) -> DataFrame:
    return docs.select("partition_id", F.explode("spans.offset").alias("off"))


def baseline_histogram(docs: DataFrame, spec: dict[str, Any]) -> DataFrame:
    d = spec["distribution_drift"]
    return numeric_histogram(
        _offsets_view(docs), "off", d["lo"], d["hi"], d["nbins"], ["partition_id"]
    )


def baseline_tdigest(docs: DataFrame) -> DataFrame:
    return tdigest_profiles(_offsets_view(docs), "off", ["partition_id"])


def baseline_kind_counts(docs: DataFrame) -> DataFrame:
    """Long-format span-kind counts (partition_id, category, cnt) — the
    baseline side of the categorical-drift chi-square check."""
    return (
        docs.select("partition_id", F.explode("spans.kind").alias("category"))
        .groupBy("partition_id", "category")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _check_layout(spark: SparkSession, out_dir: str) -> None:
    """Fail loud on an out_dir written by an older layout of this engine
    instead of mixing layouts, which leaves the directory unreadable or
    the resume state invisible. There is no reader for the old layouts:
    move the directory aside or point out_dir at a fresh location."""
    legacy = (
        ("profiles/snapshot_id=*", "profiles in the pre-run_id partition layout (snapshot_id=...)"),
        ("store/snapshot{s,_fields}", "a parquet snapshot store (now one JSON record per snapshot)"),
        ("manifest/*.parquet", "a parquet manifest (now JSON commit records per run)"),
    )
    for pattern, what in legacy:
        if records.glob(spark, f"{out_dir}/{pattern}"):
            raise RuntimeError(
                f"{out_dir} holds {what}; move it aside or point out_dir at a "
                f"fresh location — this engine reads only the layout of "
                f"FIXTURES.md F5"
            )


def run_validation(
    spark: SparkSession,
    docs: DataFrame,
    catalog: DataFrame,
    out_dir: str,
    run_id: str | None = None,
    entity: str = "documents",
    epoch: int = 0,
    baseline_hist: DataFrame | None = None,
    baseline_td: DataFrame | None = None,
    baseline_kinds: DataFrame | None = None,
    partition_batches: int = 1,
    spec: dict[str, Any] | None = None,
    fail_after_batches: int | None = None,  # test hook: simulate interruption
    crash_after_write: bool = False,  # test hook: die between writes and commit
) -> dict[str, Any]:
    """Validate one epoch of the documents table. Returns the decision
    envelope plus run bookkeeping. Re-invoking with the same run_id
    resumes at partition granularity.

    When ``docs`` reads files (parquet, Iceberg), the run's first commit
    records an input fingerprint and the partition universe: a resume
    over rewritten input raises, and a matching resume skips the
    ``partition_id`` scan. Input with no files (in-memory or generated
    frames) records no fingerprint; each call rescans its partition ids
    and resumes unchecked."""
    run_id = run_id or str(uuid.uuid4())
    # per-SECTION merge: a partial override like
    # {'distribution_drift': {'ks_threshold': 0.2}} inherits the rest of
    # that section's defaults (lo/hi/nbins) instead of KeyError-ing after
    # the snapshot work already ran
    spec = {
        k: {**DEFAULT_SPEC[k], **v}
        if isinstance(v, dict) and isinstance(DEFAULT_SPEC.get(k), dict)
        else v
        for k, v in {**DEFAULT_SPEC, **(spec or {})}.items()
    }

    _check_layout(spark, out_dir)

    # ---- schema snapshot + drift detection (driver-side records) --------
    # write-ahead order: the snapshot record is durable before any
    # snapshot_id-keyed output (profile dirs) and before any commit; a
    # crash later leaves a record the resumed run finds and reuses, so
    # its output dirs keep one snapshot_id
    store_dir = f"{out_dir}/store"
    fields = field_list(docs.schema)
    snapshot_id, prev_id, needs_persist = store.resolve_snapshot_chain(
        spark, store_dir, entity, epoch, run_id
    )
    if needs_persist:
        store.persist_snapshot(
            spark, store_dir, entity, epoch, fields, source_path=run_id, snapshot_id=snapshot_id
        )
    before = store.fields_of(spark, store_dir, prev_id) if prev_id else []  # first snapshot → all adds
    report = diff_field_lists(before, fields)
    schema_report = {
        "request_id": run_id,
        "drift_detected": report["drift_detected"],
        "drift_report": {k: report[k] for k in ("changes", "summary", "severity")},
        "detected_by": "schema_drift_detector_spark",
    }

    # ---- partition plan with resume ------------------------------------
    # a run over file-backed input records its input fingerprint and
    # partition universe with its first commit; a resume checks the
    # fingerprint and reuses the universe instead of scanning for it
    fingerprint = input_fingerprint(docs)
    universe = M.resume_universe(spark, out_dir, run_id, fingerprint)
    run_input = None
    if universe is None:
        universe = sorted(r.partition_id for r in docs.select("partition_id").distinct().collect())
        if fingerprint is not None:
            run_input = {"fingerprint": fingerprint, "universe": universe}
    pending = M.pending_partitions(spark, universe, out_dir, run_id)
    batches = [
        pending[i :: partition_batches] for i in range(partition_batches)
    ] if partition_batches > 1 else [pending]
    batches = [sorted(b) for b in batches if b]

    # uniqueness scope is the FULL table, not the batch: duplicates of
    # the same doc_id landing in partitions of different batches (or in
    # batches of a previous, interrupted attempt) must still be caught —
    # one key-only scan + salted aggregation for the whole run, reused
    # by every batch via the cached (tiny) dup-key set
    dups = None
    uq_spec = dict(spec["uniqueness"])
    if batches:
        # spec {'uniqueness': {'bucketed': True}} opts into the zero-
        # Exchange one-phase aggregation for tables pre-bucketed on the
        # key (see duplicate_keys); the salt path is the default for
        # arbitrary layouts
        if uq_spec.get("auto_salt") and not uq_spec.get("bucketed"):
            # close the detection→decision loop (r3 verdict #2): measure
            # the hottest key's share ONCE per run (heavy_hitters —
            # metadata-scale shuffles only) and size the salt from it;
            # 1 means no hot key → duplicate_keys skips salting and its
            # second shuffle stage entirely
            from ..operators.skew import choose_salt_buckets

            uq_spec["salt_buckets"] = choose_salt_buckets(
                docs,
                uq_spec.get("key", "doc_id"),
                phi=uq_spec.get("auto_salt_phi", 0.002),
            )
        dups = C.duplicate_keys(
            docs,
            uq_spec.get("key", "doc_id"),
            uq_spec.get("salt_buckets", 16),
            uq_spec.get("bucketed", False),
        ).cache()

    # like dups: the RI bloom filter is a RUN-scoped artifact — build and
    # BROADCAST it once here, not once per batch inside the loop (each
    # build is a catalog scan + a bitmap shuffle; each broadcast pins a
    # bitmap copy until GC)
    ri_spec = dict(spec["referential_integrity"])
    if batches and ri_spec.get("bloom_catalog") and "bloom" not in ri_spec:
        from ..functions.bloom import bloom_probe_for

        ri_spec["bloom"] = bloom_probe_for(
            spark,
            catalog,
            "media_ref",
            ri_spec.get("bloom_bits_per_key", 10),
            ri_spec.get("bloom_expected_items"),
            ri_spec.get("bloom_max_bytes"),
        )

    # partitions present in a drift baseline but ABSENT from the current
    # table "vanished" — that is drift, and the fail-closed verdict the
    # checks emit for them must not be lost to the per-batch partition
    # filter. They belong to no batch, so attach them to the first
    # executed batch (idempotent under resume: the dynamic overwrite
    # rewrites the same (run_id, partition_id) dirs). Metadata-scale
    # collects: one row per baseline partition id.
    def _vanished(baseline: DataFrame | None) -> list[int]:
        if baseline is None or not batches:
            return []
        ids = {int(r.partition_id) for r in baseline.select("partition_id").distinct().collect()}
        return sorted(ids - set(universe))

    vanished_hist = _vanished(baseline_hist)
    vanished_kinds = _vanished(baseline_kinds)
    vanished_td = _vanished(baseline_td)

    executed = 0
    try:
        for batch in batches:
            if fail_after_batches is not None and executed >= fail_after_batches:
                break
            started = time.time()
            batch_ids = [int(p) for p in batch]
            subset = docs.filter(F.col("partition_id").isin(batch_ids))

            # persisted: reused by the profile write AND the docs_validated
            # manifest counts, so the batch is not rescanned for bookkeeping
            profiles = profile_columns(subset, snapshot_id=snapshot_id, entity=entity).persist()
            span_prof = profile_spans(subset)
            # uq_spec, not spec["uniqueness"]: carries the auto_salt
            # decision; the auto_* knobs themselves are run-level and
            # not check_uniqueness parameters
            uq_v, uq_viol = C.check_uniqueness(
                subset,
                run_id,
                dups=dups,
                **{
                    ("assume_bucketed" if k == "bucketed" else k): v
                    for k, v in uq_spec.items()
                    if k not in ("auto_salt", "auto_salt_phi")
                },
            )
            ri_v, ri_viol = C.check_referential_integrity(
                subset, catalog, run_id, **ri_spec
            )
            verdicts = uq_v.unionByName(ri_v)
            violations = uq_viol.unionByName(ri_viol)
            if baseline_hist is not None:
                d = spec["distribution_drift"]
                curr_hist = numeric_histogram(
                    _offsets_view(subset), "off", d["lo"], d["hi"], d["nbins"], ["partition_id"]
                )
                dd_v = C.check_distribution_drift(
                    baseline_hist,
                    curr_hist,
                    run_id,
                    epoch,
                    ks_threshold=d["ks_threshold"],
                    chi2_per_bin_threshold=d["chi2_per_bin_threshold"],
                ).filter(
                    F.col("partition_id").isin(
                        batch_ids + (vanished_hist if executed == 0 else [])
                    )
                )
                verdicts = verdicts.unionByName(dd_v)
            if baseline_td is not None:
                qd_v = C.check_quantile_drift(
                    baseline_td,
                    tdigest_profiles(_offsets_view(subset), "off", ["partition_id"]),
                    run_id,
                    epoch,
                    ks_threshold=spec.get("quantile_drift", {}).get("ks_threshold", 0.1),
                ).filter(
                    F.col("partition_id").isin(
                        batch_ids + (vanished_td if executed == 0 else [])
                    )
                )
                verdicts = verdicts.unionByName(qd_v)
            if baseline_kinds is not None:
                cd_v = C.check_categorical_drift(
                    baseline_kinds,
                    baseline_kind_counts(subset),
                    run_id,
                    epoch,
                    chi2_per_category_threshold=spec.get("categorical_drift", {}).get(
                        "chi2_per_category_threshold", 10.0
                    ),
                ).filter(
                    F.col("partition_id").isin(
                        batch_ids + (vanished_kinds if executed == 0 else [])
                    )
                )
                verdicts = verdicts.unionByName(cd_v)

            # writes first, manifest commit last (write-ahead ordering); the
            # four outputs are independent → submit as concurrent Spark jobs
            # (the scheduler interleaves their stages across the cluster, so
            # per-job fixed costs and scans overlap instead of serializing).
            # Each write is dynamic-partition-OVERWRITE keyed by the stable
            # identity of the rows (run/snapshot + partition_id): a batch
            # whose writes landed but whose manifest commit did not (crash in
            # between) is simply re-written in place on resume — readers
            # never see duplicated verdict/violation/profile rows.
            from concurrent.futures import ThreadPoolExecutor

            targets = [
                # run_id leads the partition key, so a run's dynamic
                # overwrite touches only its own dirs: only a same-run
                # resume overwrites in place, never another run's history.
                (
                    profiles.withColumn("run_id", F.lit(run_id)),
                    f"{out_dir}/profiles",
                    ["run_id", "snapshot_id", "partition_id"],
                ),
                (
                    span_prof.withColumn("run_id", F.lit(run_id)),
                    f"{out_dir}/span_profiles",
                    ["run_id", "partition_id"],
                ),
                (verdicts, f"{out_dir}/verdicts", ["run_id", "partition_id"]),
                (violations, f"{out_dir}/violations", ["run_id", "partition_id"]),
            ]
            prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            write_ok = False
            try:
                with ThreadPoolExecutor(max_workers=len(targets)) as pool:
                    list(
                        pool.map(
                            lambda t: t[0].write.mode("overwrite")
                            .partitionBy(*t[2])
                            .parquet(t[1]),
                            targets,
                        )
                    )
                write_ok = True
            finally:
                if prev_mode is not None:
                    spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
                else:
                    spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
                if not write_ok:
                    # a failed write must not leak the persisted profile
                    # frame into a caller's retry loop
                    profiles.unpersist()

            if (
                crash_after_write
                and fail_after_batches is not None
                and executed == fail_after_batches - 1
            ):
                # simulate a crash AFTER the batch outputs landed but BEFORE
                # the manifest commit: the orphaned rows must be overwritten
                # in place (not duplicated) when the run resumes
                profiles.unpersist()
                break

            # docs_validated from the already-persisted profile rows (n_rows
            # per (epoch, partition) group) — no extra scan of the batch data
            try:
                # count rows of ONE column's profile rows per partition
                # (n_rows repeats identically for every column in a group;
                # summing one column's rows across epoch groups gives the
                # partition's row count). The uniqueness key is the natural
                # single atomic column and is spec-configurable — no
                # hardcoded 'doc_id'.
                uq_key = spec["uniqueness"].get("key", "doc_id")
                counts = {
                    r.partition_id: r.n
                    for r in profiles.filter(F.col("column") == uq_key)
                    .groupBy("partition_id")
                    .agg(F.sum("n_rows").alias("n"))
                    .collect()
                }
            finally:
                profiles.unpersist()
            M.commit_partitions(
                spark,
                out_dir,
                run_id,
                [
                    {
                        "partition_id": p,
                        "docs_validated": counts.get(p, 0),
                        "started_at": started,
                        "metrics": {"batch": executed},
                        "lineage": {
                            "snapshot_id": snapshot_id,
                            "previous_snapshot_id": prev_id,
                            "entity": entity,
                            "epoch": epoch,
                        },
                    }
                    for p in batch
                ],
                run_input=run_input if executed == 0 else None,
            )
            executed += 1
    finally:
        if dups is not None:
            dups.unpersist()

    # ---- policy: heal → notify → decide (driver-side, tiny) ------------
    pol = spec.get("policy", {})
    heal = policy.healing_plan(
        schema_report["drift_detected"],
        schema_report["drift_report"]["changes"],
        request_id=run_id,
        table_name=entity,
    )
    notif = policy.notification(
        schema_report["drift_detected"],
        pol.get("notify_on_breaking", False),
        schema_report["drift_report"]["severity"],
        schema_report["drift_report"]["summary"],
        pol.get("channels"),
        request_id=run_id,
    )
    envelope = policy.decision_envelope(
        run_id,
        schema_report,
        heal,
        pol.get("auto_heal", False),
        snapshot_ids={"snapshot_id": snapshot_id, "previous_snapshot_id": prev_id},
    )
    envelope["notification"] = notif
    envelope["run"] = {
        "run_id": run_id,
        "entity": entity,
        "epoch": epoch,
        "partitions_pending_before": pending,
        "batches_executed": executed,
        "out_dir": out_dir,
        # effective salting decision (auto_salt may have overridden the
        # spec): 1 = unsalted one-phase path; None = no uniqueness
        # aggregation ran this invocation (bucketed layout, or a fully
        # resumed run with nothing pending — reporting the static spec
        # there would fake a decision that was never made)
        "uniqueness_salt_buckets": (
            None
            if uq_spec.get("bucketed") or not batches
            else uq_spec.get("salt_buckets", 16)
        ),
    }
    return envelope


def _read_partitioned(
    spark: SparkSession, path: str, schema, run_id: str | None
) -> DataFrame:
    """Read a (run_id, partition_id)-directory-partitioned output back in
    canonical column order; the run_id filter prunes directories. A run
    that produced zero rows (e.g. no violations on clean data) leaves a
    directory with no parquet footers to infer from → empty typed frame."""
    from pyspark.errors import AnalysisException

    try:
        v = spark.read.parquet(path)
    except AnalysisException:
        # path absent or footer-less (zero-row run) — genuinely empty;
        # any other failure (corrupt files, IO errors) must propagate
        return spark.createDataFrame([], schema)
    if run_id:
        v = v.filter(F.col("run_id") == run_id)
    # directory-partition columns (run_id, partition_id) come back
    # type-inferred from the path — cast EVERY column to its canonical
    # schema type (a numeric-looking run_id would otherwise read as int)
    return v.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def read_verdicts(spark: SparkSession, out_dir: str, run_id: str | None = None) -> DataFrame:
    from ..model import VERDICT_SCHEMA

    return _read_partitioned(spark, f"{out_dir}/verdicts", VERDICT_SCHEMA, run_id)


def read_violations(spark: SparkSession, out_dir: str, run_id: str | None = None) -> DataFrame:
    from ..model import VIOLATION_SCHEMA

    return _read_partitioned(spark, f"{out_dir}/violations", VIOLATION_SCHEMA, run_id)
