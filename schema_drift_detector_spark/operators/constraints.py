"""Declarative constraints → per-partition verdicts + violation rows.

The north_star's "diff/detect" stage generalizing the reference's drift
detection (detector_agent.py) to data constraints:

  - uniqueness on doc_id        (one-phase COUNT with map-side partial
                                 aggregation; a null key is a violation)
  - referential integrity       (media_ref → asset catalog; broadcast or
                                 shuffle-hash anti-join; a null ref on a
                                 non-text span is dangling)
  - distribution drift          (KS statistic + chi-square between epoch
                                 histograms — computed IN Spark on
                                 long-format histogram rows, so millions
                                 of (partition, column) pairs evaluate in
                                 one job; no driver-side loops)
  - quantile drift              (KS statistic between per-partition KLL
                                 sketches, read from a fixed rank grid
                                 with Catalyst array functions)
  - categorical drift           (chi-square between span-kind counts)

Violation rows carry the span-sequence evidence columns
(doc_id, kind, text, media_ref, span_order) required by the
BASELINE.json input_hint per-row invariant.

Verdict severity vocabulary matches the reference's lattice
(detector_agent.py:571-587): constraint failures are 'high' per
partition; pass is 'info'.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _verdict(df: DataFrame, run_id: str, constraint: str) -> DataFrame:
    """Shape per-partition aggregates into the VERDICT_SCHEMA columns."""
    for c in ("epoch", "partition_id"):
        if c not in df.columns:
            df = df.withColumn(c, F.lit(None).cast("int"))
    return df.select(
        F.lit(run_id).alias("run_id"),
        F.col("epoch").cast("int").alias("epoch"),
        F.col("partition_id").cast("int").alias("partition_id"),
        F.lit(constraint).alias("constraint"),
        F.col("passed"),
        F.when(F.col("passed"), F.lit("info")).otherwise(F.lit("high")).alias("severity"),
        F.col("summary"),
        F.col("metrics"),
    )


# --------------------------------------------------------------------------
# Uniqueness
# --------------------------------------------------------------------------

def duplicate_keys(
    df: DataFrame,
    key: str = "doc_id",
    salt_buckets: int = 1,
) -> DataFrame:
    """Non-null keys occurring more than once. Null keys are left out: a
    null is not an identifier, and check_uniqueness flags null-key rows
    on their own.

    The default is a one-phase groupBy(key).count(). Its map-side
    partial aggregation sends at most one row per key per map task, so
    even a hot key reaches its reducer as a handful of partial counts.

    salt_buckets > 1 selects a salted two-phase aggregation. The salt
    must split IDENTICAL keys, so it derives from physical position
    (spark_partition_id), not the key: a key is first counted per
    (key, salt) across `salt_buckets` reducers, then the partial counts
    are summed in a second aggregation.
    """
    df = df.filter(F.col(key).isNotNull())
    if salt_buckets <= 1:
        return (
            df.groupBy(key)
            .agg(F.count(F.lit(1)).alias("n_occurrences"))
            .filter(F.col("n_occurrences") > 1)
        )
    salted = df.select(
        F.col(key),
        F.pmod(F.spark_partition_id() + F.crc32(F.col(key).cast("string")), F.lit(salt_buckets)).alias(
            "__salt"
        ),
    )
    partial = salted.groupBy(key, "__salt").agg(F.count(F.lit(1)).alias("__c"))
    total = partial.groupBy(key).agg(F.sum("__c").alias("n_occurrences"))
    return total.filter(F.col("n_occurrences") > 1)


def check_uniqueness(
    docs: DataFrame,
    run_id: str,
    key: str = "doc_id",
    group_cols: Sequence[str] = ("epoch", "partition_id"),
    salt_buckets: int = 1,
    dups: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """→ (verdicts, violations). A partition fails iff it contains a row
    whose key is null or globally duplicated: a null key is not an
    identifier. Violation rows carry the first span's sequence evidence
    for each such doc.

    "Globally" means over ``docs`` — when validating a subset (e.g. one
    batch of partitions), pass ``dups`` precomputed over the FULL table
    (duplicate_keys(full_docs)) so cross-subset duplicates are still
    detected; otherwise the verdict scope silently shrinks to the
    subset."""
    group_cols = [c for c in group_cols if c in docs.columns]
    # dup keys are a tiny fraction of the table → cache the aggregate so
    # the verdict and violation actions don't re-shuffle all keys twice,
    # and broadcast it back against the table
    if dups is None:
        dups = duplicate_keys(docs, key, salt_buckets).cache()
    else:
        dups = dups.select(key, "n_occurrences")
    flagged = docs.join(F.broadcast(dups), on=key, how="left")
    is_dup = F.col("n_occurrences").isNotNull()
    is_null = F.col(key).isNull()

    violations = flagged.filter(is_dup | is_null).select(
        F.lit(run_id).alias("run_id"),
        F.col("epoch").cast("int").alias("epoch"),
        F.col("partition_id").cast("int").alias("partition_id"),
        F.lit("uniqueness").alias("constraint"),
        F.col(key).cast("string").alias("doc_id"),
        F.element_at("spans", 1)["kind"].alias("kind"),
        F.element_at("spans", 1)["text"].alias("text"),
        F.element_at("spans", 1)["media_ref"].alias("media_ref"),
        F.lit(0).alias("span_order"),
    )

    passed = (F.col("n_dup_rows") == 0) & (F.col("n_null_keys") == 0)
    per_part = (
        flagged.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_if(is_dup).alias("n_dup_rows"),
            F.count_distinct(F.when(is_dup, F.col(key))).alias("n_dup_keys"),
            F.count_if(is_null).alias("n_null_keys"),
        )
        .select(
            *group_cols,
            passed.alias("passed"),
            F.when(passed, F.lit("uniqueness ok"))
            .otherwise(
                F.format_string(
                    "%d duplicate rows across %d keys, %d null keys",
                    F.col("n_dup_rows"),
                    F.col("n_dup_keys"),
                    F.col("n_null_keys"),
                )
            )
            .alias("summary"),
            F.to_json(
                F.struct(
                    F.col("n_rows"), F.col("n_dup_rows"), F.col("n_dup_keys"), F.col("n_null_keys")
                )
            ).alias("metrics"),
        )
    )
    return _verdict(per_part, run_id, "uniqueness"), violations


# --------------------------------------------------------------------------
# Referential integrity
# --------------------------------------------------------------------------

def check_referential_integrity(
    docs: DataFrame,
    catalog: DataFrame,
    run_id: str,
    group_cols: Sequence[str] = ("epoch", "partition_id"),
    broadcast_catalog: bool | None = None,
    bloom_catalog: bool = False,
    bloom_bits_per_key: int = 10,
    bloom_expected_items: int | None = None,
    bloom_max_bytes: int | None = None,  # raise the driver/broadcast ceiling
    bloom: object | None = None,  # probe callable or (bitmap, m_bits, k)
) -> tuple[DataFrame, DataFrame]:
    """media_ref of every non-text span must exist in the asset catalog.

    Join strategies (north_star), by catalog size:
      broadcast_catalog=True    dimension fits in executor memory —
                                explicit F.broadcast. (The default for
                                the plain path.)
      broadcast_catalog=False   AQE picks shuffle-hash vs sort-merge.
      bloom_catalog=True        HUGE catalog (too big to broadcast) vs
                                10^12 refs: build a Bloom filter over
                                the catalog keys once (no false
                                negatives — see functions/bloom.py), so
                                might_contain=False refs are EXACTLY
                                dangling with no join at all; only the
                                ~(danglers + fpp·|refs|) "maybe" rows
                                reach the exact join. The result is
                                bit-identical to the plain join — the
                                fpp only sizes the residual join input.
                                In this mode the residual join defaults
                                to NON-broadcast (the catalog is huge by
                                premise); pass broadcast_catalog=True to
                                override. run_validation does not use
                                this mode: on valid refs the filter
                                passes nearly every row, so the exact
                                join sees them all anyway.

    ``bloom`` accepts a prebuilt probe — either the column function from
    functions.bloom.bloom_probe_for/might_contain_udf (ONE broadcast
    reused across calls) or a raw (bitmap, m_bits, k) tuple
    (re-broadcast per call).

    Kind-conditional nullability per FIXTURES F1: a null media_ref on a
    text span is NOT a violation, and a null media_ref on a span of any
    other (non-null) kind is dangling. Every partition of ``docs`` gets
    a verdict, also one with no refs (n_refs = 0, passed).
    """
    group_cols = [c for c in group_cols if c in docs.columns]
    # posexplode_outer keeps docs with no spans, so every partition
    # present reaches the counts; their padding row (null span) is no ref
    spans = docs.select(
        *group_cols,
        F.col("doc_id"),
        F.posexplode_outer("spans").alias("span_order", "s"),
    ).select(
        *group_cols,
        "doc_id",
        "span_order",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )
    is_ref = F.col("media_ref").isNotNull() | (F.col("kind") != "text")
    refs = spans.filter(is_ref)
    if bloom_catalog:
        from ..functions.bloom import bloom_probe_for, might_contain_udf

        if bloom is None:
            mc = bloom_probe_for(
                docs.sparkSession,
                catalog,
                "media_ref",
                bloom_bits_per_key,
                bloom_expected_items,
                bloom_max_bytes,
            )
        elif callable(bloom):
            mc = bloom  # prebuilt probe — broadcast already live
        else:
            mc = might_contain_udf(docs.sparkSession, *bloom)
        # a null ref is dangling without a probe
        tagged = refs.filter(F.col("media_ref").isNotNull()).withColumn("__maybe", mc("media_ref"))
        residual = tagged.filter(F.col("__maybe")).drop("__maybe")
        definite = tagged.filter(~F.col("__maybe")).drop("__maybe").unionByName(
            refs.filter(F.col("media_ref").isNull())
        )
        # an anti-join is insensitive to duplicate right-side rows, so
        # distinct only pays off when shrinking an explicit broadcast
        if broadcast_catalog is True:
            join_cat = F.broadcast(catalog.select("media_ref").distinct())
        else:  # huge catalog by premise — never implicitly broadcast
            join_cat = catalog.select("media_ref")
        # lazy localCheckpoint: this union references the probed scan
        # TWICE (Spark does not dedupe common subplans) and BOTH outputs
        # (violations, verdict counts) aggregate it — uncached, the full
        # refs scan + probe UDF would run 4x per materialization. A
        # DataFrame.persist would register a CacheManager entry nothing
        # here could ever unpersist (the function returns lazy frames);
        # localCheckpoint caches at the RDD level, which ContextCleaner
        # reclaims once the returned frames are garbage collected. The
        # materialized frame is dangler-sized (danglers + fpp·refs).
        dangling = definite.unionByName(
            residual.join(join_cat, "media_ref", "left_anti")
        ).localCheckpoint(eager=False)
    else:
        cat = catalog.select("media_ref").distinct()
        if broadcast_catalog is not False:  # plain-path default: broadcast
            cat = F.broadcast(cat)
        # a null ref matches no catalog row, so the anti-join keeps it
        dangling = refs.join(cat, on="media_ref", how="left_anti")

    violations = dangling.select(
        F.lit(run_id).alias("run_id"),
        F.col("epoch").cast("int").alias("epoch"),
        F.col("partition_id").cast("int").alias("partition_id"),
        F.lit("referential_integrity").alias("constraint"),
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("kind"),
        F.col("text"),
        F.col("media_ref"),
        F.col("span_order").cast("int").alias("span_order"),
    )

    if bloom_catalog:
        # n_refs from one spans aggregation; n_dangling from the (tiny)
        # dangling set — no full refs⋈catalog join anywhere
        n_refs = spans.groupBy(*group_cols).agg(F.count_if(is_ref).alias("n_refs"))
        n_dang = dangling.groupBy(*group_cols).agg(
            F.count(F.lit(1)).alias("n_dangling")
        )
        counts = n_refs.join(n_dang, list(group_cols), "left").fillna(
            0, subset=["n_dangling"]
        )
    else:
        # one pass over the spans: conditional counts over a left join
        # flag (a non-ref span has a null ref and matches nothing)
        flagged = spans.join(
            cat.withColumn("__ok", F.lit(1)), on="media_ref", how="left"
        )
        counts = flagged.groupBy(*group_cols).agg(
            F.count_if(is_ref).alias("n_refs"),
            F.count_if(is_ref & F.col("__ok").isNull()).alias("n_dangling"),
        )
    per_part = (
        counts
        .select(
            *group_cols,
            (F.col("n_dangling") == 0).alias("passed"),
            F.when(F.col("n_dangling") == 0, F.lit("referential integrity ok"))
            .otherwise(
                F.format_string(
                    "%d dangling media_refs of %d", F.col("n_dangling"), F.col("n_refs")
                )
            )
            .alias("summary"),
            F.to_json(F.struct(F.col("n_refs"), F.col("n_dangling"))).alias("metrics"),
        )
    )
    return _verdict(per_part, run_id, "referential_integrity"), violations


# --------------------------------------------------------------------------
# Distribution drift (KS + chi-square on histogram sketches)
# --------------------------------------------------------------------------

def _chi2_term() -> Column:
    """One bin's term of the two-sample chi-square of homogeneity between
    counts b_cnt, c_cnt with side totals b_tot, c_tot:
    (b·N_c − c·N_b)² / (N_b·N_c·(b+c)). Doubles, so the products cannot
    overflow a long. try_divide makes a bin empty on both sides, or any
    bin of a one-sided group (zero total), null, and the sum skips it."""
    b, c = F.col("b_cnt").cast("double"), F.col("c_cnt").cast("double")
    nb, nc = F.col("b_tot").cast("double"), F.col("c_tot").cast("double")
    return F.try_divide(F.pow(b * nc - c * nb, 2), nb * nc * (b + c))


def drift_statistics(
    base_hist: DataFrame,
    curr_hist: DataFrame,
    keys: Sequence[str] = ("partition_id",),
) -> DataFrame:
    """KS statistic + chi-square between two long-format histograms.

    Inputs: rows (keys..., bin, bin_count) with IDENTICAL bin edges
    (numeric_histogram with baseline-epoch bounds). Entirely DataFrame
    ops — a full-outer join on (keys, bin), window cumulative sums for
    the empirical CDFs, one aggregation for the statistics — so the
    check scales to arbitrarily many key groups in one job.

    chi2 is the two-sample chi-square of homogeneity (_chi2_term): both
    sides are samples, so a sparse baseline bin is not taken as the
    true distribution.
    """
    keys = list(keys)
    b = base_hist.groupBy(*keys, "bin").agg(F.sum("bin_count").alias("b_cnt"))
    c = curr_hist.groupBy(*keys, "bin").agg(F.sum("bin_count").alias("c_cnt"))
    j = b.join(c, on=keys + ["bin"], how="full_outer").fillna(
        0, subset=["b_cnt", "c_cnt"]
    )
    wt = Window.partitionBy(*keys)
    worder = wt.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    # try_divide: a one-sided group (zero total) yields null stats instead
    # of an ANSI divide-by-zero error; the verdict layer fails it closed
    j = (
        j.withColumn("b_tot", F.sum("b_cnt").over(wt))
        .withColumn("c_tot", F.sum("c_cnt").over(wt))
        .withColumn("b_cdf", F.try_divide(F.sum("b_cnt").over(worder), F.col("b_tot")))
        .withColumn("c_cdf", F.try_divide(F.sum("c_cnt").over(worder), F.col("c_tot")))
    )
    return j.groupBy(*keys).agg(
        F.max(F.abs(F.col("b_cdf") - F.col("c_cdf"))).alias("ks_stat"),
        F.sum(_chi2_term()).alias("chi2_stat"),
        F.first("b_tot").alias("n_base"),
        F.first("c_tot").alias("n_curr"),
        F.count(F.lit(1)).alias("n_bins"),
    )


def categorical_drift_statistics(
    base: DataFrame,
    curr: DataFrame,
    keys: Sequence[str] = ("partition_id",),
    category: str = "category",
    count: str = "cnt",
) -> DataFrame:
    """Chi-square between two categorical count tables (e.g. the span
    kind_histogram exploded to long form). KS is meaningless for
    unordered categories, so only chi2 is emitted. Same full-outer-join
    + aggregate shape as drift_statistics — one job for all key groups."""
    keys = list(keys)
    b = base.groupBy(*keys, category).agg(F.sum(count).alias("b_cnt"))
    c = curr.groupBy(*keys, category).agg(F.sum(count).alias("c_cnt"))
    j = b.join(c, on=keys + [category], how="full_outer").fillna(0, subset=["b_cnt", "c_cnt"])
    wt = Window.partitionBy(*keys)
    # try_divide: see drift_statistics — null stats on one-sided groups,
    # failed closed by the verdict layer
    j = j.withColumn("b_tot", F.sum("b_cnt").over(wt)).withColumn("c_tot", F.sum("c_cnt").over(wt))
    return j.groupBy(*keys).agg(
        F.sum(_chi2_term()).alias("chi2_stat"),
        F.count(F.lit(1)).alias("n_categories"),
        F.first("b_tot").alias("n_base"),
        F.first("c_tot").alias("n_curr"),
    )


def check_categorical_drift(
    base: DataFrame,
    curr: DataFrame,
    run_id: str,
    epoch: int,
    keys: Sequence[str] = ("partition_id",),
    category: str = "category",
    count: str = "cnt",
    chi2_per_category_threshold: float = 10.0,
) -> DataFrame:
    stats = categorical_drift_statistics(base, curr, keys, category, count)
    # a key group present on only one side (new partition without a
    # baseline, or a vanished one) has n_base=0 or n_curr=0 and null
    # chi2 — that IS drift, so fail closed rather than emit a null verdict
    both = (F.col("n_base") > 0) & (F.col("n_curr") > 0)
    per = stats.select(
        *keys,
        F.lit(epoch).alias("epoch"),
        F.when(
            both, (F.col("chi2_stat") / F.col("n_categories")) <= chi2_per_category_threshold
        ).otherwise(F.lit(False)).alias("passed"),
        F.when(
            both,
            F.format_string(
                "categorical chi2/cat=%.2f over %d categories",
                F.col("chi2_stat") / F.col("n_categories"),
                F.col("n_categories"),
            ),
        ).otherwise(
            F.format_string(
                "missing baseline or current data (n_base=%d n_curr=%d)",
                F.col("n_base").cast("long"), F.col("n_curr").cast("long"),
            )
        ).alias("summary"),
        F.to_json(
            F.struct(F.col("chi2_stat"), F.col("n_categories"), F.col("n_base"), F.col("n_curr"))
        ).alias("metrics"),
    )
    return _verdict(per, run_id, "categorical_drift")


# KS between two KLL sketches is read off a fixed rank grid: each side's
# quantiles at ranks (i + 0.5)/R stand in for its CDF to within 0.5/R,
# on top of KLL's own rank error (~1.65% at Spark's default k = 200)
_KS_GRID = 100


def check_quantile_drift(
    base_kll: DataFrame,
    curr_kll: DataFrame,
    run_id: str,
    epoch: int,
    keys: Sequence[str] = ("partition_id",),
    ks_threshold: float = 0.1,
) -> DataFrame:
    """Distribution drift on KLL sketches (profile.kll_profiles output):
    per key group, the KS distance between the baseline and current
    sketches. Both CDFs are step functions over the _KS_GRID quantiles
    of each side, so their largest gap lies at one of those 2·_KS_GRID
    points; the sup is evaluated there with higher-order array functions.
    The join carries only sketch rows and everything runs in Catalyst."""
    keys = list(keys)
    b = base_kll.select(*keys, F.col("kll").alias("kll_base"), F.col("n").alias("n_base"))
    c = curr_kll.select(*keys, F.col("kll").alias("kll_curr"), F.col("n").alias("n_curr"))
    # full_outer + fail-closed, like the histogram/categorical checks: a
    # key group with a baseline sketch but no current one (vanished
    # partition), or vice versa, or one whose values are all null/NaN on
    # one side IS drift, not a skippable row. The guard also gates the
    # quantile extraction, which raises on an empty sketch
    j = b.join(c, on=keys, how="full_outer").fillna(0, subset=["n_base", "n_curr"])
    both = (F.col("n_base") > 0) & (F.col("n_curr") > 0)
    ranks = F.array(*[F.lit((i + 0.5) / _KS_GRID) for i in range(_KS_GRID)])
    q_base = F.when(both, F.kll_sketch_get_quantile_double("kll_base", ranks))
    q_curr = F.when(both, F.kll_sketch_get_quantile_double("kll_curr", ranks))
    j = j.select(*keys, "n_base", "n_curr", q_base.alias("q_base"), q_curr.alias("q_curr"))

    def at_or_below(q: str, x):
        return F.size(F.filter(F.col(q), lambda y: y <= x))

    ks = F.array_max(
        F.transform(
            F.concat("q_base", "q_curr"),
            lambda x: F.abs(at_or_below("q_base", x) - at_or_below("q_curr", x)),
        )
    ) / F.lit(float(_KS_GRID))
    per = j.withColumn("ks_stat", ks).select(
        *keys,
        F.lit(epoch).alias("epoch"),
        F.when(both, F.col("ks_stat") <= ks_threshold).otherwise(F.lit(False)).alias("passed"),
        F.when(
            both,
            F.format_string(
                "kll ks=%.4f (n_base=%d n_curr=%d)",
                F.col("ks_stat"),
                F.col("n_base"),
                F.col("n_curr"),
            ),
        ).otherwise(
            F.format_string(
                "missing baseline or current digest (n_base=%d n_curr=%d)",
                F.col("n_base"),
                F.col("n_curr"),
            )
        ).alias("summary"),
        F.to_json(F.struct(F.col("ks_stat"), F.col("n_base"), F.col("n_curr"))).alias("metrics"),
    )
    return _verdict(per, run_id, "quantile_drift")


def check_distribution_drift(
    base_hist: DataFrame,
    curr_hist: DataFrame,
    run_id: str,
    epoch: int,
    keys: Sequence[str] = ("partition_id",),
    ks_threshold: float = 0.1,
    chi2_per_bin_threshold: float = 10.0,
) -> DataFrame:
    """→ per-key verdicts. Fails when KS > ks_threshold OR the mean
    per-bin chi-square exceeds chi2_per_bin_threshold (threshold form
    keeps the check p-value-free and monotone in drift magnitude;
    thresholds live in the declarative constraint spec ≙ the
    reference's policy nodes)."""
    stats = drift_statistics(base_hist, curr_hist, keys)
    # fail closed on one-sided groups (null ks/chi2 from a zero total):
    # a partition with no baseline — or no current data — is drift, not
    # an unknowable; without this guard the verdict would be null and
    # downstream sinks would record it as neither passed nor failed
    both = (F.col("n_base") > 0) & (F.col("n_curr") > 0)
    per = stats.select(
        *keys,
        F.lit(epoch).alias("epoch"),
        F.when(
            both,
            (F.col("ks_stat") <= ks_threshold)
            & ((F.col("chi2_stat") / F.col("n_bins")) <= chi2_per_bin_threshold),
        ).otherwise(F.lit(False)).alias("passed"),
        F.when(
            both,
            F.format_string(
                "ks=%.4f chi2/bin=%.2f (n_base=%d n_curr=%d)",
                F.col("ks_stat"),
                F.col("chi2_stat") / F.col("n_bins"),
                F.col("n_base").cast("long"),
                F.col("n_curr").cast("long"),
            ),
        ).otherwise(
            F.format_string(
                "missing baseline or current data (n_base=%d n_curr=%d)",
                F.col("n_base").cast("long"), F.col("n_curr").cast("long"),
            )
        ).alias("summary"),
        F.to_json(
            F.struct(
                F.col("ks_stat"), F.col("chi2_stat"), F.col("n_bins"), F.col("n_base"), F.col("n_curr")
            )
        ).alias("metrics"),
    )
    return _verdict(per, run_id, "distribution_drift")
