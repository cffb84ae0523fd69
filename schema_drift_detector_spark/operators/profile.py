"""Per-partition column profiling — the engine's "canonical snapshot".

Reference analog: the crawler's snapshot construction (R8,
csv_crawler_agent.py:270-291) produced name/type/nullable/ordinal per
column. The north_star generalizes that to data-derived per-partition
profiles: null ratio, min/max, distinct count via HyperLogLog sketches,
type/categorical histograms (BASELINE.json north_star).

Scale design:
  - ONE wide groupBy((epoch, partition_id)).agg(...) computes every
    column's statistics in a single shuffle with map-side partial
    aggregation; results are then exploded to long format (one row per
    column) driver-free. No per-column jobs, no collect().
  - Distinct counts use Spark's Apache DataSketches HLL
    (hll_sketch_agg): the serialized sketch is persisted in the profile
    row, so later epochs/partitions merge via hll_union_agg WITHOUT
    rescanning data — the reference's immutable-snapshot chain, but for
    sketches.
  - Quantile sketches for the quantile-drift check (kll_profiles) are
    Spark's DataSketches KLL (kll_sketch_agg_double), merged the same
    way with kll_merge_agg_double.
  - All expressions are built-in Catalyst functions (whole-stage
    codegen); no profile in this module runs a Python worker.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# types hll_sketch_agg accepts natively (DataSketches); everything else
# is cast to string first
_HLL_NATIVE = (T.IntegerType, T.LongType, T.StringType, T.BinaryType)


def _is_atomic(dt: T.DataType) -> bool:
    return not isinstance(dt, (T.ArrayType, T.MapType, T.StructType))


def profile_columns(
    df: DataFrame,
    group_cols: Sequence[str] = ("epoch", "partition_id"),
    snapshot_id: str | None = None,
    entity: str | None = None,
) -> DataFrame:
    """Profile every atomic column of ``df`` per group in one shuffle.

    Returns long-format rows: group_cols..., column, ordinal, dtype,
    nullable, n_rows, null_ratio, min_val, max_val, approx_distinct,
    hll_sketch (mergeable binary), plus snapshot_id/entity when given.
    """
    group_cols = [c for c in group_cols if c in df.columns]
    fields = [
        (i, f)
        for i, f in enumerate(df.schema.fields)
        if f.name not in group_cols and _is_atomic(f.dataType)
    ]
    if not fields:
        # nothing atomic to profile (e.g. only group cols + nested
        # columns) — return an empty, correctly-typed long-format frame
        # instead of letting array()-of-nothing break the star-expand
        out_schema = T.StructType(
            [df.schema[c] for c in group_cols]
            + [
                T.StructField("column", T.StringType()),
                T.StructField("ordinal", T.IntegerType()),
                T.StructField("dtype", T.StringType()),
                T.StructField("nullable", T.BooleanType()),
                T.StructField("n_rows", T.LongType()),
                T.StructField("null_ratio", T.DoubleType()),
                T.StructField("min_val", T.StringType()),
                T.StructField("max_val", T.StringType()),
                T.StructField("approx_distinct", T.LongType()),
                T.StructField("hll_sketch", T.BinaryType()),
            ]
            + ([T.StructField("snapshot_id", T.StringType())] if snapshot_id is not None else [])
            + ([T.StructField("entity", T.StringType())] if entity is not None else [])
        )
        return df.sparkSession.createDataFrame([], out_schema)

    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, f in fields:
        c = F.col(f.name)
        hc = c if isinstance(f.dataType, _HLL_NATIVE) else c.cast("string")
        # approx_distinct derives from the SAME DataSketches HLL that is
        # persisted for later merging (hll_sketch_estimate on the agg
        # result) — the previous separate approx_count_distinct ran a
        # second full distinct-sketch machine per column for a number
        # the persisted sketch already carries (r8, guide §1.2: don't
        # compute things twice). lgk=12 rse ≈ 1.6%, well inside every
        # consumer's tolerance.
        aggs += [
            F.count(c).alias(f"__cnt_{i}"),
            F.min(c).cast("string").alias(f"__min_{i}"),
            F.max(c).cast("string").alias(f"__max_{i}"),
            F.hll_sketch_agg(hc, F.lit(12)).alias(f"__hll_{i}"),
        ]
    wide = df.groupBy(*group_cols).agg(*aggs)

    per_col = [
        F.struct(
            F.lit(f.name).alias("column"),
            F.lit(i).alias("ordinal"),
            F.lit(f.dataType.simpleString()).alias("dtype"),
            F.lit(f.nullable).alias("nullable"),
            F.col("__n").alias("n_rows"),
            F.when(F.col("__n") > 0, 1.0 - F.col(f"__cnt_{i}") / F.col("__n"))
            .otherwise(F.lit(None))
            .alias("null_ratio"),
            F.col(f"__min_{i}").alias("min_val"),
            F.col(f"__max_{i}").alias("max_val"),
            F.hll_sketch_estimate(F.col(f"__hll_{i}")).alias("approx_distinct"),
            F.col(f"__hll_{i}").alias("hll_sketch"),
        )
        for i, f in fields
    ]
    long = wide.select(
        *group_cols, F.explode(F.array(*per_col)).alias("p")
    ).select(*group_cols, "p.*")
    if snapshot_id is not None:
        long = long.withColumn("snapshot_id", F.lit(snapshot_id))
    if entity is not None:
        long = long.withColumn("entity", F.lit(entity))
    return long


def profile_spans(
    docs: DataFrame,
    group_cols: Sequence[str] = ("epoch", "partition_id"),
) -> DataFrame:
    """Span-level profile of the interleaved payload (input_hint shape).

    One explode + one shuffle: per group — span counts, per-kind
    histogram (the reference FieldMeta 'type histogram' analog), text
    null ratio among text spans, offset stats, distinct media refs.
    Catalyst prunes unreferenced span struct fields from the scan.
    """
    group_cols = [c for c in group_cols if c in docs.columns]
    s = docs.select(*group_cols, F.explode("spans").alias("s"))
    # two-level aggregation: per-(group, kind) partials roll up to the
    # group row — ONE explode, two shuffles, no join; the kind histogram
    # falls out of the rollup for free. Null kinds coalesce to 'unknown':
    # map_from_entries rejects null keys at runtime, which would fail the
    # whole stage on one malformed span
    per_kind = s.groupBy(
        *group_cols, F.coalesce(F.col("s.kind"), F.lit("unknown")).alias("kind")
    ).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.when(F.col("s.text").isNull(), 1).otherwise(0)).alias("__n_text_null"),
        F.min("s.offset").alias("__omin"),
        F.max("s.offset").alias("__omax"),
        F.hll_sketch_agg("s.media_ref").alias("__hll"),
    )
    return (
        per_kind.groupBy(*group_cols)
        .agg(
            F.sum("__n").alias("n_spans"),
            F.sum(F.when(F.col("kind") == "text", F.col("__n_text_null")).otherwise(0)).alias(
                "n_text_null"
            ),
            F.sum(F.when(F.col("kind") == "text", F.col("__n")).otherwise(0)).alias("n_text"),
            F.min("__omin").alias("offset_min"),
            F.max("__omax").alias("offset_max"),
            F.hll_union_agg("__hll", True).alias("media_ref_hll"),
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct(F.col("kind"), F.col("__n"))))
            ).alias("kind_histogram"),
        )
        # estimate derives from the ONE union sketch (the agg previously
        # ran hll_union_agg twice over the same column — r8, guide §1.2);
        # explicit select keeps the pre-r8 column order
        .select(
            *group_cols,
            "n_spans",
            "n_text_null",
            "n_text",
            "offset_min",
            "offset_max",
            F.hll_sketch_estimate(F.col("media_ref_hll")).alias(
                "approx_distinct_media_ref"
            ),
            "media_ref_hll",
            "kind_histogram",
        )
        .withColumn(
            "text_null_ratio",
            F.when(F.col("n_text") > 0, F.col("n_text_null") / F.col("n_text")),
        )
    )


def kll_profiles(
    df: DataFrame,
    value: str,
    group_cols: Sequence[str] = ("epoch", "partition_id"),
) -> DataFrame:
    """Per-group KLL quantile sketches of ``value`` cast to double.

    Output: group_cols..., kll (binary DataSketches KLL doubles sketch,
    k = 200), n (long: values counted, null and NaN excluded). The sketch
    is a native partial aggregate: it combines map-side, and sketches of
    several groups or epochs merge with kll_merge_agg_double without
    touching the data again.
    """
    group_cols = [c for c in group_cols if c in df.columns]
    return (
        df.groupBy(*group_cols)
        .agg(F.kll_sketch_agg_double(F.col(value).cast("double")).alias("kll"))
        .withColumn("n", F.kll_sketch_get_n_double("kll"))
    )


def numeric_histogram(
    df: DataFrame,
    value: str | F.Column,
    lo: float,
    hi: float,
    nbins: int = 32,
    group_cols: Sequence[str] = ("epoch", "partition_id"),
) -> DataFrame:
    """Equi-width histogram with FIXED bin edges per group.

    Edges must come from the baseline epoch (SURVEY §7.4) so that
    epoch-to-epoch chi-square/KS comparisons are well defined. Values
    outside [lo, hi) clamp into the edge bins. Output: group_cols...,
    bin (int), bin_count (long) — long format merges by simple addition,
    which is what distribution-drift checks consume.
    """
    if not hi > lo:
        raise ValueError(f"numeric_histogram requires hi > lo, got [{lo}, {hi})")
    group_cols = list(group_cols)
    c = F.col(value) if isinstance(value, str) else value
    cd = c.cast("double")
    width = (hi - lo) / nbins
    bin_ = F.least(
        F.greatest(F.floor((cd - F.lit(lo)) / F.lit(width)), F.lit(0)),
        F.lit(nbins - 1),
    ).cast("int")
    # NaN passes isNotNull and would floor() into bin 0 as a phantom
    # low value, silently skewing drift comparisons — exclude it like null
    return (
        df.filter(cd.isNotNull() & ~F.isnan(cd))
        .groupBy(*group_cols, bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("bin_count"))
    )
