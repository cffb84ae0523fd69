"""Hot-key measurement for explicit salting.

AQE's skew-join splitting (enabled engine-wide in session.py) handles
most hot-key joins automatically at runtime. north_rule: "handles skew
with AQE + explicit salting of hot doc_id ranges" — the salted
aggregation lives in constraints.duplicate_keys; this module measures
the hot keys (heavy_hitters) and sizes its salt (choose_salt_buckets).
"""

from __future__ import annotations

import math
from fractions import Fraction

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def heavy_hitters(
    df: DataFrame,
    key: str,
    phi: float,
    support: float | None = None,
) -> DataFrame:
    """EXACT φ-heavy-hitters (keys with frequency ≥ φ·N, i.e.
    ≥ ceil(φ·N) for integer frequencies) without ever shuffling the key
    universe — the hot-key detector that decides which doc_id ranges
    need explicit salting. The threshold is computed in exact integer
    arithmetic: φ's double is first snapped to the nearest small
    rational num/denom (denom ≤ 1e6, so 0.007 means 7/1000 — not its
    binary neighbor 0.00700000000000000014 whose ceil would exclude a
    key sitting exactly on the threshold), then the filter is
    n_occurrences·denom ≥ num·N over DECIMAL(38,0) products, exact at
    any N.

    Two passes, both with metadata-scale shuffles:
      1. candidate sketch: Spark's single-pass frequent-items
         (df.stat.freqItems — batched Misra-Gries, treeAggregate of
         ≤1/support counters per task) guarantees a superset of every
         key with frequency > support; requires support ≤ φ.
      2. exact recount: one scan counting ONLY the broadcast candidates
         (left join tags candidate rows; non-candidates collapse into a
         single null bucket that still contributes to the grand total N),
         then the ceil(φ·N) threshold filter.

    A plain groupBy(key).count() is exact too — but at 10^12 DISTINCT
    doc_ids the aggregation shuffles the whole universe; here nothing
    bigger than tasks×(1/support) partials and the candidate list moves.

    Null keys are not candidates (a null doc_id is a constraint
    violation, not a hot range). Output: key, n_occurrences, share.

    Raises ValueError when: phi outside (0,1); the SNAPPED phi (the
    num/denom rational actually used by the filter) is at or below the
    1e-4 freqItems support floor; support >= snapped phi (recall
    guarantee would not cover threshold keys); or support < 1e-4. All
    guards validate against the snapped value, so the guard and the
    filter always agree on the effective threshold.
    """
    if not (0 < phi < 1):
        raise ValueError(f"phi must be in (0,1), got {phi}")
    # snap FIRST, then validate against the snapped value — the filter
    # below uses frac, so guards on the raw double could pass a phi
    # whose effective (snapped) threshold violates the support interval
    frac = Fraction(phi).limit_denominator(1_000_000)
    phi = float(frac)
    if phi <= 1e-4:
        # support must satisfy 1e-4 <= support < phi — for phi <= 1e-4
        # that interval is empty, so no explicit support can help
        raise ValueError(
            f"phi ({phi}) at or below the Spark freqItems support floor "
            f"(1e-4) is unsupported: no valid support exists"
        )
    support = phi / 2 if support is None else support
    if support >= phi:
        # freqItems guarantees recall only for counts STRICTLY above
        # support·N — at support == phi a key with exactly ceil(phi·N)
        # occurrences meets the output threshold yet sits outside the
        # sketch guarantee and could be evicted
        raise ValueError(f"support ({support}) must be strictly < phi ({phi})")
    if support < 1e-4:
        # Spark's freqItems rejects support < 1e-4 with an opaque py4j
        # error; surface the real constraint at the API boundary
        raise ValueError(
            f"support ({support}) must be >= 1e-4 (Spark freqItems floor); "
            f"pass support explicitly for phi < 2e-4"
        )
    spark = df.sparkSession
    # sketch over the NON-NULL rows: the recall guarantee is relative to
    # the sketched row count, and the output threshold ceil(phi·N) uses
    # N = non-null rows — sketching nulls too would dilute the guarantee
    # below the threshold whenever nulls are plentiful
    nn = df.select(key).filter(F.col(key).isNotNull())
    items = [x for x in nn.stat.freqItems([key], support).first()[0] if x is not None]
    cand = spark.createDataFrame(
        [(x,) for x in items], df.select(key).schema
    ).withColumn("__hit", F.lit(1))
    buckets = (
        nn.join(F.broadcast(cand), key, "left")
        .groupBy(F.when(F.col("__hit").isNotNull(), F.col(key)).alias("__k"))
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    total = buckets.agg(F.sum("n_occurrences").alias("__N"))
    # exact threshold: freq >= phi*N  <=>  freq*denom >= num*N (integer
    # frequencies); DECIMAL(38,0) products stay exact at N ~ 10^12
    # where double math can flip a boundary key (ADVICE r3); frac was
    # snapped above so every guard validated the same effective phi
    return (
        buckets.filter(F.col("__k").isNotNull())
        .crossJoin(F.broadcast(total))
        .filter(
            F.col("n_occurrences").cast("decimal(38,0)") * F.lit(frac.denominator)
            >= F.lit(frac.numerator) * F.col("__N").cast("decimal(38,0)")
        )
        .select(
            F.col("__k").alias(key),
            "n_occurrences",
            (F.col("n_occurrences") / F.col("__N")).alias("share"),
        )
    )


def choose_salt_buckets(
    df: DataFrame,
    key: str,
    phi: float = 0.002,
    max_buckets: int | None = None,
) -> int:
    """Data-driven salting decision — closes the loop from hot-key
    DETECTION (heavy_hitters above) to the uniqueness aggregation's
    ``salt_buckets`` knob, replacing a static guess.

    Sizing rule: with P shuffle partitions, a fair reducer holds ~N/P
    rows; a key of share s funnels s·N rows into one reducer unless it
    is split across ceil(s·P) salt buckets. The hottest key sets the
    requirement: buckets = clamp(ceil(max_share·P), 1, max_buckets).
    1 means "no key is hot enough to matter — skip salting entirely"
    (duplicate_keys then runs the plain one-phase aggregation, saving
    the second shuffle stage).

    Cost: one heavy_hitters pass — a freqItems sketch scan plus a
    broadcast recount scan, both metadata-scale shuffles (the key
    universe never shuffles), amortized over every batch of the run
    that reuses the decision.
    """
    spark = df.sparkSession
    try:
        p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):  # "auto" under some AQE configs
        p = spark.sparkContext.defaultParallelism
    max_buckets = max_buckets or p
    top = (
        heavy_hitters(df, key, phi)
        .agg(F.max("share").alias("s"))
        .first()[0]
    )
    if top is None:
        return 1
    return max(1, min(max_buckets, math.ceil(float(top) * p)))
