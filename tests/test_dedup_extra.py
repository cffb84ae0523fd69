"""Deterministic hash sampling: sample/split by hash, per-group caps,
weighted and token-budget sampling, and temperature-quota mixing."""

from __future__ import annotations

import pyspark.sql.functions as F


def test_hash_sampling_deterministic_and_leakage_free(spark):
    """sample_by_hash: same member set at any parallelism and rerun,
    fraction approximately honored; split_by_hash: every row of a key
    gets the same label, weights partition the space."""
    import pyspark.sql.functions as F

    from schema_drift_detector_spark.operators.sampling import (
        sample_by_hash,
        split_by_hash,
        stratified_sample_by_hash,
    )

    df = spark.range(20_000).select(F.format_string("doc-%07d", F.col("id") % 5_000).alias("k"))

    s1 = {r.k for r in sample_by_hash(df, "k", 0.3).distinct().collect()}
    s2 = {r.k for r in sample_by_hash(df.repartition(13), "k", 0.3).distinct().collect()}
    assert s1 == s2  # parallelism-independent member set
    assert 0.25 <= len(s1) / 5_000 <= 0.35
    # supersample property: a smaller rate is a subset of a larger one
    s_small = {r.k for r in sample_by_hash(df, "k", 0.1).distinct().collect()}
    assert s_small <= s1

    split = split_by_hash(df, "k", [0.7, 0.15, 0.15])
    per_key = split.groupBy("k").agg(F.count_distinct("split").alias("n")).collect()
    assert all(r.n == 1 for r in per_key)  # leakage-free
    shares = {r.split: r["count"] for r in split.groupBy("split").count().collect()}
    assert set(shares) == {"train", "validation", "test"}
    assert shares["train"] / sum(shares.values()) > 0.6

    strat = stratified_sample_by_hash(
        df.withColumn("s", F.when(F.col("k") < "doc-0002500", "a").otherwise("b")),
        "k", "s", {"a": 1.0}, default_fraction=0.0,
    )
    got = {r.s for r in strat.select("s").distinct().collect()}
    assert got == {"a"} and strat.count() == 10_000

    import pytest as _pytest
    with _pytest.raises(ValueError):
        sample_by_hash(df, "k", 1.5)
    with _pytest.raises(ValueError):
        split_by_hash(df, "k", [0.9, 0.3])


def test_sample_then_split_not_degenerate(spark):
    """The split salt must decorrelate it from an upstream hash sample
    on the same key — with a shared unsalted bucket, a 50% sample would
    land 100% in 'train' (sample buckets [0,500k) are a subset of
    train's [0,700k))."""
    import pyspark.sql.functions as F

    from schema_drift_detector_spark.operators.sampling import sample_by_hash, split_by_hash

    df = spark.range(8_000).select(F.format_string("doc-%07d", F.col("id")).alias("k"))
    sampled = sample_by_hash(df, "k", 0.5)
    labels = {
        r.split: r["count"]
        for r in split_by_hash(sampled, "k", [0.7, 0.15, 0.15])
        .groupBy("split").count().collect()
    }
    assert set(labels) == {"train", "validation", "test"}, labels
    n = sum(labels.values())
    assert 0.6 < labels["train"] / n < 0.8


def test_cap_per_group_deterministic_quota(spark):
    """cap_per_group: exact per-group quota, identical member set at any
    parallelism, unbiased by input order."""
    import pyspark.sql.functions as F

    from schema_drift_detector_spark.operators.sampling import cap_per_group

    df = spark.range(5_000).select(
        F.format_string("doc-%05d", F.col("id")).alias("k"),
        (F.col("id") % 7).alias("g"),
    )
    capped = cap_per_group(df, "g", "k", 100)
    sizes = {r.g: r["count"] for r in capped.groupBy("g").count().collect()}
    assert all(v == 100 for v in sizes.values()) and len(sizes) == 7
    a = {(r.g, r.k) for r in capped.collect()}
    b = {(r.g, r.k) for r in cap_per_group(df.repartition(17), "g", "k", 100).collect()}
    c = {(r.g, r.k) for r in cap_per_group(df.orderBy(F.desc("k")), "g", "k", 100).collect()}
    assert a == b == c  # parallelism- and input-order-independent

    # null-key rows pass through unchanged, exempt from the quota
    # (a balancing op must not delete rows outside its rule)
    with_nulls = df.unionByName(
        spark.range(5).select(
            F.lit(None).cast("string").alias("k"), F.lit(3).alias("g")
        )
    )
    capped_n = cap_per_group(with_nulls, "g", "k", 100)
    assert capped_n.filter(F.col("k").isNull()).count() == 5
    assert capped_n.filter(F.col("k").isNotNull() & (F.col("g") == 3)).count() == 100


def test_cap_per_group_nested_map_column(spark):
    """xxhash64 rejects MapType RECURSIVELY: a null-key spread over a
    frame carrying array<map<...>> must skip that column instead of
    failing at analysis time."""
    import pyspark.sql.functions as F

    from schema_drift_detector_spark.operators.sampling import cap_per_group

    df = spark.range(40).select(
        F.when(F.col("id") < 30, F.format_string("k-%d", F.col("id"))).alias("k"),
        (F.col("id") % 2).alias("g"),
        F.array(F.create_map(F.lit("a"), F.col("id"))).alias("m"),
    )
    capped = cap_per_group(df, "g", "k", 5)
    rows = capped.collect()
    # 5 real rows per group + every null-key row passes through
    assert sum(1 for r in rows if r.k is not None) == 10
    assert sum(1 for r in rows if r.k is None) == 10


def test_weighted_sample_by_hash_semantics(spark):
    """Quality-weighted deterministic sampling: weight 0 drops all,
    weight >= 1 keeps all, intermediate weights accept at ~weight rate,
    and the decision is a pure function of (key, weight) — rerun
    identical."""
    from schema_drift_detector_spark.operators.sampling import (
        weighted_keep,
        weighted_sample_by_hash,
    )

    df = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        (F.when(F.col("id") % 4 == 0, 0.0)
         .when(F.col("id") % 4 == 1, 0.25)
         .when(F.col("id") % 4 == 2, 0.75)
         .otherwise(1.0)).alias("w"),
    )
    kept = weighted_sample_by_hash(df, "doc_id", "w")
    by_w = {r.w: r.n for r in kept.groupBy("w").agg(F.count("*").alias("n")).collect()}
    assert 0.0 not in by_w                      # weight 0: nothing kept
    assert by_w[1.0] == 1000                    # weight 1: everything kept
    assert 150 < by_w[0.25] < 350               # ~25% of 1000
    assert 650 < by_w[0.75] < 850               # ~75% of 1000
    # deterministic: the same call yields the identical member set
    a = {r.doc_id for r in kept.collect()}
    b = {r.doc_id for r in weighted_sample_by_hash(df, "doc_id", "w").collect()}
    assert a == b
    # null weight -> excluded, not crashed
    withnull = df.withColumn("w", F.when(F.col("doc_id") < 2000, F.col("w")))
    n = weighted_sample_by_hash(withnull, "doc_id", "w").count()
    assert n == withnull.filter(F.col("w").isNotNull()).select(
        weighted_keep("doc_id", "w").alias("k")).filter("k").count()
    import pytest as _pytest
    with _pytest.raises(ValueError, match="rate_scale"):
        weighted_sample_by_hash(df, "doc_id", "w", rate_scale=0)


def test_take_token_budget_semantics(spark):
    """Greedy deterministic prefix per group: running total including
    the row must stay within budget; order is (hash, key); null keys
    pass through exempt (or drop with keep_null_keys=False); oversize
    docs are never kept; rerun-identical."""
    import pytest

    from schema_drift_detector_spark.operators.sampling import take_token_budget

    rows = [(i, "s1", 100) for i in range(10)] + [
        (100, "s2", 10_000),     # oversize: alone exceeds any 500 budget
        (101, "s2", 300),
        (None, "s3", 50),        # null key: passthrough
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, nt long")
    kept = take_token_budget(df, "source", "doc_id", "nt", 500)
    got = kept.groupBy("source").agg(F.count("*").alias("n"), F.sum("nt").alias("t")).collect()
    by = {r.source: (r.n, r.t) for r in got}
    assert by["s1"] == (5, 500)            # exactly 5 of the 100-token docs
    # s2 is hash-order-dependent BY DESIGN (strict prefix): if the
    # oversize doc sorts first it truncates the whole group (0 kept);
    # if it sorts last, doc 101 fits (1 kept). Both orders must keep
    # total <= 500, and the oversize doc itself must NEVER be kept.
    n2, t2 = by.get("s2", (0, 0))
    assert t2 <= 500 and n2 <= 1
    kept_ids = {r.doc_id for r in kept.collect()}
    assert 100 not in kept_ids             # oversize never kept
    assert by["s3"] == (1, 50)             # null-key passthrough
    # deterministic rerun
    a = {r.doc_id for r in kept.collect()}
    b = {r.doc_id for r in take_token_budget(df, "source", "doc_id", "nt", 500).collect()}
    assert a == b
    assert take_token_budget(df, "source", "doc_id", "nt", 500, keep_null_keys=False) \
        .filter(F.col("doc_id").isNull()).count() == 0
    with pytest.raises(ValueError, match="budget_tokens"):
        take_token_budget(df, "source", "doc_id", "nt", 0)


def test_take_token_budget_null_and_negative_tokens(spark):
    """Contract: NULL token counts spend nothing (kept for free inside
    the budget); NEGATIVE counts fail loud (they would re-admit rows
    past the truncation point)."""
    import pytest

    from schema_drift_detector_spark.operators.sampling import take_token_budget

    df = spark.createDataFrame(
        [(1, "s", 300), (2, "s", None), (3, "s", 300)],
        "doc_id long, source string, nt long",
    )
    kept = take_token_budget(df, "source", "doc_id", "nt", 400)
    ids = {r.doc_id for r in kept.collect()}
    # whatever the hash order, the NULL row consumes nothing: total
    # spent is <= 400 means at most one 300-token doc plus the free row
    spent = sum(300 for i in ids if i in (1, 3))
    assert spent <= 400
    neg = spark.createDataFrame([(1, "s", -1)], "doc_id long, source string, nt long")
    with pytest.raises(Exception, match="negative token count"):
        take_token_budget(neg, "source", "doc_id", "nt", 400).count()


def _py_temperature_quotas(sizes: dict, total: int, alpha: float, min_quota: int = 1):
    """Pure-python reference of the temperature quota rule. Rounding is
    half-away-from-zero (floor(x+0.5) on positives) — what Spark
    F.round and DuckDB round both do; python round() is banker's."""
    import math as _m

    w = {s: _m.floor(n**alpha * 1e6 + 0.5) for s, n in sizes.items()}
    sumw = sum(w.values())
    import math

    return {
        s: max(min_quota, math.floor(total * (wi / sumw))) for s, wi in w.items()
    }


def test_temperature_quotas_rule_and_duckdb_parity(spark):
    """temperature_quotas matches the pure-python rule AND DuckDB's
    verbatim replay over a size sweep (pow is the only transcendental;
    the integer micro-weight pin must hold on all three engines)."""
    import duckdb
    import pyspark.sql.functions as F

    from schema_drift_detector_spark.operators.sampling import (
        temperature_quota_sql,
        temperature_quotas,
        temperature_weight_sql,
    )

    sizes = {f"s{i}": n for i, n in enumerate([1, 2, 7, 125, 500, 1250, 99999, 10**9])}
    df = spark.createDataFrame(list(sizes.items()), "strat string, n long")
    got = {
        r.strat: r["__quota"]
        for r in temperature_quotas(df, "strat", "n", 400, alpha=0.3).collect()
    }
    assert got == _py_temperature_quotas(sizes, 400, 0.3)

    rows = duckdb.sql(
        f"""
        WITH s(strat, n) AS (VALUES {", ".join(f"('{s}', {n})" for s, n in sizes.items())}),
        w AS (SELECT strat, {temperature_weight_sql("n", 0.3)} AS w FROM s)
        SELECT strat,
               {temperature_quota_sql("400", "w", "sum(w) OVER ()")} AS q FROM w
        """
    ).fetchall()
    assert {s: q for s, q in rows} == got

    # alpha=1 is proportional; alpha<1 upweights small strata
    prop = {
        r.strat: r["__quota"]
        for r in temperature_quotas(df, "strat", "n", 400, alpha=1.0).collect()
    }
    n_total = sum(sizes.values())
    assert prop["s7"] == int(400 * sizes["s7"] / n_total)  # big stratum ~proportional
    assert got["s0"] >= prop["s0"] and got["s7"] < prop["s7"]


def test_temperature_mix_contracts(spark):
    """temperature_mix: deterministic member set at any parallelism,
    null-stratum rows dropped, null-key rows exempt, small strata
    upweighted vs their proportional share."""
    import pyspark.sql.functions as F

    from schema_drift_detector_spark.operators.sampling import temperature_mix

    # skewed strata: 1250 / 500 / 125 / 125 over 2000 rows
    df = spark.range(2_000).select(
        F.format_string("doc-%05d", F.col("id")).alias("k"),
        F.when(F.col("id") % 16 < 10, "mega")
        .when(F.col("id") % 16 < 14, "mid")
        .when(F.col("id") % 16 == 14, "small")
        .otherwise("tiny")
        .alias("g"),
    )
    out = temperature_mix(df, "g", "k", 400, alpha=0.3)
    kept = {r.g: r["count"] for r in out.groupBy("g").count().collect()}
    # quotas from the pure rule over the planted sizes
    exp = _py_temperature_quotas({"mega": 1250, "mid": 500, "small": 125, "tiny": 125}, 400, 0.3)
    assert kept == {g: min(q, {"mega": 1250, "mid": 500, "small": 125, "tiny": 125}[g]) for g, q in exp.items()}
    # upweighting binds: small stratum's kept share > its raw share
    total_kept = sum(kept.values())
    assert kept["small"] / total_kept > 125 / 2000

    a = {(r.g, r.k) for r in out.collect()}
    b = {(r.g, r.k) for r in temperature_mix(df.repartition(17), "g", "k", 400, alpha=0.3).collect()}
    assert a == b

    # null stratum dropped; null key exempt (passes without a slot)
    aug = df.unionByName(
        spark.createDataFrame(
            [("x1", None), (None, "mega")], "k string, g string"
        )
    )
    out2 = temperature_mix(aug, "g", "k", 400, alpha=0.3)
    assert out2.filter(F.col("g").isNull()).count() == 0
    assert out2.filter(F.col("k").isNull()).count() == 1
    kept2 = {r.g: r["count"] for r in out2.filter(F.col("k").isNotNull()).groupBy("g").count().collect()}
    assert kept2 == kept  # the exempt null-key row consumed no slot
