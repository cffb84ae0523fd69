"""Deterministic hash-based sampling and splitting.

Training-data pipelines need samples and train/validation splits that
are (a) reproducible bit-for-bit across runs, cluster sizes, and
engines, (b) leakage-free (all rows of a key land on the same side),
and (c) free — a pure filter/projection over the scan, no shuffle, no
state, no RNG seed plumbing. `df.sample`/`sampleBy` give none of that
(partition-order-dependent RNG).

The primitive is the engine's portable 60-bit hash
(functions.text.portable_hash60 — first 15 md5 hex chars as int64),
reproducible in ANSI SQL as ``CAST('0x' || substr(md5(key || salt),
1, 15) AS BIGINT)`` — so every operator here is DuckDB-certifiable,
and a sample drawn by any other engine with the same rule is
identical.

SALTS (independence): each purpose hashes a different salted key, so
composed decisions are independent. An unsalted shared bucket would
make sample-then-split fully correlated — a stratum sampled at rate
<= the train weight would land 100% in 'train'. Defaults: sampling
uses the unsalted key (so a smaller rate stays a subset of a larger
one), splitting salts with ':split'.

NULL KEYS: hash of NULL is NULL, so null-key rows are EXCLUDED from
samples at any fraction (even 1.0) and fall into the remainder label
in splits — a null key cannot be consistently routed; validate
upstream (uniqueness check) if nulls matter.

Scale shape: all pure whole-stage-codegen expressions; selectivity
reaches the scan as an ordinary filter. At 10^12 docs a 1% sample
costs one scan, zero shuffles.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import portable_hash60

_DENOM = 1_000_000  # rate resolution: 1e-6


def hash_bucket(key: Column | str, buckets: int = _DENOM, salt: str = "") -> Column:
    """Uniform deterministic bucket in [0, buckets) from the portable
    60-bit hash of the key's string form (+ optional purpose salt)."""
    c = F.col(key) if isinstance(key, str) else key
    s = c.cast("string")
    if salt:
        s = F.concat(s, F.lit(salt))
    return F.pmod(portable_hash60(s), F.lit(buckets))


def hash_bucket_sql(key_expr: str, buckets: int = _DENOM, salt: str = "") -> str:
    """The DuckDB replay of hash_bucket over an already-VARCHAR SQL
    expression — lives beside hash_bucket so the bucket rule can never
    fork between the engine and an oracle (hash60 is < 2^60, so plain
    ``%`` equals pmod here)."""
    from ..functions.text import portable_hash60_sql

    s = f"{key_expr} || '{salt}'" if salt else key_expr
    return f"({portable_hash60_sql(s)} % {buckets})"


def sample_by_hash(df: DataFrame, key: str, fraction: float, salt: str = "") -> DataFrame:
    """Deterministic ``fraction`` sample: keep rows whose key bucket
    falls below fraction·1e6. Same key (and salt) → same decision,
    always; with the same salt, a smaller fraction's sample is a
    SUBSET of a larger fraction's."""
    if not (0.0 <= fraction <= 1.0):
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    return df.filter(hash_bucket(key, salt=salt) < int(round(fraction * _DENOM)))


def stratified_sample_by_hash(
    df: DataFrame,
    key: str,
    strata_col: str,
    fractions: Mapping[str, float],
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic rates (e.g. downsample dominant
    languages, keep all of rare ones). Strata absent from ``fractions``
    use ``default_fraction``. Pure expression — the rate map compiles
    to a when-cascade, no join, no shuffle."""
    for s, f in fractions.items():
        if not (0.0 <= f <= 1.0):
            raise ValueError(f"fraction for stratum {s!r} must be in [0,1], got {f}")
    if not (0.0 <= default_fraction <= 1.0):
        raise ValueError(f"default_fraction must be in [0,1], got {default_fraction}")
    threshold = F.lit(int(round(default_fraction * _DENOM)))
    for s, f in fractions.items():
        threshold = F.when(
            F.col(strata_col) == s, F.lit(int(round(f * _DENOM)))
        ).otherwise(threshold)
    return df.filter(hash_bucket(key, salt=salt) < threshold)


def take_token_budget(
    df: DataFrame,
    group_col: str,
    key: str,
    tokens_col: Column | str,
    budget_tokens: int,
    salt: str = ":budget",
    keep_null_keys: bool = True,
) -> DataFrame:
    """Per-group TOKEN budget (the data-mixing primitive: each
    source/domain contributes at most ``budget_tokens`` tokens, not at
    most N documents — mixture ratios are token ratios). Walks each
    group's rows in the deterministic (hash_bucket(key, salt), key)
    order and keeps a row iff the running token total INCLUDING it
    stays ≤ budget — a strict greedy PREFIX, reproducible bit-for-bit
    across runs, engines, and cluster sizes. Strict means the first
    over-budget row TRUNCATES its group (later smaller rows are NOT
    back-filled — the running total counts dropped rows too): that is
    what keeps the rule a pure window expression both engines replay
    exactly; skip-and-continue filling is a sequential fold — use
    pack_next_fit's machinery if bin-filling is what you need. A doc
    larger than the whole budget is never kept and blocks its group's
    tail. Rows with a NULL key cannot be ordered and
    pass through exempt (``keep_null_keys=False`` drops them instead)
    — mirror of cap_per_group's contract.

    Token-count contract: a NULL token count spends nothing (treated
    as 0 — the row is kept for free if the budget isn't already blown);
    a NEGATIVE count fails LOUD at runtime — it would shrink the
    running sum and re-admit rows past the truncation point (the
    classic trap is passing F.size on NULL text, which is -1 under
    legacy sizeOfNull).

    One shuffle on ``group_col`` (the window), token counting stays in
    codegen; the same shape as cap_per_group with a SUM frame instead
    of row_number — including its single-pass null handling: null-key
    rows ride their own window partition and pass (or drop) by
    predicate, so the source is scanned ONCE, never filter+union
    twice."""
    if budget_tokens < 1:
        raise ValueError(f"budget_tokens must be >= 1, got {budget_tokens}")
    t = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    t = F.coalesce(t, F.lit(0))
    t = F.when(
        t < 0,
        F.raise_error(
            F.format_string(
                "negative token count %s — F.size on NULL text?", t.cast("string")
            )
        ).cast("long"),
    ).otherwise(t.cast("long"))
    from pyspark.sql import Window

    # null keys get their own window partition so the one pass covers
    # them; their cum is irrelevant — the keep predicate decides
    w = (
        Window.partitionBy(group_col, F.col(key).isNull())
        .orderBy(hash_bucket(key, salt=salt).asc(), F.col(key).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = df.withColumn("__cum", F.sum(t).over(w))
    if keep_null_keys:
        keep = F.col(key).isNull() | (F.col("__cum") <= budget_tokens)
    else:
        keep = F.col(key).isNotNull() & (F.col("__cum") <= budget_tokens)
    return cum.filter(keep).drop("__cum")


def weighted_keep(
    key: Column | str,
    weight: Column | str,
    salt: str = ":wsample",
    rate_scale: float = 1.0,
) -> Column:
    """Boolean per-row acceptance with probability weight·rate_scale —
    the quality-weighted sampling rule of classifier-scored corpus
    pipelines (keep high-quality docs at a higher rate), made
    deterministic: accept iff hash_bucket(key, salt) < weight ·
    rate_scale · 1e6. Same key+weight → same decision on any engine or
    cluster size; weights ≥ 1/rate_scale always keep, ≤ 0 never; a
    NULL weight or key yields NULL (excluded by filter). The
    comparison is long < double — both engines promote identically, so
    oracles replay the exact member set, no floor/round step."""
    if rate_scale <= 0:
        raise ValueError(f"rate_scale must be > 0, got {rate_scale}")
    w = F.col(weight) if isinstance(weight, str) else weight
    return hash_bucket(key, salt=salt) < w * F.lit(float(rate_scale) * _DENOM)


def weighted_sample_by_hash(
    df: DataFrame,
    key: str,
    weight: Column | str,
    salt: str = ":wsample",
    rate_scale: float = 1.0,
) -> DataFrame:
    """Deterministic weighted sample: keep each row with probability
    ``weight · rate_scale`` (see weighted_keep). Pure codegen filter —
    selectivity reaches the scan, zero shuffle at any scale."""
    return df.filter(weighted_keep(key, weight, salt, rate_scale))


def split_by_hash(
    df: DataFrame,
    key: str,
    weights: Sequence[float],
    labels: Sequence[str] = ("train", "validation", "test"),
    split_col: str = "split",
    salt: str = ":split",
) -> DataFrame:
    """Leakage-free dataset split: every row of a key gets the SAME
    label (the split is a function of the key alone). Weights map
    positionally to labels; if they sum below 1, the remainder gets the
    FIRST label without a weight (or the last label when every label is
    weighted). The default salt decorrelates the split from any
    upstream hash sample on the same key. Adds ``split_col``."""
    if len(weights) > len(labels):
        raise ValueError(f"{len(weights)} weights but only {len(labels)} labels")
    if any(w < 0 for w in weights) or sum(weights) > 1.0 + 1e-9:
        raise ValueError(f"weights must be non-negative and sum to <= 1, got {weights}")
    b = hash_bucket(key, salt=salt)
    expr = F.lit(labels[min(len(weights), len(labels) - 1)])
    hi = 0
    bounds = []
    for w in weights:
        hi += int(round(w * _DENOM))
        bounds.append(hi)
    for label, bound in zip(reversed(labels[: len(weights)]), reversed(bounds)):
        expr = F.when(b < bound, F.lit(label)).otherwise(expr)
    return df.withColumn(split_col, expr)


def cap_per_group(
    df: DataFrame,
    group_col: str,
    key: str,
    max_rows: int,
    salt: str = ":quota",
    keep_null_keys: bool = True,
) -> DataFrame:
    """Deterministic per-group quota (corpus balancing: cap any one
    source/domain's contribution). Keeps the ``max_rows`` rows of each
    group with the smallest (hash_bucket(key, salt), key) — a uniform,
    reproducible choice, NOT head-of-file order (which would bias
    toward whatever happened to sort first upstream). The default salt
    keeps the quota independent of hash samples on the same key (module
    SALTS rule — an unsalted quota's survivors would be exactly the
    low-bucket keys a subsequent sample_by_hash keeps).

    Null-key rows PASS THROUGH unchanged by default, exempt from the
    quota (they do not consume slots and are never dropped): a null key
    has no hash, so ranking them would make the selection
    irreproducible (Spark sorts nulls first, DuckDB last) — and a
    balancing operator must not silently delete rows it cannot judge
    (ADVICE r3). CONTRACT CHANGE (round 4): before this, null-key rows
    were dropped; callers that relied on that set
    ``keep_null_keys=False`` to restore the old behavior (a plain
    pre-filter — nulls never enter the window).

    One window over (group, hash-ordered) — a single shuffle on
    group_col; AQE's skew handling splits oversized groups' sort. For
    quotas at extreme scale prefer pre-aggregated per-group counts +
    rate sampling (sample_by_hash with fraction quota/count), which
    avoids the sort entirely; this exact-k form is for hard caps.
    """
    from pyspark.sql import Window

    if max_rows <= 0:
        raise ValueError(f"max_rows must be positive, got {max_rows}")
    if not keep_null_keys:
        df = df.filter(F.col(key).isNotNull())
    # single pass: null-key rows get their own window partitions (the
    # extra __spread key: constant -1 for real rows, a per-row value in
    # [0, 1024) for nulls), so they rank only among themselves, never
    # consume a real row's quota slot, and pass unconditionally — a
    # separate filter+union branch would scan the source twice, and a
    # single shared null partition per group would funnel every null
    # row of a null-heavy source into one straggling reducer (their
    # rank is never used, so spreading them is free and result-neutral).
    # The spread MUST be deterministic per row CONTENT: it feeds hash
    # partitioning, and a speculative/fetch-failure re-execution of a
    # map task re-evaluates it — monotonically_increasing_id would
    # assign the retried row a different reducer (row duplicated or
    # lost; Spark's indeterminate-stage rollback does not cover
    # arbitrary nondeterministic exprs feeding Exchange). Content-equal
    # null rows colliding into one spread cell is fine — spread is
    # load balancing only, never part of the result.
    # "map<" anywhere in the type string, not just at top level:
    # xxhash64 rejects MapType recursively, so array<map<...>> or
    # struct<m:map<...>> would fail analysis too
    hashable = [c for c, t in df.dtypes if "map<" not in t]
    spread = F.when(
        F.col(key).isNull(),
        # map-bearing columns excluded: Spark's hash exprs reject
        # MapType recursively; an all-map frame collapses nulls to one
        # spread cell (correct, just unspread)
        F.pmod(F.xxhash64(*[F.col(c) for c in hashable]) if hashable else F.lit(0), F.lit(1024)),
    ).otherwise(F.lit(-1))
    w = Window.partitionBy(group_col, "__spread").orderBy(
        hash_bucket(key, salt=salt).asc(), F.col(key).asc()
    )
    return (
        df.withColumn("__spread", spread)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col(key).isNull() | (F.col("__rn") <= max_rows))
        .drop("__rn", "__spread")
    )


def temperature_quotas(
    sizes: DataFrame,
    strata_col: str,
    size_col: str,
    total_rows: int,
    alpha: float = 0.3,
    min_quota: int = 1,
) -> DataFrame:
    """Per-stratum quotas under TEMPERATURE-scaled mixture weights —
    the multilingual-corpus mixing rule (mT5/XLM-R style): stratum i
    gets a share proportional to ``n_i ** alpha``, so alpha=1 is
    proportional sampling (big strata dominate), alpha→0 is uniform
    (every stratum equal), and the usual 0.2–0.5 range UPWEIGHTS small
    strata relative to their raw share without drowning large ones.

    Cross-engine float discipline: the ONLY transcendental is
    ``pow(n, alpha)``, immediately pinned to an integer micro-weight
    ``round(pow(n, alpha) * 1e6)`` (a JVM-vs-libm 1-ulp pow divergence
    would need to land within ~1e-8 of a rounding boundary to matter);
    the weight SUM is integer (exact, order-free — a double sum would
    be summation-order-dependent across engines), and the final
    ``floor(total · w/Σw)`` is IEEE-exact on identical inputs. DuckDB
    replays the rule verbatim (see the source_quota oracle).

    Returns (strata_col, size_col, __quota). quota = max(min_quota,
    floor(total_rows · share)) — NOT capped at the stratum size: an
    under-supplied stratum simply contributes everything it has (the
    caller sees quota > size and can rebalance).

    Scale shape: ``sizes`` is stratum-cardinality (tiny) — this is
    driver-free arithmetic on a frame meant to be broadcast."""
    if total_rows < 1:
        raise ValueError(f"total_rows must be >= 1, got {total_rows}")
    if alpha <= 0 or alpha > 1:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if min_quota < 0:
        raise ValueError(f"min_quota must be >= 0, got {min_quota}")
    for c in (strata_col, size_col):
        if c not in sizes.columns:
            raise ValueError(f"sizes has no column {c!r} (has {sizes.columns})")
    w = F.round(
        F.pow(F.col(size_col).cast("double"), F.lit(float(alpha))) * 1e6, 0
    ).cast("bigint")
    from pyspark.sql import Window

    sumw = F.sum("__w").over(Window.partitionBy())
    return (
        sizes.withColumn("__w", w)
        .withColumn(
            "__quota",
            F.greatest(
                F.lit(min_quota).cast("bigint"),
                F.floor(
                    F.lit(int(total_rows))
                    * (F.col("__w").cast("double") / sumw.cast("double"))
                ),
            ),
        )
        .drop("__w")
    )


def temperature_weight_sql(n_expr: str, alpha: float) -> str:
    """DuckDB replay of the temperature micro-weight
    ``round(pow(n, alpha) * 1e6)`` — lives beside temperature_quotas so
    the weight rule can never fork between the engine and an oracle
    (the hash_bucket_sql discipline)."""
    if alpha <= 0 or alpha > 1:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    return f"CAST(round(pow(CAST({n_expr} AS DOUBLE), {alpha!r}) * 1e6, 0) AS BIGINT)"


def temperature_quota_sql(
    total_expr: str, w_expr: str, sumw_expr: str, min_quota: int = 1
) -> str:
    """DuckDB replay of the quota rule
    ``greatest(min_quota, floor(total * w / sumw))`` over
    already-computed weight expressions."""
    if min_quota < 0:
        raise ValueError(f"min_quota must be >= 0, got {min_quota}")
    return (
        f"greatest({min_quota}, CAST(floor({total_expr} * "
        f"(CAST({w_expr} AS DOUBLE) / CAST({sumw_expr} AS DOUBLE))) AS BIGINT))"
    )


def temperature_mix(
    df: DataFrame,
    strata_col: str,
    key: str,
    total_rows: int,
    alpha: float = 0.3,
    salt: str = ":mix",
    min_quota: int = 1,
    keep_null_keys: bool = True,
) -> DataFrame:
    """Temperature-scaled mixture sampling: draw ~``total_rows`` rows
    with per-stratum quotas ∝ size**alpha (temperature_quotas), each
    stratum contributing its deterministic (hash_bucket(key, salt),
    key)-prefix — the whole mixture is reproducible bit-for-bit across
    runs, engines, and cluster sizes, like everything in this module.

    NULL-STRATUM rows are DROPPED (they cannot be attributed to a
    mixture component); NULL-KEY rows within a stratum pass through exempt by
    default (cap_per_group's contract; ``keep_null_keys=False`` drops
    them). Stratum sizes count every non-null-stratum row, null keys
    included — the weight reflects the stratum's true mass even though
    exempt rows don't consume quota slots.

    Scale shape: one partial-agg count shuffle (stratum cardinality),
    quotas BROADCAST back, ONE window shuffle on the stratum for the
    prefix rank — identical to cap_per_group's shape; AQE splits
    oversized strata's sort. At extreme scale swap the exact prefix
    for rate sampling (sample_by_hash at quota/size), as cap_per_group
    documents."""
    from pyspark.sql import Window

    dfs = df.filter(F.col(strata_col).isNotNull())
    sizes = dfs.groupBy(strata_col).agg(F.count(F.lit(1)).alias("__n"))
    quotas = temperature_quotas(
        sizes, strata_col, "__n", total_rows, alpha=alpha, min_quota=min_quota
    ).drop("__n")
    if not keep_null_keys:
        dfs = dfs.filter(F.col(key).isNotNull())
    w = Window.partitionBy(strata_col, F.col(key).isNull()).orderBy(
        hash_bucket(key, salt=salt).asc(), F.col(key).asc()
    )
    return (
        dfs.join(F.broadcast(quotas), strata_col)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col(key).isNull() | (F.col("__rn") <= F.col("__quota")))
        .drop("__rn", "__quota")
    )
