"""Count-min sketch (Cormode & Muthukrishnan 2005) as a DataFrame —
the frequency counterpart of the engine's HLL (distinct), KLL
(quantiles) and Bloom (membership) sketches.

Spark-first design: the sketch IS a tiny DataFrame of at most
``depth x width`` counter rows (idx, n) — not an opaque blob. Building
it is one partial-aggregated shuffle whose reduce-side cardinality is
bounded by depth*width REGARDLESS of key cardinality (the point of the
sketch: exact per-key counting state grows with distinct keys; CMS
state does not). Merging sketches is counter addition — a union +
re-aggregation, associative and commutative by construction. Point
estimates broadcast the sketch back (depth*width rows — always tiny)
and take the min over the depth hash rows, so estimation never
shuffles the probe side beyond its own per-key aggregation.

Determinism: hash row ``i`` buckets a key with the engine's portable
60-bit hash under salt ``f"{salt}:{i}"`` — bit-reproducible across
runs, parallelism, and engines; ``cms_sql_ctes`` replays build +
estimate verbatim in DuckDB.

Guarantees (the classic CMS bounds): estimates NEVER undercount
(est >= true, always — each counter only ever adds); with width w and
depth d, P[est > true + eps*N] <= (1/2)^d at w = 2/eps. Overcounts
come from bucket collisions; the min over d independent rows is what
makes a single unlucky collision harmless.

NULL keys are NOT counted at build (NULL is not a key — the
heavy_hitters contract) and estimate NULL at probe time (no
attribution, not zero).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.sampling import hash_bucket, hash_bucket_sql

_CMS_SALT = ":cms"


def _validate(depth: int, width: int) -> None:
    if depth < 1:
        raise ValueError(f"depth must be >= 1, got {depth}")
    if width < 2:
        raise ValueError(f"width must be >= 2, got {width}")


def _idx(key: Column, i: int, depth: int, width: int, salt: str) -> Column:
    """Flattened counter index for hash row i: i*width + bucket_i(key)."""
    return F.lit(i * width) + hash_bucket(key, width, f"{salt}:{i}")


def cms_build(
    df: DataFrame,
    key: str,
    depth: int = 4,
    width: int = 2048,
    salt: str = _CMS_SALT,
) -> DataFrame:
    """Count every non-NULL ``key`` occurrence into a (idx, n) sketch
    frame (at most depth*width rows). One scan, one bounded shuffle:
    the explode to ``depth`` rows happens map-side and partial
    aggregation collapses it to <= depth*width rows per task before
    the exchange."""
    _validate(depth, width)
    k = F.col(key)
    rows = df.filter(k.isNotNull()).select(
        F.explode(
            F.array(*[_idx(k, i, depth, width, salt) for i in range(depth)])
        ).alias("idx")
    )
    return rows.groupBy("idx").agg(F.count(F.lit(1)).alias("n"))


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge sketches built with the SAME (depth, width, salt):
    counters add. Associative/commutative; the result is exactly the
    sketch of the concatenated inputs."""
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("idx").agg(F.sum("n").alias("n"))


def cms_estimate(
    probes: DataFrame,
    sketch: DataFrame,
    key: str,
    depth: int = 4,
    width: int = 2048,
    salt: str = _CMS_SALT,
    est_col: str = "cms_est",
) -> DataFrame:
    """``probes``'s columns plus ``est_col``: the CMS frequency
    estimate min over the depth hash rows (>= the true count, always;
    0 for keys never counted; NULL for NULL keys). The sketch is
    BROADCAST — the probe side never shuffles beyond its own per-key
    min aggregation."""
    _validate(depth, width)
    if est_col in probes.columns:
        raise ValueError(f"probes already has a column named {est_col!r}")
    k = F.col(key)
    exploded = probes.select(
        key,
        F.explode(
            F.array(*[_idx(k, i, depth, width, salt) for i in range(depth)])
        ).alias("idx"),
    )
    ests = (
        exploded.join(F.broadcast(sketch), "idx", "left")
        .groupBy(key)
        .agg(F.min(F.coalesce("n", F.lit(0))).alias(est_col))
    )
    return probes.join(ests, key, "left")


def cms_sql_ctes(
    sfx: str,
    src: str,
    key_expr: str,
    depth: int = 4,
    width: int = 2048,
    salt: str = _CMS_SALT,
) -> str:
    """DuckDB CTE block replaying cms_build + cms_estimate over the
    relation ``src``: counts every non-NULL ``key_expr`` occurrence,
    then estimates each DISTINCT key. Emits CTEs prefixed ``sfx``; the
    final CTE ``{sfx}est`` has (key, cms_est). ONE definition for every
    oracle that certifies the sketch (the nb_sql_ctes discipline).
    ``key_expr`` must be VARCHAR-castable; the hash replays Spark's
    string form, so pass the same textual form the engine hashes."""
    _validate(depth, width)
    s = sfx

    # one formatter, two sources — never textual rewriting of already-
    # generated SQL (a salt or sfx that happened to contain the CTE
    # name would corrupt the query silently; review catch)
    def _rows(from_cte: str) -> str:
        return " UNION ALL ".join(
            f"SELECT key, {i * width} + "
            f"{hash_bucket_sql('CAST(key AS VARCHAR)', width, f'{salt}:{i}')} AS idx "
            f"FROM {from_cte}"
            for i in range(depth)
        )

    return f"""{s}keys AS MATERIALIZED (
  SELECT {key_expr} AS key FROM {src} WHERE {key_expr} IS NOT NULL
), {s}rows AS MATERIALIZED ({_rows(f'{s}keys')}),
{s}sk AS (SELECT idx, count(*) AS n FROM {s}rows GROUP BY 1),
{s}probe AS (SELECT DISTINCT key FROM {s}keys),
{s}est AS (
  SELECT p.key, min(coalesce(sk.n, 0)) AS cms_est
  FROM (SELECT key, idx FROM ({_rows(f'{s}probe')}) q) p
  LEFT JOIN {s}sk sk USING (idx)
  GROUP BY p.key
)"""
