"""Deduplication operators for training-data pipelines.

Five families, all shuffle-conscious:

  exact            md5 hash-groupBy (one shuffle; salting unnecessary —
                   hash keys are uniform by construction)
  n-gram Jaccard   shingle explode → self-join on shingle → pair counts.
                   Exact but O(pairs-sharing-a-shingle); gate it behind
                   candidate filters at scale.
  MinHash + LSH    k minhashes per doc via xxhash64(seed, shingle)
                   (one explode + one groupBy); banding → bucket join →
                   candidates; signature-overlap estimate verifies.
                   THE scale path for 10^12 docs: cost is linear in
                   corpus size + bucket collisions, never all-pairs.
  SimHash          64-bit sign-of-weighted-sum over token hashes;
                   chunk-16 LSH buckets for hamming-distance candidates.
  Embedding cosine near-dup pairs over array<float> embeddings —
                   brute-force (small) or random-hyperplane LSH (scale).

Everything below is built-in Catalyst expressions; the only
quadratic-ish work happens inside LSH buckets, which is the algorithm's
point.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.similarity import cosine_arrow
from ..functions.text import char_shingles, fingerprint_md5, tokens


# --------------------------------------------------------------------------
# Exact
# --------------------------------------------------------------------------

def exact_duplicates(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Content-hash groups with >1 member. Returns
    (fingerprint, n_docs, keep_id) — keep_id = min id, the canonical
    survivor for a downstream dedup filter."""
    return (
        df.select(F.col(id_col), fingerprint_md5(content_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


def exact_duplicates_best(
    df: DataFrame,
    id_col: str,
    content_col: str,
    priority: Column,
    ascending: bool = False,
) -> DataFrame:
    """`exact_duplicates` with a RANKED survivor: keep_id is the id of
    the group member with the best ``priority`` (largest by default,
    smallest with ``ascending=True`` — e.g. earliest crawl timestamp),
    ties broken by min id. Real pipelines keep the best-quality /
    first-seen copy of a duplicate, not the smallest id.

    Shape: identical to exact_duplicates — ONE map-side-combinable
    aggregation (max of a (priority, -id) struct), no window, no second
    shuffle; same 100 TB posture. Requires a numeric id (the tiebreak
    rides the struct as -id; use a window form for string ids).
    NULL priority ranks LOWEST in either direction (no evidence never
    beats evidence); NULL content groups as NULL fingerprint, matching
    exact_duplicates / SQL GROUP BY semantics."""
    idt = df.schema[id_col].dataType.typeName()
    if idt not in ("byte", "short", "integer", "long", "float", "double", "decimal"):
        raise ValueError(
            f"exact_duplicates_best needs a numeric id for the in-struct "
            f"tiebreak, got {id_col}: {idt}"
        )
    p = priority.cast("double")
    q = F.coalesce(-p if ascending else p, F.lit(float("-inf")))
    return (
        df.select(
            F.col(id_col), fingerprint_md5(content_col).alias("fingerprint"), q.alias("__q")
        )
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (-F.max(F.struct(F.col("__q").alias("q"), (-F.col(id_col)).alias("nid")))["nid"]).alias(
                "keep_id"
            ),
        )
        .filter(F.col("n_docs") > 1)
    )


def drop_exact_duplicates(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Keep one row per content fingerprint (min id wins) — the
    map-side-combinable form of exact dedup. NULL content groups as one
    fingerprint (sentinel, since md5(NULL)=NULL and a null key would
    silently match nothing in the join, deleting every null row); one
    null-content survivor is kept — same as SQL PARTITION BY md5(text),
    where nulls group together."""
    fp = F.coalesce(fingerprint_md5(content_col), F.lit("__null_content__")).alias("__fp")
    w = df.select(df["*"], fp)
    keep = w.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return w.join(keep, on=["__fp", id_col], how="inner").drop("__fp")


# --------------------------------------------------------------------------
# N-gram Jaccard (exact pairwise, for candidate verification / small sets)
# --------------------------------------------------------------------------

def shingle_table(df: DataFrame, id_col: str, text_col: str, n: int = 5) -> DataFrame:
    return df.select(
        F.col(id_col).alias("doc"), F.explode(char_shingles(text_col, n)).alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact Jaccard over distinct character n-grams for every pair
    sharing ≥1 shingle. Output: doc_a, doc_b (a<b), common, jaccard."""
    sh = shingle_table(df, id_col, text_col, n)
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "common",
            (F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

MERSENNE31 = 2_147_483_647  # 2^31 - 1


def minhash_permutation_params(k: int) -> list[tuple[int, int]]:
    """Deterministic affine-permutation constants (a_i, b_i) over
    GF(2^31-1) — SHARED by the Spark implementation (hash_fn='md5') and
    any DuckDB replay of it, so the two compute bit-identical
    signatures by construction."""
    params = []
    a, b = 1, 0
    for _ in range(k):
        a = (a * 1_103_515_245 + 12_345) % MERSENNE31 or 1
        b = (b * 69_069 + 1_234_567) % MERSENNE31
        params.append((a, b))
    return params


def _md5_h31(col: Column) -> Column:
    """60-bit int from the md5 hex prefix, folded into GF(2^31-1).
    Portable across engines: DuckDB computes the identical value as
    CAST('0x' || substr(md5(x),1,15) AS BIGINT) % 2147483647."""
    from ..functions.text import portable_hash60

    return F.pmod(portable_hash60(col), F.lit(MERSENNE31))


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    k: int = 64,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """k-permutation MinHash: one explode + ONE groupBy computes all k
    mins (map-side combine keeps the shuffle tiny — k longs per doc).

    hash_fn='xxhash64': k independent seeded hashes per shingle (JVM
    xxhash64 — not reproducible outside Spark).
    hash_fn='md5': ONE md5 per shingle + k affine permutations over
    GF(2^31-1) — bit-reproducible in ANSI SQL (the oracle path), and
    arithmetically cheaper than k full string hashes.

    Output: (doc, sig: array<long>[k])."""
    sh = shingle_table(df, id_col, text_col, n)
    if hash_fn == "md5":
        h31 = _md5_h31(F.col("shingle"))
        mins = sh.groupBy("doc").agg(
            *[
                F.min(F.pmod(F.lit(a) * h31 + F.lit(b), F.lit(MERSENNE31))).alias(f"__m{i}")
                for i, (a, b) in enumerate(minhash_permutation_params(k))
            ]
        )
    else:
        mins = sh.groupBy("doc").agg(
            *[F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"__m{i}") for i in range(k)]
        )
    return mins.select("doc", F.array(*[F.col(f"__m{i}") for i in range(k)]).alias("sig"))


def validate_bands(k: int, bands: int) -> None:
    """Fail-loud banding precondition, shared by every LSH entry point
    (within-corpus and the cross-epoch index): bands > k makes every
    band slice empty (one global bucket → all-pairs blowup); k % bands
    != 0 silently ignores trailing minhashes (changed recall, no
    error)."""
    if bands <= 0 or bands > k or k % bands != 0:
        raise ValueError(
            f"bands must divide k with bands <= k (got k={k}, bands={bands}): "
            "bands > k makes every band slice empty (one global bucket → "
            "all-pairs blowup); k % bands != 0 silently ignores trailing minhashes"
        )


def band_buckets(signatures: DataFrame, bands: int = 16) -> DataFrame:
    """(doc, band, bucket) rows — each signature banded and each band
    hashed, for the within-corpus LSH below."""
    return signatures.select(
        "doc",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda band: F.xxhash64(
                    band,
                    F.array_join(
                        F.transform(
                            F.slice(
                                F.col("sig"),
                                band * (F.size("sig") / bands).cast("int") + 1,
                                (F.size("sig") / bands).cast("int"),
                            ),
                            lambda v: v.cast("string"),
                        ),
                        ",",
                    ),
                ),
            )
        ).alias("band", "bucket"),
    )


def signature_est(sig_a: Column | str, sig_b: Column | str) -> Column:
    """MinHash Jaccard estimate: fraction of equal signature slots."""
    a = F.col(sig_a) if isinstance(sig_a, str) else sig_a
    b = F.col(sig_b) if isinstance(sig_b, str) else sig_b
    return F.size(F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda eq: eq)) / F.size(a)


def lsh_candidate_pairs(signatures: DataFrame, bands: int = 16) -> DataFrame:
    """Band the signature, hash each band, bucket-join. Two docs are
    candidates iff any band hashes identically. Output: doc_a, doc_b."""
    sig = band_buckets(signatures, bands)
    a, b = sig.alias("a"), sig.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    k: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Full MinHash-LSH pipeline: signatures → banded candidates →
    signature-overlap Jaccard estimate ≥ threshold.
    Output: doc_a, doc_b, est_jaccard.

    The signature frame is cached (used by both the band join and the
    estimate join); it stays cached until the session ends or the
    caller clears it — callers running many dedup passes in one
    long-lived app should spark.catalog.clearCache() between epochs."""
    validate_bands(k, bands)
    sigs = minhash_signatures(df, id_col, text_col, n, k, hash_fn=hash_fn).cache()
    cands = lsh_candidate_pairs(sigs, bands)
    sa = sigs.select(F.col("doc").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc").alias("doc_b"), F.col("sig").alias("sig_b"))
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", signature_est("sig_a", "sig_b").alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def simhash_bits(df: DataFrame, id_col: str, text_col: str, nbits: int = 64) -> DataFrame:
    """SimHash (xxhash64 form): per token xxhash64; per bit, sum(+1/-1);
    sign → bit. One explode + one groupBy (nbits sums, map-side
    combined). For the SQL-reproducible variant use simhash_signature60
    (packed md5 form). Output: (doc, bits: array<int>[nbits]) MSB-first."""
    tok = df.select(F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("t"))
    tok = tok.withColumn("h", F.xxhash64("t"))
    bit = lambda b: F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))  # noqa: E731
    sums = tok.groupBy("doc").agg(
        *[
            F.sum(F.when(bit(b) == 1, 1).otherwise(-1)).alias(f"__b{b}")
            for b in range(nbits)
        ]
    )
    return sums.select(
        "doc",
        F.array(
            *[F.when(F.col(f"__b{b}") > 0, 1).otherwise(0) for b in range(nbits - 1, -1, -1)]
        ).alias("bits"),
    )


def simhash_signature60(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit PACKED simhash (md5-based, bit-reproducible in ANSI SQL):
    one md5+hex-parse per token, per-bit majority sign, bits packed into
    a single BIGINT (60 bits keep the value positive in int64 for both
    engines). Downstream ops become pure codegen integer arithmetic —
    chunk buckets are shift/mask, hamming is bit_count(xor) — instead of
    array zip_with, which is the interpreted slow path.
    Output: (doc, sig: long)."""
    from ..functions.text import portable_hash60

    tok = df.select(F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("t"))
    tok = tok.withColumn("h", portable_hash60("t"))
    sums = tok.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"__b{b}")
            for b in range(60)
        ]
    )
    sig = None
    for b in range(60):
        term = F.when(F.col(f"__b{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return sums.select("doc", sig.alias("sig"))


def hamming(a: Column | str, b: Column | str) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.size(F.filter(F.zip_with(ca, cb, lambda x, y: x != y), lambda d: d))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    chunks: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Chunk-LSH over simhash bits: split into ``chunks`` segments and
    bucket-join on exact segment equality, then verify true hamming
    distance. Output: doc_a, doc_b, hamming_distance.

    RECALL GUARANTEE is pigeonhole-exact only for max_hamming < chunks
    (a pair that differs in fewer bits than there are chunks must share
    one untouched chunk). For max_hamming >= chunks the operator is
    APPROXIMATE: pairs whose differing bits spread across every chunk
    are missed — standard LSH recall/cost trading, same rule the DuckDB
    oracle replicates. Raise ``chunks`` for exact recall at higher
    candidate cost.

    hash_fn='md5' uses the packed 60-bit signature (simhash_signature60):
    buckets are shift/mask fields, hamming is bit_count(xor) — all
    whole-stage-codegen integer ops, and the DuckDB oracle recomputes
    them bit-for-bit. 'xxhash64' keeps the 64-bit array form. The
    signature frame is cached for the duration of the session (see
    minhash_near_duplicates note)."""
    if hash_fn == "md5":
        # fail loud (assert is stripped under -O): chunks=7 would silently
        # cover only 56 of the 60 signature bits, changing candidate recall
        if chunks <= 0 or 60 % chunks != 0:
            raise ValueError(f"chunks must divide 60, got {chunks}")
        width = 60 // chunks
        mask = (1 << width) - 1
        sh = simhash_signature60(df, id_col, text_col).cache()
        seg = sh.select(
            "doc",
            "sig",
            F.posexplode(
                F.array(
                    *[
                        F.shiftright(F.col("sig"), width * j).bitwiseAND(F.lit(mask))
                        for j in range(chunks)
                    ]
                )
            ).alias("seg", "bucket"),
        )
        a, b = seg.alias("a"), seg.alias("b")
        cands = (
            a.join(
                b,
                (F.col("a.seg") == F.col("b.seg"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc") < F.col("b.doc")),
            )
            .select(
                F.col("a.doc").alias("doc_a"),
                F.col("b.doc").alias("doc_b"),
                F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias(
                    "hamming_distance"
                ),
            )
            .distinct()
        )
        return cands.filter(F.col("hamming_distance") <= max_hamming)
    if chunks <= 0 or 64 % chunks != 0:
        # same fail-loud rule as the md5 path: a non-divisor chunk count
        # silently leaves tail bits out of every bucket slice
        raise ValueError(f"chunks must divide 64, got {chunks}")
    sh = simhash_bits(df, id_col, text_col).cache()
    seg = sh.select(
        "doc",
        "bits",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(chunks - 1)),
                lambda i: F.xxhash64(
                    i,
                    F.array_join(
                        F.slice(
                            F.col("bits"),
                            i * (F.size("bits") / chunks).cast("int") + 1,
                            (F.size("bits") / chunks).cast("int"),
                        ),
                        "",
                    ),
                ),
            )
        ).alias("seg", "bucket"),
    )
    a, b = seg.alias("a"), seg.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.seg") == F.col("b.seg"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            hamming(F.col("a.bits"), F.col("b.bits")).alias("hamming_distance"),
        )
        .distinct()
    )
    return cands.filter(F.col("hamming_distance") <= max_hamming)


# --------------------------------------------------------------------------
# Embedding cosine near-dup
# --------------------------------------------------------------------------

def embedding_near_duplicates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int = 0,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Cosine-similar pairs. n_planes=0 → exact all-pairs (test scale);
    n_planes>0 → random-hyperplane LSH: docs whose sign-bit signatures
    match exactly become candidates, then exact cosine verifies.
    Planes are deterministic (seeded numpy) literals broadcast into the
    plan. ``dim`` (vector dimensionality) must be supplied when
    n_planes > 0: Spark array columns carry no fixed width in the
    schema, and probing the first row would put a driver-side data
    action inside a library function. Output: doc_a, doc_b, cos_sim."""
    v = df.select(F.col(id_col).alias("doc"), F.col(vec_col).alias("vec"))
    if n_planes > 0:
        if dim is None:
            raise ValueError(
                "n_planes > 0 requires dim= (vector dimensionality); "
                "not probed from data to avoid a driver-side action"
            )
        from pyspark.sql.functions import pandas_udf

        planes_t = np.random.default_rng(seed).standard_normal((n_planes, dim)).T

        # Arrow-vectorized signature: one numpy matmul per batch. The
        # expression form (n_planes × dim literal dots per row) falls out
        # of whole-stage codegen into interpreted eval — measured ~10×
        # slower than this at 2k×64 dims, and worse as dims grow.
        # sign(raw·p) == sign(normalized·p), so the raw vector is hashed.
        @pandas_udf("long")
        def _bucket(vs: pd.Series) -> pd.Series:
            vv = vs.to_numpy()
            valid = np.array([v is not None for v in vv], dtype=bool)
            out = np.zeros(len(vv), dtype=np.int64)
            if valid.any():
                m = np.vstack(vv[valid]) @ planes_t > 0  # rows × n_planes
                out[valid] = (m * (1 << np.arange(n_planes))).sum(axis=1)
            # null vectors → null bucket (they match nothing)
            return pd.Series(pd.array(out, dtype="Int64")).mask(~valid)

        sig = v.withColumn("bucket", _bucket("vec"))
        a, b = sig.alias("a"), sig.alias("b")
        cond = (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.doc") < F.col("b.doc"))
    else:
        a, b = v.alias("a"), v.alias("b")
        cond = F.col("a.doc") < F.col("b.doc")
    return (
        a.join(b, cond)
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.round(cosine_arrow(F.col("a.vec"), F.col("b.vec")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def semantic_near_duplicates_ivf(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    nprobe: int = 2,
) -> DataFrame:
    """Embedding near-dup pairs bucketed by IVF cells — the k-means
    complement to the random-hyperplane route above, and the standard
    'semantic dedup' shape (SemDeDup-style: cluster, then compare only
    within clusters): candidates are pairs sharing at least one of each
    vector's ``nprobe`` nearest centroids; exact cosine then verifies.

    Multi-assignment (nprobe >= 2) is the recall lever: a near-dup pair
    split across a cell boundary still collides if either of the
    second-choice cells agrees — the same trick as IVF search probing.
    Pairs co-occurring in several cells are emitted once (distinct).

    Scale shape: the centroid table is metadata-scale (k rows) and is
    COLLECTED + closed over in an Arrow mapInPandas — the assignment is
    one narrow corpus pass (numpy matmul per batch, top-nprobe via
    lexsort with centroid-id tie-break), NO shuffle and no N×k exploded
    rows (a window over the crossJoin would shuffle N×k). The only
    shuffle is the candidate self-join on cell id over nprobe×N slim
    rows; within-cell pair counts are bounded by cell sizes, which the
    k-means trainer balances. Null/empty/NaN vectors are dropped (they
    have no meaningful cell or cosine).

    Output: doc_a, doc_b, cos_sim (round 6).
    """
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    cent_rows = sorted(
        (r[0], list(r[1])) for r in centroids.select("centroid_id", "centroid_vec").collect()
    )
    if len(cent_rows) < 2:
        raise ValueError("need >= 2 centroids for cell bucketing")
    nprobe = min(nprobe, len(cent_rows))
    cent_ids = np.array([c for c, _ in cent_rows], dtype=np.int64)
    cmat = np.vstack([v for _, v in cent_rows]).astype(np.float64, copy=False)
    nrm = np.linalg.norm(cmat, axis=1, keepdims=True)
    # fail loud on degenerate centroids: a zero-norm or non-finite row
    # would turn into NaN here and silently receive NO assignments —
    # that cell's docs scatter elsewhere with no error (the trainer
    # never emits one, but this function accepts any centroid frame)
    bad = ~np.isfinite(cmat).all(axis=1) | (nrm.ravel() == 0.0)
    if bad.any():
        raise ValueError(
            f"degenerate centroid(s) {cent_ids[bad].tolist()}: zero-norm or "
            f"non-finite vectors cannot anchor an IVF cell"
        )
    cmat = cmat / nrm

    v = df.select(F.col(id_col).alias("doc"), F.col(vec_col).alias("vec"))
    out_schema = (
        f"doc {v.schema['doc'].dataType.simpleString()}, "
        f"cell bigint, vec {v.schema['vec'].dataType.simpleString()}"
    )

    dim = cmat.shape[1]

    def assign(batches):
        for pdf in batches:
            vv = pdf["vec"].to_numpy()
            keep = []
            for i, x in enumerate(vv):
                # width must match the centroid dim: a stray
                # different-width vector is malformed data and is
                # dropped like a null — it must not crash the whole
                # stage's matrix build (review r5 #2)
                if x is None or len(x) != dim:
                    continue
                ax = np.asarray(x, dtype=np.float64)
                if np.isnan(ax).any() or not np.linalg.norm(ax) > 0:
                    continue
                keep.append(i)
            if not keep:
                continue
            m = np.vstack([np.asarray(vv[i], dtype=np.float64) for i in keep])
            m = m / np.linalg.norm(m, axis=1, keepdims=True)
            sims = m @ cmat.T  # rows × k
            # top-nprobe per row, ties broken by ascending centroid_id
            # (lexsort: last key primary)
            order = np.lexsort((np.broadcast_to(cent_ids, sims.shape), -sims), axis=1)
            top = order[:, :nprobe]  # column indices into cent_ids
            docs = pdf["doc"].to_numpy()[keep]
            vecs = pdf["vec"].to_numpy()[keep]
            yield pd.DataFrame(
                {
                    "doc": np.repeat(docs, nprobe),
                    "cell": cent_ids[top].ravel(),
                    "vec": np.repeat(vecs, nprobe),
                }
            )

    assigned = v.mapInPandas(assign, out_schema)
    a, b = assigned.alias("a"), assigned.alias("b")
    return (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell")) & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.round(cosine_arrow(F.col("a.vec"), F.col("b.vec")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .distinct()
    )


# --------------------------------------------------------------------------
# Near-dup clustering (connected components over candidate pairs)
# --------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 50,
    driver_max_edges: int = 100_000,
) -> DataFrame:
    """Cluster near-duplicate PAIRS into components and name each by its
    minimum member — the step between pair detection (MinHash/SimHash/
    embedding LSH) and survivor selection in a dedup pipeline: every doc
    of a component except the canonical min is a drop candidate.

    Hash-min label propagation (the standard BSP connected-components):
    every vertex starts labeled with itself; each superstep every vertex
    takes the min of its own and its neighbors' labels; converges in
    O(component diameter) supersteps (+1 to observe quiescence — a graph
    whose diameter equals ``max_iters`` still converges). Per iteration:
    one edge⋈label join + one min-aggregation — both shuffle on vertex
    id, nothing larger than |edges| moves, and near-dup graphs are
    sparse (bounded candidate fan-out from LSH banding).

    Generation hygiene: each superstep's labels are persisted and the
    superseded generation unpersisted once its successor materializes
    (two generations live at a time); every 10th superstep additionally
    localCheckpoints to cut the growing lineage (on a cluster with
    unreliable executors, prefer checkpoint() with a checkpoint dir —
    a recompute-after-failure otherwise replays up to 10 joins).

    Only docs that appear in at least one pair are returned (singletons
    are their own cluster trivially — at 10^12 docs, materializing them
    would dwarf the actual dedup signal). Raises after ``max_iters``
    changing supersteps without convergence instead of returning
    partial labels.

    HYBRID: when the symmetrized edge set has at most
    ``driver_max_edges`` rows, a driver-side union-find replaces the
    BSP loop — identical output, one collect instead of O(diameter)
    Spark jobs (per-superstep fixed costs dominate on sparse LSH
    candidate graphs). Set driver_max_edges=0 to force the BSP path.

    Output: doc, cluster (cluster = min doc id of the component).
    """
    # one-pass symmetrize: referencing `pairs` twice in a union would
    # execute the whole upstream pair-generation plan (LSH band
    # self-join + signature joins) TWICE — Spark does not dedupe common
    # subplans
    # a pair with a null endpoint is meaningless as an edge; dropping it
    # up front keeps the driver and BSP paths behaviorally identical
    # (the union-find would TypeError on None, the BSP path would carry
    # a null-label row through)
    pairs = pairs.filter(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(a_col).alias("src"), F.col(b_col).alias("dst")),
                F.struct(F.col(b_col).alias("src"), F.col(a_col).alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    edges = sym.distinct().persist()
    n_edges = edges.count()  # materializes the persist either way
    if n_edges <= driver_max_edges:
        # HYBRID FAST PATH: near-dup edge sets are usually tiny relative
        # to the corpus (LSH candidates, not all-pairs). When the edges
        # fit comfortably on the driver, a union-find finishes in one
        # collect instead of O(diameter) Spark supersteps — identical
        # output (min member names the component), metadata-scale data
        # movement. The BSP path below remains the big-graph route.
        try:
            rows_e = edges.collect()
            parent: dict = {}

            def find(x):
                root = x
                while parent.get(root, root) != root:
                    root = parent[root]
                while parent.get(x, x) != x:  # path compression
                    parent[x], x = root, parent[x]
                return root

            for r in rows_e:
                ra, rb = find(r.src), find(r.dst)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            verts = {r.src for r in rows_e} | {r.dst for r in rows_e}
            out_schema = edges.select(
                F.col("src").alias("doc"), F.col("dst").alias("cluster")
            ).schema
            return edges.sparkSession.createDataFrame(
                [(v, find(v)) for v in sorted(verts)], out_schema
            )
        finally:
            edges.unpersist()
    label_t = edges.schema["src"].dataType
    labels = (
        edges.select(F.col("src").alias("doc"))
        .distinct()
        .withColumn("label", F.col("doc"))
        .persist()
    )
    owner = labels  # persisted/checkpointed handle of the live generation
    labels.count()  # materialize before the loop references it
    try:
        # max_iters + 1: the final allowed pass may be the quiescence
        # observation (changed == 0) for a graph that needed exactly
        # max_iters propagation steps
        for it in range(max_iters + 1):
            nbr = edges.join(
                labels.withColumnRenamed("doc", "dst"), "dst"
            ).select(F.col("src").alias("doc"), "label")
            # FUSED convergence flag (r3 verdict residual #1): the old
            # label rides through the min-aggregation as __old (each
            # doc's self-row carries it; neighbor rows carry null, which
            # min() ignores), so `changed` falls out of the SAME
            # aggregation — no separate old⋈new join + count job per
            # superstep
            fused = (
                labels.select("doc", "label", F.col("label").alias("__old"))
                .unionByName(
                    nbr.select(
                        "doc", "label", F.lit(None).cast(label_t).alias("__old")
                    )
                )
                .groupBy("doc")
                .agg(F.min("label").alias("label"), F.min("__old").alias("__old"))
            )
            if (it + 1) % 10 == 0:
                # lazy: the changed-flag scan below is the action that
                # materializes the checkpoint — still one job
                fused = fused.localCheckpoint(eager=False)
            else:
                fused = fused.persist()
            # ONE action per superstep: the full scan (max over every
            # partition — deliberately not limit(1), which would compute
            # and cache only a prefix) both populates this generation's
            # cache/checkpoint and yields the flag
            changed = fused.agg(
                F.max(F.col("label") != F.col("__old")).alias("c")
            ).first()[0]
            owner.unpersist()  # superseded generation — successor is live
            owner = fused
            labels = fused.select("doc", "label")
            if not changed:
                # hand the caller a self-owned snapshot: localCheckpoint
                # blocks are freed when the returned frame is GC'd,
                # while the internal persist is released in the finally
                # below — no generation outlives this call unowned
                return labels.select(
                    "doc", F.col("label").alias("cluster")
                ).localCheckpoint(eager=True)
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} supersteps "
            f"(component diameter exceeds max_iters?)"
        )
    finally:
        edges.unpersist()
        owner.unpersist()  # final/failed generation — returned frame is
        # its own localCheckpoint, so this cache has no further owner
