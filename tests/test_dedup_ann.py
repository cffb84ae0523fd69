"""ANN and similarity-search operators on the sf0.001 fixture's 64-dim
embeddings: brute-force and IVF top-k, k-means centroids, and the
cosine / L2 expression forms."""

from __future__ import annotations

import pytest

from schema_drift_detector_spark.operators.ann import (
    assign_cells,
    deterministic_centroids,
    topk_bruteforce,
    topk_ivf,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_topk_null_and_zero_vectors_never_outrank(spark, emb):
    """A NULL embedding must not crash the Arrow cosine, and a zero-norm
    vector must score null (sorted last in desc), never NaN-above-1.0."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    dim = 64
    extra = spark.createDataFrame(
        [(100001, None), (100002, [0.0] * dim)],
        T.StructType([
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]),
    )
    corpus = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")).unionByName(extra)
    top = topk_bruteforce(corpus, emb.filter("vec_id < 2"), k=5).collect()
    ids_ranked = {r.vec_id for r in top}
    assert 100001 not in ids_ranked and 100002 not in ids_ranked
    by_q = {}
    for r in top:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        assert rows[0].vec_id == q and rows[0].cos_sim == 1.0  # self-hit still first


def test_topk_bruteforce_self_hit(spark, emb):
    queries = emb.filter("vec_id < 3")
    top = topk_bruteforce(emb, queries, k=5).collect()
    by_q = {}
    for r in top:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert rows[0].vec_id == qid  # self is nearest
        assert abs(rows[0].cos_sim - 1.0) < 1e-6
        sims = [r.cos_sim for r in rows]
        assert sims == sorted(sims, reverse=True)


def test_ivf_recall_vs_bruteforce(spark, emb):
    queries = emb.filter("vec_id < 8")
    exact = topk_bruteforce(emb, queries, k=5)
    cents = deterministic_centroids(emb, 8).cache()
    index = assign_cells(emb, cents).cache()
    # index covers the whole corpus, each vector exactly one cell
    assert index.count() == emb.count()
    approx = topk_ivf(index, cents, queries, k=5, nprobe=4)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_kmeans_ivf_beats_stride_centroids(spark, emb):
    """Trained centroids should give IVF recall at least as good as the
    stride-picked ones at the same nprobe."""
    from schema_drift_detector_spark.operators.ann import kmeans_centroids

    queries = emb.filter("vec_id < 8")
    exact = {(r.query_id, r.vec_id) for r in topk_bruteforce(emb, queries, k=5).collect()}

    def recall(cents):
        index = assign_cells(emb, cents)
        got = {
            (r.query_id, r.vec_id)
            for r in topk_ivf(index, cents, queries, k=5, nprobe=2).collect()
        }
        return len(exact & got) / len(exact)

    stride = deterministic_centroids(emb, 8)
    trained = kmeans_centroids(emb, 8, iters=3)
    assert trained.count() <= 8  # empty cells may collapse
    r_stride, r_trained = recall(stride), recall(trained)
    assert r_trained >= r_stride - 0.05, (r_trained, r_stride)
    assert r_trained >= 0.5


def test_kmeans_survives_null_element_vectors(spark):
    """A vector with a NULL ELEMENT (Arrow surfaces it as NaN) must
    neither poison centroids into NaN nor silently shrink k via a
    poisoned init pick — it is simply excluded from init and
    training."""
    import math

    from schema_drift_detector_spark.operators.ann import kmeans_centroids

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0]), (2, [0.0, 1.0, 0.0]),
         (3, [0.1, 0.9, 0.0]), (4, [0.5, None, 0.0])],
        "vec_id int, embedding array<double>",
    )
    rows = kmeans_centroids(emb, 2, iters=2).collect()
    assert len(rows) == 2
    assert all(all(not math.isnan(x) for x in r.centroid_vec) for r in rows)


def test_kmeans_zero_norm_vector_never_picked_as_init(spark):
    """A zero-norm vector must be excluded from the INIT pick, not only
    from the Lloyd sums — otherwise the engine trains around a dead zero
    centroid while the SQL replay (which filters zero-norm rows up
    front) picks a different seed and the certification diverges. k
    valid vectors exist, so k centroids come back, all unit-norm."""
    import math

    from schema_drift_detector_spark.operators.ann import kmeans_centroids

    emb = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0]), (2, [0.0, 1.0, 0.0]),
         (3, [0.1, 0.9, 0.0]), (4, [1.0, 0.0, 0.1])],
        "vec_id int, embedding array<double>",
    )
    rows = kmeans_centroids(emb, 2, iters=2).collect()
    assert len(rows) == 2
    for r in rows:
        n = math.sqrt(sum(x * x for x in r.centroid_vec))
        assert abs(n - 1.0) < 1e-9, r  # no dead zero centroid


def test_similarity_expression_forms(spark):
    """l2_distance / cosine expression forms: exact values on known
    vectors (the Arrow cosine path is covered by the ANN tests; these
    are the fallback expression forms on the public surface)."""
    import pyspark.sql.functions as F

    from schema_drift_detector_spark.functions.similarity import cosine, l2_distance

    df = spark.createDataFrame(
        [([3.0, 0.0], [0.0, 4.0]), ([1.0, 0.0], [1.0, 0.0])], "a array<double>, b array<double>"
    )
    got = df.select(
        F.round(l2_distance("a", "b"), 9).alias("l2"),
        F.round(cosine("a", "b"), 9).alias("cos"),
    ).collect()
    assert (got[0].l2, got[0].cos) == (5.0, 0.0)
    assert (got[1].l2, got[1].cos) == (0.0, 1.0)

def test_cosine_arrow_mixed_width_deterministic(spark):
    """A batch mixing vector widths scores every valid same-width pair
    (per-row rule, not batch-composition-dependent); cross-width and
    empty pairs score NULL."""
    import pyspark.sql.functions as F

    from schema_drift_detector_spark.functions.similarity import cosine_arrow

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], [1.0, 0.0]),         # 2-dim identical -> 1.0
            (2, [0.0, 1.0, 0.0], [0.0, 1.0, 0.0]),  # 3-dim identical -> 1.0
            (3, [1.0, 0.0], [1.0, 0.0, 0.0]),    # width mismatch -> NULL
            (4, [], []),                          # empty -> NULL
            (5, None, [1.0]),                     # null side -> NULL
        ],
        "id bigint, a array<double>, b array<double>",
    ).coalesce(1)  # one Arrow batch: the old modal-width rule would
    # have nulled row 2 for being behind row 1's width
    got = {r.id: r.c for r in df.select("id", cosine_arrow("a", "b").alias("c")).collect()}
    assert got[1] == 1.0 and got[2] == 1.0
    assert got[3] is None and got[4] is None and got[5] is None
