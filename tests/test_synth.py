"""Synthesizer invariants (FIXTURES.md F1): determinism across
parallelism, span-sequence ground truth, injected violations."""

from __future__ import annotations

import numpy as np
import pytest

from schema_drift_detector_spark.sources.synth import (
    SynthConfig,
    _gen_docs,
    synth_asset_catalog,
    synth_documents,
)

CFG = SynthConfig(n_docs=400, n_partitions=8, n_assets=2_000)


def test_deterministic_across_batch_slicing():
    ids = np.arange(CFG.n_docs, dtype=np.int64)
    whole = _gen_docs(ids, 0, CFG)
    parts = [_gen_docs(ids[i : i + 37], 0, CFG) for i in range(0, CFG.n_docs, 37)]
    import pandas as pd

    sliced = pd.concat(parts, ignore_index=True)
    assert whole["doc_id"].tolist() == sliced["doc_id"].tolist()
    for a, b in zip(whole["spans"], sliced["spans"]):
        assert list(a) == list(b)


def test_spark_generation_matches_oracle(spark):
    df = synth_documents(spark, CFG, epoch=0, parallelism=7)
    rows = {r.doc_id: r for r in df.collect()}
    # non-dup partitions: doc_id is a pure function of index
    for i in [0, 1, 9, 100, 399]:
        exp = _gen_docs(np.array([i], dtype=np.int64), 0, CFG).iloc[0]
        if exp["doc_id"] not in rows:
            continue
        got = rows[exp["doc_id"]]
        got_spans = [(s.kind, s.text, s.media_ref, s.offset) for s in got.spans]
        exp_spans = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in exp["spans"]]
        assert got_spans == exp_spans, f"span-sequence mismatch for doc {i}"


def test_span_offsets_strictly_increasing(spark):
    df = synth_documents(spark, CFG, epoch=0)
    import pyspark.sql.functions as F

    bad = df.filter(
        ~F.forall(
            F.zip_with(
                F.slice(F.col("spans"), 1, F.size("spans") - 1),
                F.slice(F.col("spans"), 2, F.size("spans") - 1),
                lambda a, b: a["offset"] < b["offset"],
            ),
            lambda x: x,
        )
        & (F.size("spans") > 1)
    ).count()
    assert bad == 0


def test_injected_duplicates_localized(spark):
    cfg = SynthConfig(n_docs=6_400, n_partitions=8, n_assets=2_000)
    df = synth_documents(spark, cfg, epoch=0)
    import pyspark.sql.functions as F

    dups = (
        df.groupBy("doc_id")
        .agg(F.count("*").alias("n"), F.collect_set("partition_id").alias("parts"))
        .filter("n > 1")
        .collect()
    )
    assert len(dups) > 0
    seen_parts = {p for r in dups for p in r.parts}
    assert seen_parts <= set(cfg.dup_partitions)


def test_dangling_refs_only_in_partition_3(spark):
    cfg = SynthConfig(n_docs=6_400, n_partitions=8, n_assets=2_000)
    df = synth_documents(spark, cfg, epoch=0)
    cat = synth_asset_catalog(spark, cfg)
    import pyspark.sql.functions as F

    spans = df.select("partition_id", F.explode("spans").alias("s")).filter(
        F.col("s.media_ref").isNotNull()
    )
    dangling = spans.join(cat, spans["s.media_ref"] == cat["media_ref"], "left_anti")
    parts = {r.partition_id for r in dangling.select("partition_id").distinct().collect()}
    assert parts == {cfg.dangling_partition}


def test_epoch_schemas():
    e0 = _gen_docs(np.arange(10, dtype=np.int64), 0, CFG)
    e1 = _gen_docs(np.arange(10, dtype=np.int64), 1, CFG)
    e2 = _gen_docs(np.arange(10, dtype=np.int64), 2, CFG)
    assert list(e0.columns) == ["doc_id", "spans", "quality", "partition_id", "epoch"]
    assert list(e1.columns) == ["doc_id", "spans", "quality", "partition_id", "epoch", "country"]
    assert list(e2.columns) == ["doc_id", "spans", "quality", "epoch", "partition_id"]
    assert e2["quality"].dtype == object  # int → string type change
