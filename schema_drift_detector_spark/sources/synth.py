"""Deterministic synthesizer for the interleaved documents table
(FIXTURES.md F1–F3) and the asset catalog (F2).

Everything is a pure function of the document index — no RNG state —
so the SAME rows are produced at any parallelism, any partitioning,
and any batch size (mapInPandas slices are irrelevant). That property
is what lets tests assert per-row span-sequence equality
(kind, text, media_ref, order) after arbitrary repartitioning, and what
makes the local[8]-vs-local[32] scaling bench read identical input.

Generation is distributed: spark.range(n_docs) → mapInPandas with
vectorized numpy + a pyarrow ListArray for the spans column (no
per-row Python in the generation hot path).

Epoch drift spec (F3):
  e0  baseline: doc_id, spans, quality:int64, partition_id, epoch
  e1  + country:string at the end
  e2  country removed; quality int→string; doc_id nullable True→False;
      partition_id/epoch ordinals swapped; spans.offset step scaled
      (step*14)//10 + 1 ≈ +50% mean and text null-ratio ×3 in
      partitions DRIFT_PARTITIONS.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..model import SPAN_STRUCT

SPAN_KINDS = ("text", "image", "audio", "table")
COUNTRIES = ("US", "IN", "DE", "BR", "JP", "NG", "FR", "AU")
_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu data span media table audio image corpus epoch drift"
).split()


@dataclass(frozen=True)
class SynthConfig:
    n_docs: int = 2_000
    n_partitions: int = 8
    max_spans: int = 6
    n_assets: int = 50_000
    seed: int = 42
    dup_partitions: tuple[int, ...] = (2, 5)
    dup_every: int = 200          # ≈0.5% dup rate in dup partitions
    dangling_partition: int = 3
    dangling_every: int = 100     # ≈1% dangling media_ref in that partition
    hot_partition: int = 6
    hot_prefix_range: int = 16    # hot doc_id prefix bucket count
    text_null_every: int = 20     # ≈5% of text spans have null text
    drift_partitions: tuple[int, ...] = (1, 4)


def _mix(x: np.ndarray, salt: int) -> np.ndarray:
    """splitmix64 finalizer — vectorized uint64 avalanche hash."""
    with np.errstate(over="ignore"):
        z = x.astype(np.uint64) + np.uint64(salt) * np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _gen_docs(ids: np.ndarray, epoch: int, cfg: SynthConfig) -> pd.DataFrame:
    """Pure function: document indices → generated rows (pandas).

    Shared by the distributed generator and the oracles (the tests and
    perfbench/oracle.py call it directly), guaranteeing the ground truth
    matches by construction.
    """
    n = len(ids)
    ids = ids.astype(np.int64)
    part = (ids % cfg.n_partitions).astype(np.int32)
    seed = cfg.seed + 1000 * epoch

    # --- doc_id with dup + hot-prefix injection -------------------------
    doc_num = ids.copy()
    in_dup_part = np.isin(part, cfg.dup_partitions)
    dup_mask = in_dup_part & ((ids // cfg.n_partitions) % cfg.dup_every == 1) & (
        ids >= cfg.n_partitions
    )
    doc_num[dup_mask] -= cfg.n_partitions  # duplicate the previous doc in-partition
    hot_mask = part == cfg.hot_partition
    hot_bucket = (_mix(ids, seed + 7) % np.uint64(cfg.hot_prefix_range)).astype(np.int64)
    # vectorized "doc-%012d" / "hot-%04d-doc-%012d" formatting
    base_id = np.char.add("doc-", np.char.zfill(doc_num.astype("U12"), 12))
    hot_id = np.char.add(
        np.char.add("hot-", np.char.zfill(hot_bucket.astype("U4"), 4)),
        np.char.add("-", base_id),
    )
    doc_id = np.where(hot_mask, hot_id, base_id)

    # --- spans ----------------------------------------------------------
    n_spans = (1 + (_mix(ids, seed + 1) % np.uint64(cfg.max_spans))).astype(np.int64)
    total = int(n_spans.sum())
    doc_ix = np.repeat(np.arange(n), n_spans)          # local row index per span
    span_j = np.arange(total) - np.repeat(np.cumsum(n_spans) - n_spans, n_spans)
    gid = ids[doc_ix]                                   # global doc index per span
    h = _mix(gid * np.int64(31) + span_j, seed + 2)

    kind_ix = np.where(h % np.uint64(5) < np.uint64(3), 0, 1 + (h % np.uint64(3)).astype(np.int64))
    kind = np.array(SPAN_KINDS)[kind_ix]
    is_text = kind_ix == 0

    # text: 3 deterministic words; some text spans carry null text
    w = _mix(gid * np.int64(131) + span_j, seed + 3)
    null_every = cfg.text_null_every
    if epoch >= 2:
        null_every = max(2, cfg.text_null_every // 3)  # null_ratio ×3 drift
        null_mask_drift = np.isin(part[doc_ix], cfg.drift_partitions)
    else:
        null_mask_drift = np.zeros(total, dtype=bool)
    base_null = (w % np.uint64(cfg.text_null_every)) == np.uint64(0)
    drift_null = (w % np.uint64(null_every)) == np.uint64(0)
    text_null = np.where(null_mask_drift, drift_null, base_null)
    nw = len(_WORDS)
    words = np.array(_WORDS)
    w1 = words[(w % np.uint64(nw)).astype(np.int64)]
    w2 = words[((w >> np.uint64(8)) % np.uint64(nw)).astype(np.int64)]
    w3 = words[((w >> np.uint64(16)) % np.uint64(nw)).astype(np.int64)]
    text_vals = np.char.add(np.char.add(np.char.add(np.char.add(w1, " "), w2), " "), w3)
    text = np.where(is_text & ~text_null, text_vals, None)

    # media_ref: non-text spans reference the asset catalog; partition
    # DANGLING gets out-of-range refs at a fixed cadence
    m = _mix(gid * np.int64(257) + span_j, seed + 4)
    asset_ix = (m % np.uint64(cfg.n_assets)).astype(np.int64)
    dangling = (
        (part[doc_ix] == cfg.dangling_partition)
        & ((m % np.uint64(cfg.dangling_every)) == np.uint64(1))
    )
    asset_ix = np.where(dangling, cfg.n_assets + (asset_ix % 1000), asset_ix)
    # U12 (not U8): %08d is a MINIMUM width — for catalogs >= 10^8
    # assets the id string grows past 8 chars and a U8 dtype would
    # silently truncate it, manufacturing dangling refs + collisions
    media_ref = np.where(
        ~is_text, np.char.add("asset-", np.char.zfill(asset_ix.astype("U12"), 8)), None
    )

    # offset: strictly increasing within a doc; e2 drift scales the
    # step by (x*14)//10 + 1 (~+50% mean — the +1 keeps every step
    # strictly larger, so drift is unambiguous at any step size)
    step = 1 + (_mix(gid * np.int64(63) + span_j, seed + 5) % np.uint64(10)).astype(np.int64)
    if epoch >= 2:
        step = np.where(np.isin(part[doc_ix], cfg.drift_partitions), (step * 14) // 10 + 1, step)
    # offset_j = sum(step_0..j-1) within the doc → 0-based, strictly increasing
    excl = np.cumsum(step) - step  # exclusive prefix sum over all spans
    first = np.cumsum(n_spans) - n_spans  # index of each doc's first span
    offset = (excl - np.repeat(excl[first], n_spans)).astype(np.int64)

    span_struct = pa.StructArray.from_arrays(
        [
            pa.array(kind, type=pa.string()),
            pa.array(text, type=pa.string()),
            pa.array(media_ref, type=pa.string()),
            pa.array(offset, type=pa.int32()),
        ],
        names=["kind", "text", "media_ref", "offset"],
    )
    offsets32 = np.zeros(n + 1, dtype=np.int32)
    offsets32[1:] = np.cumsum(n_spans).astype(np.int32)
    spans_arr = pa.ListArray.from_arrays(pa.array(offsets32, type=pa.int32()), span_struct)

    quality = ((_mix(ids, seed + 6) % np.uint64(100)).astype(np.int64)) + 1
    out = pd.DataFrame(
        {
            "doc_id": doc_id,
            "spans": spans_arr.to_pandas(),
            "quality": quality,
            "partition_id": part,
            "epoch": np.int32(epoch),
        }
    )
    if epoch == 1:
        cix = (_mix(ids, seed + 8) % np.uint64(len(COUNTRIES))).astype(np.int64)
        out["country"] = np.array(COUNTRIES)[cix]
    if epoch >= 2:
        out["quality"] = out["quality"].astype(str)            # type change int→string
        out = out[["doc_id", "spans", "quality", "epoch", "partition_id"]]  # ordinal swap
    return out


def documents_schema(epoch: int) -> T.StructType:
    span = T.ArrayType(SPAN_STRUCT)
    if epoch >= 2:
        return T.StructType(
            [
                T.StructField("doc_id", T.StringType(), False),  # nullable flip
                T.StructField("spans", span, True),
                T.StructField("quality", T.StringType(), True),
                T.StructField("epoch", T.IntegerType(), True),
                T.StructField("partition_id", T.IntegerType(), True),
            ]
        )
    fields = [
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("spans", span, True),
        T.StructField("quality", T.LongType(), True),
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("epoch", T.IntegerType(), True),
    ]
    if epoch == 1:
        fields.append(T.StructField("country", T.StringType(), True))
    return T.StructType(fields)


def synth_documents(
    spark: SparkSession,
    cfg: SynthConfig = SynthConfig(),
    epoch: int = 0,
    parallelism: int | None = None,
) -> DataFrame:
    """Distributed deterministic generation of the documents table."""
    schema = documents_schema(epoch)
    cols = [f.name for f in schema.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids = b["id"].to_numpy()
            yield _gen_docs(ids, epoch, cfg)[cols]

    n_slices = parallelism or max(8, cfg.n_partitions)
    base = spark.range(0, cfg.n_docs, numPartitions=n_slices)
    return base.mapInPandas(gen, schema=schema)


def synth_asset_catalog(spark: SparkSession, cfg: SynthConfig = SynthConfig()) -> DataFrame:
    """F2: every non-dangling media_ref the generator can emit.
    Built-ins only; broadcastable at test scale, arbitrarily large in
    production (the RI join falls back to shuffle-hash)."""
    return (
        spark.range(0, cfg.n_assets)
        .select(
            F.format_string("asset-%08d", F.col("id")).alias("media_ref"),
            F.format_string("A%010d", F.col("id")).alias("asset_id"),
            F.element_at(
                F.array(F.lit("image"), F.lit("audio"), F.lit("table")),
                (F.col("id") % 3 + 1).cast("int"),
            ).alias("kind"),
            (F.pmod(F.hash(F.col("id").cast("string")), F.lit(10_000_000)) + 1024)
            .cast("long")
            .alias("size_bytes"),
        )
    )
