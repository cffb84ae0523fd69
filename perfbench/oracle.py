"""Expected answers for the benchmark's validation calls, derived from the
generator's configuration (``SynthConfig``) and seed alone — never from
the engine under test.

What the generator injects (sources/synth.py):
  - duplicate doc_ids in ``dup_partitions``: the doc with index ``i``
    (``(i // P) % dup_every == 1``, ``i >= P``) reuses the doc_id of
    index ``i - P``, so each injected duplicate makes two violating rows;
  - dangling media_refs in ``dangling_partition`` (catalog index past
    ``n_assets``), counted here by generating that partition's rows;
  - on epoch 2, a shifted offset distribution in ``drift_partitions``.
    Span kinds keep their mix in every epoch, so categorical drift fails
    nowhere.
The benchmark adds one hot doc_id (``with_hot_key``) carried by about
10% of the rows, all in ``HOT_PARTITIONS``; every such row violates
uniqueness.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from schema_drift_detector_spark.sources.synth import SynthConfig, _gen_docs

HOT_PARTITIONS = (6, 7)  # hold no injected duplicates: a doc_id's numeric tail is its index
HOT_EVERY, HOT_BELOW = 5, 2  # rows with (index // P) % 5 < 2: 40% of each hot partition

# decision by (previous epoch, epoch); None = first snapshot in the store
DECISIONS = {
    (None, 1): "auto_heal",  # first snapshot: every field is an add
    (None, 2): "auto_heal",
    (0, 1): "auto_heal",  # add country
    (1, 2): "pause",  # remove country: critical
    (2, 0): "auto_heal",  # quality string -> bigint, country stays absent
}


def hot_key(seed: int) -> str:
    return f"hot-doc-{seed}"


def with_hot_key(docs: DataFrame, cfg: SynthConfig) -> DataFrame:
    """Give the hot rows one shared doc_id. The row's index is the numeric
    tail of its generated doc_id (hot partitions hold no injected
    duplicates, so the tail is the index itself)."""
    index = F.substring_index("doc_id", "-", -1).cast("long")
    hot = F.col("partition_id").isin(*HOT_PARTITIONS) & (
        F.pmod(F.floor(index / cfg.n_partitions), F.lit(HOT_EVERY)) < HOT_BELOW
    )
    return docs.withColumn(
        "doc_id", F.when(hot, F.lit(hot_key(cfg.seed))).otherwise(F.col("doc_id"))
    )


@dataclass
class Expected:
    """Per (constraint, partition_id): the verdict and the number of
    violation rows; plus the policy decision of the call."""

    passed: dict[tuple[str, int], bool] = field(default_factory=dict)
    violation_rows: dict[tuple[str, int], int] = field(default_factory=dict)
    decision: str = ""


def _partition_ids(cfg: SynthConfig, p: int) -> np.ndarray:
    return np.arange(p, cfg.n_docs, cfg.n_partitions, dtype=np.int64)


def _uniqueness_rows(cfg: SynthConfig, hot: bool) -> dict[int, int]:
    rows = {}
    for p in range(cfg.n_partitions):
        ids = _partition_ids(cfg, p)
        n = 0
        if p in cfg.dup_partitions:
            n += 2 * int(
                np.count_nonzero(((ids // cfg.n_partitions) % cfg.dup_every == 1) & (ids >= cfg.n_partitions))
            )
        if hot and p in HOT_PARTITIONS:
            n += int(np.count_nonzero((ids // cfg.n_partitions) % HOT_EVERY < HOT_BELOW))
        rows[p] = n
    return rows


def _dangling_rows(cfg: SynthConfig, epoch: int) -> dict[int, int]:
    rows = dict.fromkeys(range(cfg.n_partitions), 0)
    p = cfg.dangling_partition
    if 0 <= p < cfg.n_partitions:
        refs = [
            s["media_ref"]
            for spans in _gen_docs(_partition_ids(cfg, p), epoch, cfg)["spans"]
            for s in spans
            if s["media_ref"] is not None
        ]
        rows[p] = sum(int(r.rsplit("-", 1)[1]) >= cfg.n_assets for r in refs)
    return rows


class Oracle:
    """Expected answers for one generator config; the per-epoch parts are
    computed once and reused by every call."""

    def __init__(self, cfg: SynthConfig, hot: bool):
        self.cfg = cfg
        self._uq = _uniqueness_rows(cfg, hot)
        self._ri: dict[int, dict[int, int]] = {}

    def expect(self, epoch: int, prev_epoch: int | None, drift_checks: bool) -> Expected:
        cfg = self.cfg
        exp = Expected(decision=DECISIONS[(prev_epoch, epoch)])
        if epoch not in self._ri:
            self._ri[epoch] = _dangling_rows(cfg, epoch)
        for p in range(cfg.n_partitions):
            for constraint, rows in (("uniqueness", self._uq), ("referential_integrity", self._ri[epoch])):
                exp.passed[(constraint, p)] = rows[p] == 0
                if rows[p]:
                    exp.violation_rows[(constraint, p)] = rows[p]
            if drift_checks:
                shifted = epoch == 2 and p in cfg.drift_partitions
                exp.passed[("distribution_drift", p)] = not shifted
                exp.passed[("quantile_drift", p)] = not shifted
                exp.passed[("categorical_drift", p)] = True
        return exp


def mismatches(env: dict, verdicts: list, violation_counts: list, exp: Expected) -> list[str]:
    """Compare one call's envelope, verdict rows (constraint, partition_id,
    passed) and violation counts (constraint, partition_id, count) with
    the expected answer; returns one line per difference."""
    out = []
    if env["decision"] != exp.decision:
        out.append(f"decision {env['decision']} != {exp.decision}")
    got = {(r[0], int(r[1])): bool(r[2]) for r in verdicts}
    if len(got) != len(verdicts):
        out.append(f"{len(verdicts) - len(got)} duplicated verdict rows")
    for key in sorted(set(got) | set(exp.passed)):
        if got.get(key) != exp.passed.get(key):
            out.append(f"verdict {key}: {got.get(key)} != {exp.passed.get(key)}")
    counts = {(r[0], int(r[1])): int(r[2]) for r in violation_counts}
    if counts != exp.violation_rows:
        out.append(f"violation rows {sorted(counts.items())} != {sorted(exp.violation_rows.items())}")
    return out
