"""Substring-level exact dedup: strip word n-gram runs shared across
documents (boilerplate headers/footers/licenses) from otherwise-unique
docs.

Document-granular dedup (exact md5, MinHash/LSH, SimHash, SemDeDup)
cannot catch a UNIQUE document carrying a duplicated
footer: the doc as a whole is not a near-dup of anything, yet a shared
license block repeated across 10^8 pages is exactly the memorization
hazard substring dedup exists for (the "exact substring" pass of
Lee et al. 2022, "Deduplicating Training Data Makes Language Models
Better" — there over suffix-array byte runs; here over the engine's
portable word n-grams so the pass is DuckDB-certifiable and composes
with the decontamination gram machinery). The reference engine has no
data plane, so this is an LLM-pipeline-first-class operator, not a
parity one (r5 verdict, Next round #2).

Semantics (deterministic, cross-engine replayable):
  - Tokens are the literal single-space split of ``text_col`` (DuckDB
    ``string_split(text, ' ')``) — NOT the lowercased alphanumeric
    decontamination tokens — because the cleaned text must be
    reconstructible from the kept tokens verbatim.
  - A gram is ``n`` consecutive tokens; its identity is the engine's
    64-bit gram hash (functions.text.gram_hash64_py — uint64 polynomial
    fold of per-token portable-hash60 values, DuckDB-replayable via
    HUGEINT arithmetic).
  - A gram is BOILERPLATE iff its document frequency (count of
    DISTINCT docs containing it) >= ``min_df``.
  - A token is removed iff it is covered by any boilerplate gram
    occurrence in its document; the cleaned text is the remaining
    tokens joined by ' ' (may be '' when a doc is pure boilerplate —
    substring dedup assumes exact dedup ran first, so whole-doc
    duplicates reaching min_df are legitimately emptied).

Scale shape (the part that must survive 100 TB):
  - Gram extraction is one corpus scan, narrow explode of (id, pos,
    gram_hash) — 8-byte hashes, never gram strings.
  - Document frequency is the one unavoidable big shuffle: distinct
    (gram_hash, doc) then count by gram_hash — the same shape as every
    distributed suffix/gram pass; partial aggregation applies and no
    row carries text.
  - The boilerplate gram set joins back via a plain equi-join on
    gram_hash: its size is data-dependent (unlike decontamination's
    by-construction-tiny eval side), so the default lets AQE pick
    broadcast vs shuffle at runtime; only HIT rows (boilerplate
    occurrences) reach the per-doc aggregation.
  - The corpus-side rewrite joins per-doc hit-start arrays back on the
    doc id: docs with no boilerplate pass through a left join with a
    null array. ``broadcast_hits=True`` forces broadcasting the
    hit-start side when the caller knows the boilerplate doc fraction
    is small (the common case), keeping the corpus unshuffled.
  - The token rewrite itself is ONE Arrow pandas_udf (difference-array
    run coverage, numpy cumsum) — no per-token rows ever materialize.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def token_gram_occurrences(text: Column | str, n: int) -> Column:
    """struct<pos: array<int>, gh: array<long>> — parallel arrays of
    every n-gram occurrence of the single-space token split of
    ``text``: pos[i] is the 1-based index of the gram's FIRST token
    (DuckDB ``generate_series`` convention, so oracles replay positions
    verbatim), gh[i] its portable 60-bit hash. Occurrences, not
    distinct grams — coverage needs every start. Null text or fewer
    than ``n`` tokens yields empty arrays.

    Two primitive arrays, NOT array<struct<pos,gh>>: Arrow
    serialization of a list-of-struct column measured several times the
    Python body — parallel primitive lists keep the transfer flat, and
    consumers that only need the hashes (the df count) explode ``gh``
    alone without paying for positions at all. The body is the shared
    vectorized gram pass (functions.text.gram_hashes64_batch — md5 per
    DISTINCT token + one flat uint64 fold, not md5 per gram)."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    from pyspark.sql.functions import pandas_udf

    from ..functions.text import gram_hashes64_batch

    @pandas_udf("struct<pos: array<int>, gh: array<long>>")
    def _grams(texts: pd.Series) -> pd.DataFrame:
        toks = [t.split(" ") if t is not None else None for t in texts]
        pairs = gram_hashes64_batch(toks, n, positions=True)
        return pd.DataFrame(
            {"pos": [p for p, _ in pairs], "gh": [g for _, g in pairs]}
        )

    c = F.col(text) if isinstance(text, str) else text
    return _grams(c)


def _validate_min_df(min_df: int) -> None:
    if min_df < 2:
        raise ValueError(f"min_df must be >= 2 (a gram unique to one doc "
                         f"is content, not boilerplate), got {min_df}")


def _boilerplate_from_occurrences(occ: DataFrame, id_col: str, min_df: int) -> DataFrame:
    """df-threshold rule over an exploded (id, gh) occurrence frame —
    THE single definition shared by boilerplate_grams and the
    materialize_grams fast path, so the rule can never fork."""
    return (
        occ.select(F.col(id_col), "gh")
        .distinct()
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("gh")
    )


def boilerplate_grams(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_df: int = 2,
) -> DataFrame:
    """The boilerplate gram-hash set: one column ``gh`` holding every
    gram hash whose document frequency (DISTINCT docs) >= ``min_df``.
    One scan + one narrow shuffle of (gh, id) pairs."""
    _validate_min_df(min_df)
    occ = docs.select(
        F.col(id_col),
        F.explode(token_gram_occurrences(text_col, n)["gh"]).alias("gh"),
    )
    return _boilerplate_from_occurrences(occ, id_col, min_df)


def substring_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_df: int = 2,
    broadcast_hits: bool = False,
    materialize_grams: bool = False,
) -> DataFrame:
    """Strip every boilerplate-gram-covered token from every document.

    Returns ``docs``'s columns with ``text_col`` REPLACED by the
    cleaned text, plus ``n_tokens`` (original token count) and
    ``n_removed`` (tokens stripped; 0 for untouched docs). If the input
    already carries ``n_tokens``/``n_removed`` (pipelines often
    precompute token counts), those columns are OVERWRITTEN — the
    output always has exactly one of each, positioned last. Null text
    passes through as null with n_tokens = n_removed = 0.

    ``broadcast_hits=True`` broadcasts the per-doc hit-start arrays so
    the corpus never shuffles — use when boilerplate-carrying docs are
    a small fraction (the common case); the default plain join lets
    AQE decide from the measured hit size.

    ``materialize_grams=True`` localCheckpoints the slim exploded
    (id, pos, gh) gram frame so the gram pass runs ONCE instead of
    once per consumer (df count + coverage) — measured ~1.6× the whole
    operator at sf0.1. Default OFF because it is the 100 TB-unsafe
    choice: gram rows are ~12 bytes × corpus tokens (often larger than
    the text itself), and re-running the vectorized gram pass against
    the OS page cache beats writing that frame to executor disks at
    full scale. Turn it on when the corpus (or the gram frame) fits
    comfortably on local storage.
    """
    from pyspark.sql.functions import pandas_udf

    _validate_min_df(min_df)
    g = docs.select(F.col(id_col), token_gram_occurrences(text_col, n).alias("g"))
    occ = g.select(
        F.col(id_col),
        F.explode(F.arrays_zip(F.col("g.pos"), F.col("g.gh"))).alias("z"),
    ).select(id_col, F.col("z.pos").alias("pos"), F.col("z.gh").alias("gh"))
    if materialize_grams:
        occ = occ.localCheckpoint(eager=False)
        boiler = _boilerplate_from_occurrences(occ, id_col, min_df)
    else:
        # boilerplate_grams explodes only the hash array (positions are
        # paid for only on the hit branch below); Spark recomputes the
        # gram udf per consumer — the deliberate at-scale default (see
        # materialize_grams above)
        boiler = boilerplate_grams(docs, id_col, text_col, n, min_df)
    hit_starts = (
        occ.join(boiler, "gh")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("pos")).alias("__starts"))
    )
    rhs = F.broadcast(hit_starts) if broadcast_hits else hit_starts

    import numpy as np

    @pandas_udf("struct<cleaned: string, n_tokens: int, n_removed: int>")
    def _strip(texts: pd.Series, starts_lists: pd.Series) -> pd.DataFrame:
        cleaned, n_toks, n_rem = [], [], []
        for t, starts in zip(texts, starts_lists):
            if t is None:
                cleaned.append(None)
                n_toks.append(0)
                n_rem.append(0)
                continue
            toks = t.split(" ")
            if starts is None or len(starts) == 0:
                cleaned.append(t)
                n_toks.append(len(toks))
                n_rem.append(0)
                continue
            # difference-array run coverage: O(tokens + starts), no
            # per-token materialization outside this batch
            mark = np.zeros(len(toks) + 1, dtype=np.int64)
            for j in starts:  # 1-based gram starts covering [j, j+n-1]
                mark[j - 1] += 1
                mark[min(j - 1 + n, len(toks))] -= 1
            cov = np.cumsum(mark[:-1]) > 0
            cleaned.append(" ".join(tok for tok, c in zip(toks, cov) if not c))
            n_toks.append(len(toks))
            n_rem.append(int(cov.sum()))
        return pd.DataFrame({"cleaned": cleaned, "n_tokens": n_toks, "n_removed": n_rem})

    out_cols = [
        F.col(c) if c != text_col else F.col("__sub.cleaned").alias(text_col)
        for c in docs.columns
        # pre-existing counts are superseded by this pass's (see docstring)
        if c not in ("n_tokens", "n_removed")
    ]
    return (
        docs.join(rhs, id_col, "left")
        .withColumn("__sub", _strip(F.col(text_col), F.col("__starts")))
        .select(*out_cols, F.col("__sub.n_tokens").alias("n_tokens"),
                F.col("__sub.n_removed").alias("n_removed"))
    )


def strip_repeated_runs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Intra-document repetition STRIP — the removal half of the Gopher
    repetition hygiene pass (functions.text.repetition_features measures
    frac_dup_tokens/top_bigram_frac/dup_5gram_frac; this removes the
    runs those signals flag). Complements substring_dedup, which strips
    runs repeated ACROSS documents: a crawl page that repeats its own
    nav block 40 times is unique corpus-wide yet still the memorization
    hazard.

    Rule (deterministic, DuckDB-replayable): a token is removed iff it
    is covered by a NON-FIRST occurrence of a word ``n``-gram whose
    identical gram (same gram_hash64) occurred EARLIER in the same
    document — i.e. exactly one copy of every repeated run survives, at
    its first position. For periodic text the survivor is one period:
    'a b c' × 40 with n=3 keeps 'a b c'. Tokens are the literal
    single-space split (reconstructible verbatim, same contract as
    substring_dedup). Null text passes through null with
    n_tokens = n_removed = 0; pre-existing n_tokens/n_removed columns
    are overwritten (same discipline as substring_dedup).

    Scale shape: repetition is doc-LOCAL, so unlike the cross-doc pass
    there is no df shuffle, no join — the whole operator is ONE Arrow
    pandas_udf over the text column (vectorized gram hashing via
    gram_hashes64_batch, pd.duplicated for the first-occurrence mask,
    difference-array run coverage). Zero Exchange at any scale;
    embarrassingly parallel over whatever partitioning the corpus
    already has."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from ..functions.text import gram_hashes64_batch

    @pandas_udf("struct<cleaned: string, n_tokens: int, n_removed: int>")
    def _strip_runs(texts: pd.Series) -> pd.DataFrame:
        tok_lists = [t.split(" ") if t is not None else None for t in texts]
        grams = gram_hashes64_batch(tok_lists, n, positions=True)
        cleaned, n_toks, n_rem = [], [], []
        for toks, (pos, gh) in zip(tok_lists, grams):
            if toks is None:
                cleaned.append(None)
                n_toks.append(0)
                n_rem.append(0)
                continue
            n_toks.append(len(toks))
            if not gh:
                cleaned.append(" ".join(toks))
                n_rem.append(0)
                continue
            # positions are the consecutive 1..m occurrence starts, so the
            # duplicated mask indexes map straight to 1-based gram starts
            dup = pd.Series(gh).duplicated(keep="first").to_numpy()
            starts = np.nonzero(dup)[0]  # 0-based = (1-based start) - 1
            if len(starts) == 0:
                cleaned.append(" ".join(toks))
                n_rem.append(0)
                continue
            mark = np.zeros(len(toks) + 1, dtype=np.int64)
            np.add.at(mark, starts, 1)
            np.add.at(mark, np.minimum(starts + n, len(toks)), -1)
            cov = np.cumsum(mark[:-1]) > 0
            cleaned.append(" ".join(tok for tok, c in zip(toks, cov) if not c))
            n_rem.append(int(cov.sum()))
        return pd.DataFrame({"cleaned": cleaned, "n_tokens": n_toks, "n_removed": n_rem})

    out_cols = [
        F.col(c) if c != text_col else F.col("__rr.cleaned").alias(text_col)
        for c in docs.columns
        if c not in ("n_tokens", "n_removed")
    ]
    return docs.withColumn("__rr", _strip_runs(F.col(text_col))).select(
        *out_cols,
        F.col("__rr.n_tokens").alias("n_tokens"),
        F.col("__rr.n_removed").alias("n_removed"),
    )
