"""Text-analysis column expressions for large-scale corpus pipelines.

All pure Catalyst expressions (whole-stage codegen, no Python UDFs):
token counting, character shingles, punctuation/stopword ratios,
quality scoring, language-ID by stopword voting, document
fingerprints. Each has a 1:1 ANSI-SQL translation for DuckDB replay.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F

# small per-language stopword lists for the voting heuristic
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "se", "no"),
    "fr": ("le", "la", "et", "les", "des", "est", "un", "une", "du", "que"),
}

PUNCT_CLASS = r"[.,;:!?]"


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (simple split — BPE-ish regex variant
    below)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


# GPT-2-style pre-tokenization, restricted to the Java-regex ∩ RE2
# dialect (no lookaround, no backreferences; both engines are
# leftmost-first here): English contractions split off,
# Unicode letter runs, digit runs chunked in THREES (the GPT-3.5+
# number tokenization), punctuation/symbol runs, lone apostrophes.
# Whitespace is a separator, not a token (real BPE keeps leading
# spaces via a lookahead RE2 lacks — a certified engine trades that
# for cross-engine bit-parity; token COUNTS, the quantity every
# budget/chunk operator consumes, are unaffected by the space glue).
# The separator class is EXPLICIT [\t\n\x0B\f\r ], never \s: Java's
# \s includes U+000B but RE2's does not, so \s in the negated class
# would tokenize vertical tabs differently per engine (review catch,
# verified empirically on 'a\x0Bb').
BPE_REGEX_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)|\p{L}+|\p{N}{1,3}|[^\p{L}\p{N}\t\n\x0B\f\r ']+|'"
)


def bpe_ish_tokens(text: Column | str) -> Column:
    """BPE-ish pre-tokenization (BPE_REGEX_PATTERN): the token stream a
    byte-pair encoder would merge — the engine's closest stand-in for
    real BPE token budgeting in an offline sandbox. Whole-stage-codegen
    regexp_extract_all (no interpreted higher-order functions);
    replayed verbatim in DuckDB by ``bpe_ish_tokens_sql`` (pattern
    parity pinned over adversarial fixtures in tests)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(BPE_REGEX_PATTERN), 0)


def bpe_ish_tokens_sql(expr: str) -> str:
    """The DuckDB replay of bpe_ish_tokens over a VARCHAR SQL
    expression — lives beside the Column form so the pattern can never
    fork between the engine and an oracle."""
    quoted = BPE_REGEX_PATTERN.replace("'", "''")
    return f"regexp_extract_all({expr}, '{quoted}')"


def char_shingles(text: Column | str, n: int = 5) -> Column:
    """Distinct character n-grams — the MinHash/Jaccard unit.

    NULL text → empty array, NOT [NULL]: greatest(length(NULL)-4, 1)
    is 1 (greatest skips nulls), so the naive form yields a one-element
    [NULL] shingle list — which explode() keeps, giving every null-text
    doc an all-NULL minhash signature whose band buckets all hash the
    empty string (one permanent hot bucket shared by every null doc),
    and which diverges from the SQL oracles (DuckDB's
    generate_series(1, NULL) yields no rows, so null docs have no
    signature there). Empty here → explode drops the row → null-text
    docs have no shingles, no signature, and no bucket in BOTH engines
    (review r5 #1)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.when(
        c.isNotNull(),
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(c) - (n - 1), F.lit(1))),
                lambda i: F.substring(c, i, n),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def punct_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.length(c) - F.length(F.regexp_replace(c, PUNCT_CLASS, ""))


def stopword_hits(text: Column | str, lang: str = "en") -> Column:
    """Distinct stopwords present (array_intersect semantics — matches
    DuckDB list_intersect)."""
    toks = tokens(F.lower(F.col(text) if isinstance(text, str) else text))
    return F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in STOPWORDS[lang]])))


def lang_scores(text: Column | str) -> dict[str, Column]:
    return {lang: stopword_hits(text, lang) for lang in STOPWORDS}


def lang_id(text: Column | str) -> Column:
    """argmax over per-language stopword votes; deterministic
    tie-break by language code order; 'und' (undetermined) when no
    stopword hits at all."""
    scores = lang_scores(text)
    langs = sorted(STOPWORDS)  # deterministic
    best = F.greatest(*[scores[l] for l in langs])
    out = F.lit("und")
    for l in reversed(langs):  # earlier langs win ties → apply in reverse
        out = F.when(scores[l] == best, F.lit(l)).otherwise(out)
    return F.when(best > 0, out).otherwise(F.lit("und"))


def quality_score(text: Column | str) -> Column:
    """Composite quality in [0,1]: length band + mean word length band +
    low punctuation density + stopword presence. Heuristic ranker for
    corpus filtering; monotone pieces, fully codegen."""
    c = F.col(text) if isinstance(text, str) else text
    n_chars = F.length(c).cast("double")
    n_toks = token_count(c).cast("double")
    mean_wl = n_chars / F.greatest(n_toks, F.lit(1.0))
    punct_ratio = punct_count(c).cast("double") / F.greatest(n_chars, F.lit(1.0))
    sw_ratio = stopword_hits(c).cast("double") / F.lit(10.0)
    len_band = F.when((n_chars >= 100) & (n_chars <= 10000), 1.0).otherwise(0.5)
    wl_band = F.when((mean_wl >= 3.0) & (mean_wl <= 10.0), 1.0).otherwise(0.5)
    return F.round(
        F.lit(0.35) * len_band
        + F.lit(0.25) * wl_band
        + F.lit(0.2) * (F.lit(1.0) - F.least(punct_ratio * 10, F.lit(1.0)))
        + F.lit(0.2) * F.least(sw_ratio, F.lit(1.0)),
        6,
    )


def fingerprint_md5(text: Column | str) -> Column:
    """Exact-dedup content fingerprint."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(c)


def portable_hash60(value: Column | str) -> Column:
    """THE engine's portable 60-bit hash: the first 15 md5 hex chars as
    an int64. Reproducible in ANSI SQL as
    ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)`` — every operator
    whose oracle replays hashing (minhash, simhash, sampling buckets)
    must use this ONE helper so the expression can never desynchronize
    across call sites."""
    c = F.col(value) if isinstance(value, str) else value
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def portable_hash60_sql(expr: str) -> str:
    """The DuckDB replay of portable_hash60 over an already-VARCHAR SQL
    expression. Lives beside the Column and Python twins so the three
    call forms can never desynchronize (several oracles previously
    inlined this string by hand — r7 review)."""
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


def portable_hash60_py(value: str) -> int:
    """Python-side twin of portable_hash60, for Arrow UDF bodies that
    hash inside a batch loop (decontamination grams). SAME definition,
    ONE place — int of the first 15 md5 hex chars — so a change to the
    hash can never desynchronize the Column and Python call sites."""
    import hashlib

    return int(hashlib.md5(value.encode("utf-8")).hexdigest()[:15], 16)


GRAM64_B = 1000003
GRAM64_SEED = 1
_U64 = 1 << 64


def gram_hash64_py(toks: list[str]) -> int:
    """THE engine's word-gram identity: a polynomial fold of the
    per-token portable_hash60 values in uint64 wraparound arithmetic,
    reinterpreted as a signed int64 —

        h = SEED; for tok: h = (h*B + hash60(tok)) mod 2^64

    Replayable in DuckDB via HUGEINT (see gram_hash64_sql). Chosen over
    md5-of-the-joined-gram (the pre-r6 identity) because md5 then runs
    once per DISTINCT TOKEN (vocabulary-scale) instead of once per gram
    (corpus-scale), and the per-gram combine vectorizes to n uint64
    multiply-adds in numpy (~4.7× the gram pass, measured). Collision
    universe 2^64 with random 60-bit coefficients — below the old
    60-bit md5 truncation's rate. Scalar reference form; hot paths use
    gram_hashes64_batch."""
    h = GRAM64_SEED
    for t in toks:
        h = (h * GRAM64_B + portable_hash60_py(t)) % _U64
    return h - _U64 if h >= (1 << 63) else h


def gram_hash64_sql(tokhash_list: str, i: str, n: int) -> str:
    """The DuckDB expression computing gram_hash64 over
    ``{tokhash_list}[{i} : {i}+n-1]``, where ``tokhash_list`` is a SQL
    expression of type LIST(HUGEINT) holding per-token portable-hash60
    values and ``i`` a 1-based INT start. Lives beside the Python
    identity so the two can never desynchronize."""
    fold = (
        f"list_reduce(list_prepend(CAST({GRAM64_SEED} AS HUGEINT), "
        f"({tokhash_list})[({i}):({i})+{n - 1}]), "
        f"(acc, x) -> (acc * {GRAM64_B} + x) % 18446744073709551616)"
    )
    # branch-free uint64 -> int64 reinterpretation: ((v + 2^63) mod 2^64)
    # - 2^63 maps [0, 2^63) to itself and [2^63, 2^64) to the negatives,
    # referencing the fold exactly once
    return (
        f"CAST((({fold} + 9223372036854775808) % 18446744073709551616) "
        f"- 9223372036854775808 AS BIGINT)"
    )


def tokhash_list_sql(tok_list: str) -> str:
    """DuckDB expression: per-token portable-hash60 values of a
    LIST(VARCHAR), as LIST(HUGEINT) ready for gram_hash64_sql."""
    return (
        f"list_transform({tok_list}, x -> "
        f"CAST(CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) AS HUGEINT))"
    )


def gram_hashes64_batch(
    tok_lists, n: int, positions: bool = False
) -> list:
    """Vectorized gram_hash64 over a batch of token lists (the Arrow-UDF
    hot path shared by decontamination and substring dedup).

    Returns one entry per input row: with ``positions=False`` a sorted
    DISTINCT int list of the row's gram hashes; with ``positions=True``
    a ``(pos_list, gh_list)`` pair over every occurrence, pos 1-based.
    ``None`` rows and rows shorter than ``n`` tokens yield empty output.

    Shape: md5 once per DISTINCT token in the batch (pd.factorize), one
    flat uint64 polynomial fold (n multiply-adds, natural wraparound),
    then per-row views — no per-gram Python."""
    from itertools import chain

    lens = np.fromiter(
        (0 if t is None else len(t) for t in tok_lists),
        dtype=np.int64,
        count=len(tok_lists),
    )
    flat = list(
        chain.from_iterable(t for t in tok_lists if t is not None and len(t) > 0)
    )
    empty: list = ([], []) if positions else []
    if len(flat) < n:
        return [empty for _ in lens]
    codes, uniq = pd.factorize(np.asarray(flat, dtype=object))
    uh = np.fromiter(
        (portable_hash60_py(u) for u in uniq), dtype=np.int64, count=len(uniq)
    ).astype(np.uint64)
    th = uh[codes]
    G = len(th) - n + 1
    h = np.full(G, GRAM64_SEED, dtype=np.uint64)
    B = np.uint64(GRAM64_B)
    for j in range(n):
        h = h * B + th[j : j + G]
    gh = h.view(np.int64)
    offs = np.concatenate(([0], np.cumsum(lens)))
    out = []
    for d in range(len(lens)):
        m = lens[d] - n + 1
        if m <= 0:
            out.append(empty)
            continue
        seg = gh[offs[d] : offs[d] + m]
        if positions:
            out.append((list(range(1, int(m) + 1)), seg.tolist()))
        else:
            out.append(np.unique(seg).tolist())
    return out


def repetition_features(text: Column | str) -> Column:
    """Gopher-style within-document repetition signals (Rae et al.
    2021, §A1.1 repetition filters), the standard quality gates a
    pre-training pipeline applies per document:

      - ``frac_dup_tokens``   (n_tokens − n_distinct_tokens) / n_tokens
      - ``top_bigram_frac``   occurrences of the most frequent adjacent
                              token pair / (n_tokens − 1); 0.0 below 2
                              tokens
      - ``dup_5gram_frac``    (5-gram occurrences − distinct 5-grams) /
                              occurrences; 0.0 below 5 tokens

    Tokens are the literal single-space split (DuckDB
    ``string_split(text, ' ')``); NULL text → NULL fields. Raw doubles
    — callers round (F.round half-up, matching DuckDB round) before
    hash certification.

    One Arrow pandas_udf, zero shuffle — per-doc stats are
    embarrassingly parallel, so the 100 TB shape is a wide single scan,
    not explode+groupBy+join-back. The body is exact and fully
    vectorized: pd.factorize token codes once per batch, then
    lexsort-run-length group counting over (doc, code…) key columns —
    no per-gram hashing, so engine and SQL oracle can never diverge by
    a hash collision."""
    from itertools import chain

    from pyspark.sql.functions import pandas_udf

    @pandas_udf(
        "struct<frac_dup_tokens: double, top_bigram_frac: double, dup_5gram_frac: double>"
    )
    def _rep(texts: pd.Series) -> pd.DataFrame:
        toks = [t.split(" ") if t is not None else None for t in texts]
        nrows = len(toks)
        lens = np.fromiter(
            (0 if t is None else len(t) for t in toks), dtype=np.int64, count=nrows
        )
        f1 = [None] * nrows
        f2 = [None] * nrows
        f3 = [None] * nrows
        flat = list(chain.from_iterable(t for t in toks if t))
        if flat:
            codes, _ = pd.factorize(np.asarray(flat, dtype=object))
            docidx = np.repeat(np.arange(nrows), lens)

            # distinct tokens per doc: sort (doc, code), count group heads
            order = np.lexsort((codes, docidx))
            dv, cv = docidx[order], codes[order]
            head = np.ones(len(dv), dtype=bool)
            head[1:] = (dv[1:] != dv[:-1]) | (cv[1:] != cv[:-1])
            d1 = np.zeros(nrows, dtype=np.int64)
            np.add.at(d1, dv[head], 1)

            # adjacent-pair (bigram) max multiplicity per doc
            same = docidx[:-1] == docidx[1:]
            bd, b1, b2 = docidx[:-1][same], codes[:-1][same], codes[1:][same]
            maxbig = np.zeros(nrows, dtype=np.int64)
            if len(bd):
                o = np.lexsort((b2, b1, bd))
                sd, s1, s2 = bd[o], b1[o], b2[o]
                h = np.ones(len(sd), dtype=bool)
                h[1:] = (sd[1:] != sd[:-1]) | (s1[1:] != s1[:-1]) | (s2[1:] != s2[:-1])
                starts = np.flatnonzero(h)
                runs = np.diff(np.append(starts, len(sd)))
                np.maximum.at(maxbig, sd[starts], runs)

            # 5-gram occurrences vs distinct per doc
            offs = np.concatenate(([0], np.cumsum(lens)))
            pos_in_doc = np.arange(len(codes)) - offs[docidx]
            valid = pos_in_doc <= lens[docidx] - 5
            st = np.flatnonzero(valid)
            d5 = np.zeros(nrows, dtype=np.int64)
            if len(st):
                gd = docidx[st]
                cols = [codes[st + k] for k in range(5)]
                o = np.lexsort(tuple(reversed(cols)) + (gd,))
                sd = gd[o]
                h = np.ones(len(sd), dtype=bool)
                h[1:] = sd[1:] != sd[:-1]
                for c in cols:
                    cs = c[o]
                    h[1:] |= cs[1:] != cs[:-1]
                np.add.at(d5, sd[h], 1)

            for r in range(nrows):
                if toks[r] is None:
                    continue
                n = int(lens[r])
                f1[r] = (n - int(d1[r])) / n if n > 0 else 0.0
                f2[r] = int(maxbig[r]) / (n - 1) if n >= 2 else 0.0
                occ5 = n - 4
                f3[r] = (occ5 - int(d5[r])) / occ5 if n >= 5 else 0.0
        else:
            for r in range(nrows):
                if toks[r] is not None:
                    f1[r], f2[r], f3[r] = 0.0, 0.0, 0.0
        return pd.DataFrame(
            {"frac_dup_tokens": f1, "top_bigram_frac": f2, "dup_5gram_frac": f3},
            dtype=object,
        )

    c = F.col(text) if isinstance(text, str) else text
    return _rep(c)


def fingerprint_normalized(text: Column | str) -> Column:
    """Order-insensitive fingerprint: md5 of the sorted distinct token
    multiset — catches token-permuted duplicates."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.array_join(F.array_sort(F.split(F.lower(c), " ")), " "))


def rolling_hashes(text: Column | str, n: int = 8, mod: int = 1_000_003) -> Column:
    """Polynomial rolling hash of every n-gram (Rabin–Karp) over unicode
    CODE POINTS, as an array<int> — the winnowing fingerprint unit.
    Built from transform/aggregate; no Python.

    The n-gram sequence is NOT deduplicated: winnowing's sliding-window
    minimum runs over the positional hash sequence, so repeated n-grams
    must keep their positions (array_distinct here would change which
    hash each window selects)."""
    c = F.col(text) if isinstance(text, str) else text
    sh = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(c) - (n - 1), F.lit(1))),
        lambda i: F.substring(c, i, n),
    )
    return F.transform(
        sh,
        lambda s: F.aggregate(
            F.transform(F.split(s, ""), lambda ch: F.ascii(ch)),
            F.lit(0).cast("long"),
            lambda acc, x: (acc * 131 + x) % mod,
        ).cast("int"),
    )


def winnowing_fingerprint(text: Column | str, n: int = 8, window: int = 4) -> Column:
    """Winnowing (Schleimer et al. 2003): min hash in each sliding
    window of the rolling-hash sequence → compact doc fingerprint set.

    Pure-expression form — O(len·n) expression-tree evaluation per row;
    kept for reference/verification (value-identical to the Arrow form,
    see test_winnowing_forms_value_parity). Use
    winnowing_fingerprint_arrow in hot paths (≈100× faster;
    Arrow-vectorized numpy)."""
    c = F.col(text) if isinstance(text, str) else text
    h = rolling_hashes(c, n)
    idx = F.sequence(F.lit(1), F.greatest(F.size(h) - (window - 1), F.lit(1)))
    fp = F.array_distinct(
        F.transform(idx, lambda i: F.array_min(F.slice(h, i, window)))
    )
    # null text → null, empty text → empty set (both align with the
    # Arrow form; F.length(NULL) is null so the when-chain must branch
    # on isNull explicitly)
    return (
        F.when(c.isNull(), F.lit(None).cast("array<int>"))
        .when(F.length(c) > 0, fp)
        .otherwise(F.array().cast("array<int>"))
    )


def winnowing_fingerprint_arrow(
    text: Column | str, n: int = 8, window: int = 4, mod: int = 1_000_003
) -> Column:
    """Arrow-batched winnowing: per-row numpy — code-point Rabin–Karp
    rolling hash via convolution, sliding-window min, distinct. The
    per-row Python is amortized by Arrow batches; the inner math is
    all numpy. This is the 100-TB path.

    Value-identical to winnowing_fingerprint (tested): both hash unicode
    code points (utf-32 here ≙ F.ascii per char there), and the
    convolution weights are pre-reduced mod p so the dot product stays
    ≤ n·p·max_codepoint ≪ 2^63 for any n (the raw 131^i weights would
    overflow int64 from n=9)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    # (Σ x_i·131^(n-1-i)) mod p == (Σ x_i·(131^(n-1-i) mod p)) mod p
    weights = np.empty(n, dtype=np.int64)
    w = 1
    for i in range(n - 1, -1, -1):
        weights[i] = w
        w = (w * 131) % mod

    @pandas_udf(ArrayType(IntegerType()))
    def _winnow(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            b = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
            if len(b) == 0:
                out.append([])
                continue
            if len(b) < n:
                # single short n-gram, same incremental-mod weights
                ws = np.empty(len(b), dtype=np.int64)
                w2 = 1
                for i in range(len(b) - 1, -1, -1):
                    ws[i] = w2
                    w2 = (w2 * 131) % mod
                h = np.array([int(b @ ws) % mod])
            else:
                sw = np.lib.stride_tricks.sliding_window_view(b, n)
                h = (sw @ weights) % mod
            if len(h) >= window:
                mins = np.lib.stride_tricks.sliding_window_view(h, window).min(axis=1)
            else:
                mins = h.min(keepdims=True)
            out.append(np.unique(mins).astype(np.int32))
        return pd.Series(out)

    c = F.col(text) if isinstance(text, str) else text
    return _winnow(c)
