"""Corpus hygiene filters: C4 line-level cleaning and Gopher quality
rules.

The two standard pre-dedup hygiene passes of LLM training-data
pipelines, absent from the reference (a metadata app; SURVEY.md §2B
"beyond-reference LLM-pipeline operators"):

- ``clean_lines_c4`` — the line/page filter of C4 (Raffel et al. 2020,
  "Exploring the Limits of Transfer Learning...", §2.2): keep only
  lines that end in terminal punctuation and carry enough words; drop
  the whole page when too few lines survive, or it contains the
  "lorem ipsum" placeholder, or a curly brace (code marker).
- ``gopher_quality_filter`` — the document-level quality rules of
  Gopher (Rae et al. 2021, §A1.1): word-count bounds, mean-word-length
  bounds, symbol-to-word ratio, bullet/ellipsis line fractions,
  alphabetic-word fraction, stopword evidence, duplicate-line
  fraction.

Scale shape: both are PURE per-document scans — array/higher-order
expressions only, ZERO shuffle, no UDFs (the lambdas are Catalyst
expressions, JVM-side; interpreted rather than codegen'd, which is the
right trade at ~tens of lines per doc — the Arrow alternative pays
transfer for no win). Both emit keep/drop DECISIONS plus the evidence
columns, never silently dropping rows — callers filter on the flag,
so a 100 TB run can audit drop rates per source before committing.

NULL contract (both operators): NULL text rows are kept as rows with
``keep = false`` and NULL evidence where no evidence exists — never
silently dropped.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# terminal punctuation per C4: sentence-enders plus closing quote
_C4_TERMINAL_RE = '[.!?"]$'

# Gopher §A1.1 stopword-evidence list (verbatim from the paper)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

# the per-rule evidence booleans gopher_quality_filter emits, in output
# order — THE name list consumers (entry padding, pipeline cleanup)
# should import rather than re-type
GOPHER_RULE_COLS = (
    "ok_word_count",
    "ok_mean_word_len",
    "ok_symbol_ratio",
    "ok_bullet_lines",
    "ok_ellipsis_lines",
    "ok_alpha_words",
    "ok_stopwords",
    "ok_dup_lines",
)


def _words(col: Column) -> Column:
    return F.filter(F.split(col, " "), lambda w: w != "")


def _size0(arr: Column, guard: Column) -> Column:
    """size(arr) with NULL-input pinned to 0 on every Spark version
    (3.x legacy sizeOfNull returns -1, which would leak into counts)."""
    return F.when(guard.isNull(), F.lit(0)).otherwise(F.size(arr))


def clean_lines_c4(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words_per_line: int = 5,
    min_kept_lines: int = 3,
) -> DataFrame:
    """C4 line-level cleaning + page-level drop rules.

    Line keep rule: ends in terminal punctuation (``[.!?"]``) AND has
    at least ``min_words_per_line`` whitespace words. Page drop rules:
    fewer than ``min_kept_lines`` surviving lines, or the raw text
    contains "lorem ipsum" (any case) or ``{``.

    Returns one row per input doc: (id, text = kept lines joined by
    newline — NULL when the page is dropped or input text is NULL,
    n_lines, n_kept_lines, keep). Zero shuffle.
    """
    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(
        lines,
        lambda l: l.rlike(_C4_TERMINAL_RE)
        & (F.size(_words(l)) >= min_words_per_line),
    )
    has_lorem = F.lower(F.col(text_col)).contains("lorem ipsum")
    has_brace = F.col(text_col).contains("{")
    keep = (
        F.col(text_col).isNotNull()
        & (F.size(kept) >= min_kept_lines)
        & ~has_lorem
        & ~has_brace
    )
    return docs.select(
        F.col(id_col),
        F.when(keep, F.array_join(kept, "\n")).alias(text_col),
        _size0(lines, F.col(text_col)).alias("n_lines"),
        _size0(kept, F.col(text_col)).alias("n_kept_lines"),
        F.coalesce(keep, F.lit(False)).alias("keep"),
    )


def _occurrences(col: Column, needle: str) -> Column:
    """Non-overlapping occurrence count via replace-length delta
    (identical semantics in the DuckDB replay)."""
    return (
        F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit("")))
    ) / len(needle)


def gopher_quality_filter(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    max_dup_line_frac: float = 0.3,
    include_input: bool = False,
) -> DataFrame:
    """Gopher §A1.1 document-quality rules, each emitted as its own
    boolean alongside the conjunction ``keep`` — per-rule drop-rate
    audits are the point of keeping the evidence.

    Word = whitespace token; line = newline split; stopword evidence
    counts DISTINCT stopwords present (lowercased); symbol ratio
    counts ``#`` and ``...`` occurrences per word. Single-line docs
    trivially pass the line-fraction rules (fractions are 0 or 1 —
    documented, matches the paper's behavior on unstructured text).
    Zero shuffle; NULL text fails every rule (keep = false, NULL
    evidence)."""
    words = _words(F.col(text_col))
    n_words = F.size(words)
    lines = F.split(F.col(text_col), "\n")
    n_lines = F.size(lines)

    mean_wl = F.try_divide(
        F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w)).cast(
            "double"
        ),
        n_words.cast("double"),
    )
    symbol_ratio = F.try_divide(
        _occurrences(F.col(text_col), "#") + _occurrences(F.col(text_col), "..."),
        n_words.cast("double"),
    )
    bullet_frac = F.try_divide(
        F.size(F.filter(lines, lambda l: l.rlike("^[-*•] "))).cast("double"),
        n_lines.cast("double"),
    )
    ellipsis_frac = F.try_divide(
        F.size(F.filter(lines, lambda l: l.rlike("\\.\\.\\.$"))).cast("double"),
        n_lines.cast("double"),
    )
    alpha_frac = F.try_divide(
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))).cast("double"),
        n_words.cast("double"),
    )
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(words, F.lower)),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    dup_line_frac = F.try_divide(
        (n_lines - F.size(F.array_distinct(lines))).cast("double"),
        n_lines.cast("double"),
    )

    rules = {
        "ok_word_count": (n_words >= min_words) & (n_words <= max_words),
        "ok_mean_word_len": (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len),
        "ok_symbol_ratio": symbol_ratio < max_symbol_word_ratio,
        "ok_bullet_lines": bullet_frac < max_bullet_line_frac,
        "ok_ellipsis_lines": ellipsis_frac < max_ellipsis_line_frac,
        "ok_alpha_words": alpha_frac > min_alpha_word_frac,
        "ok_stopwords": stop_hits >= min_stopword_hits,
        "ok_dup_lines": dup_line_frac < max_dup_line_frac,
    }
    assert tuple(rules) == GOPHER_RULE_COLS  # exported list stays in sync
    keep = F.col(text_col).isNotNull()
    for c in rules.values():
        keep = keep & c
    evidence = [
        # NULL (not 3.x legacy -1) for NULL text on every Spark version
        F.when(F.col(text_col).isNull(), F.lit(None).cast("int"))
        .otherwise(n_words)
        .alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        *[F.coalesce(c, F.lit(False)).alias(name) for name, c in rules.items()],
        F.coalesce(keep, F.lit(False)).alias("keep"),
    ]
    if include_input:
        # pipeline form: original columns + evidence, so a downstream
        # `.filter("keep")` composes with ZERO shuffle (no decision-
        # frame join back onto the corpus)
        evidence_names = {"n_words", "mean_word_len", *rules, "keep"}
        clash = evidence_names & set(docs.columns)
        if clash:
            raise ValueError(
                "gopher_quality_filter(include_input=True): input already "
                f"carries evidence column(s) {sorted(clash)} — rename them "
                "first (ambiguous references otherwise; same discipline as "
                "interval_join's colliding-column guard)"
            )
        return docs.select("*", *evidence)
    return docs.select(F.col(id_col), *evidence)


def gopher_metrics_ctes(
    sfx: str,
    src: str,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    max_dup_line_frac: float = 0.3,
) -> str:
    """THE DuckDB replay of ``gopher_quality_filter`` — every metric
    and rule formula, as a CTE block with names prefixed ``sfx``,
    reading (doc_id, text) from CTE ``src``. ONE definition shared by
    the standalone 'gopher' face oracle and the e2e pipeline oracle so
    the two replays cannot desynchronize (the `_intra_strip_ctes`
    discipline). Consumers read ``{sfx}gq`` (doc_id, nw, mean_wl
    UNROUNDED, the 8 ok_* booleans, keep). The stopword list
    interpolates from the same ``GOPHER_STOPWORDS`` constant the Spark
    operator uses."""
    stops = ",".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    oks = ", ".join(
        [
            f"coalesce(nw >= {min_words} AND nw <= {max_words}, false) AS ok_word_count",
            f"coalesce(mean_wl >= {min_mean_word_len} AND mean_wl <= {max_mean_word_len}, false) AS ok_mean_word_len",
            f"coalesce(symbol_ratio < {max_symbol_word_ratio}, false) AS ok_symbol_ratio",
            f"coalesce(bullet_frac < {max_bullet_line_frac}, false) AS ok_bullet_lines",
            f"coalesce(ellipsis_frac < {max_ellipsis_line_frac}, false) AS ok_ellipsis_lines",
            f"coalesce(alpha_frac > {min_alpha_word_frac}, false) AS ok_alpha_words",
            f"coalesce(stop_hits >= {min_stopword_hits}, false) AS ok_stopwords",
            f"coalesce(dup_line_frac < {max_dup_line_frac}, false) AS ok_dup_lines",
        ]
    )
    keep = (
        f"coalesce(t IS NOT NULL AND nw >= {min_words} AND nw <= {max_words} "
        f"AND mean_wl >= {min_mean_word_len} AND mean_wl <= {max_mean_word_len} "
        f"AND symbol_ratio < {max_symbol_word_ratio} "
        f"AND bullet_frac < {max_bullet_line_frac} "
        f"AND ellipsis_frac < {max_ellipsis_line_frac} "
        f"AND alpha_frac > {min_alpha_word_frac} "
        f"AND stop_hits >= {min_stopword_hits} "
        f"AND dup_line_frac < {max_dup_line_frac}, false)"
    )
    return f"""
{sfx}base AS (
  SELECT doc_id, text AS t,
         list_filter(string_split(text, ' '), w -> w <> '') AS words,
         string_split(text, chr(10)) AS lines
  FROM {src}
), {sfx}m AS (
  SELECT doc_id, t, len(words) AS nw, len(lines) AS nl,
         CASE WHEN len(words) > 0 THEN
           CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE) / len(words)
         END AS mean_wl,
         CASE WHEN len(words) > 0 THEN
           ((length(t) - length(replace(t, '#', ''))) / 1
            + (length(t) - length(replace(t, '...', ''))) / 3) / len(words)
         END AS symbol_ratio,
         len(list_filter(lines, l -> regexp_matches(l, '^[-*•] '))) / len(lines)
           AS bullet_frac,
         len(list_filter(lines, l -> regexp_matches(l, '\\.\\.\\.$'))) / len(lines)
           AS ellipsis_frac,
         CASE WHEN len(words) > 0 THEN
           len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) / len(words)
         END AS alpha_frac,
         len(list_intersect(list_distinct(list_transform(words, w -> lower(w))),
             [{stops}])) AS stop_hits,
         (len(lines) - len(list_distinct(lines))) / len(lines) AS dup_line_frac
  FROM {sfx}base
), {sfx}gq AS (
  SELECT doc_id, nw, mean_wl, {oks}, {keep} AS keep
  FROM {sfx}m
)"""
