"""Unicode text normalization — the corpus-hygiene stage CCNet/C4-style
pipelines run BEFORE tokenizing, fingerprinting, or deduplicating:
un-normalized text makes identical documents hash differently (composed
vs decomposed accents, NBSP vs space, CRLF vs LF) and silently defeats
every downstream dedup/decontamination gram identity.

Canonical rule (ONE definition, applied in this exact order by both the
Spark Arrow pass and the DuckDB SQL builder):

  1. Strip control characters EXCEPT newline and tab
     ([\\x00-\\x08\\x0b-\\x1f\\x7f] — note \\x0d = CR is stripped, so
     CRLF becomes LF). BEFORE NFC, for two reasons: a control char
     between a base and its combining mark would block composition if
     NFC ran first ('e' + BEL + U+0301 should compose once BEL goes),
     and DuckDB's nfc_normalize truncates at an embedded NUL whenever
     it has real normalization work to do (utf8proc C-strings) — the
     strip-first order removes NUL before either engine normalizes.
  2. Unicode NFC normalization (decomposed sequences compose:
     'e' + U+0301 -> 'é').
  3. Map tab and the Unicode space separators (NBSP, OGHAM, EN/EM/...
     U+2000-U+200A, NNBSP, MMSP, IDEOGRAPHIC) to ASCII space.
  4. Collapse runs of spaces to one space.
  5. Trim spaces around newlines (line-edge whitespace).
  6. Strip leading/trailing spaces and newlines.
  7. Optionally lowercase (OFF by default — case matters to some
     downstream scorers; the certified face exercises it ON), with the
     two cross-engine full-vs-simple casing divergences pinned to ONE
     behavior: final sigma folds to σ ('ΑΣ' -> 'ασ' and pre-lowercase
     'ς' -> 'σ' — the Unicode case-FOLD of both sigmas, so positional
     variants of the same Greek word dedup together; Python's
     contextual lower() would emit 'ς', utf8proc's simple lower never
     does), and İ (U+0130) lowers to 'i' + COMBINING DOT ABOVE per
     Unicode SpecialCasing (Python's behavior; utf8proc would drop the
     dot, silently merging Turkish İ/I words).

NULL stays NULL. The regex patterns live in module constants written in
the Python-re ∩ RE2 common dialect (hex escapes for controls, literal
UTF-8 characters for the space class — RE2 lacks \\uXXXX and Python
lacks \\x{...}, so literals are the only shared spelling) and are
interpolated into BOTH engines from the same constants, the
gopher_metrics_ctes shared-builder discipline.

Scale shape: a single zero-shuffle Arrow mapInPandas-free pandas_udf
scan — NFC is not expressible in Catalyst, so this is the legitimate
Pandas-UDF case; everything else rides the same batch to avoid five
extra codegen'd regexp passes over 100 TB of text.
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F

# Python-re ∩ RE2 dialect: two-digit hex escapes only (see module doc)
CTRL_PATTERN = r"[\x00-\x08\x0b-\x1f\x7f]"
# literal characters — the ONLY spelling both dialects share for >0x7f
# (tab, NBSP, OGHAM SPACE MARK, U+2000..200A, NNBSP, MMSP, IDEOGRAPHIC)
SPACE_CHARS = (
    "\t\u00a0\u1680"
    + "".join(chr(c) for c in range(0x2000, 0x200B))
    + "\u202f\u205f\u3000"
)
SPACE_PATTERN = "[" + SPACE_CHARS + "]"

_CTRL_RE = re.compile(CTRL_PATTERN)
_SPACE_RE = re.compile(SPACE_PATTERN)
_MULTISPACE_RE = re.compile(" +")
_LINE_EDGE_RE = re.compile(" *\n *")


def normalize_text_py(s: str | None, lowercase: bool = False) -> str | None:
    """Pure-Python reference implementation of the canonical rule —
    the per-element worker of the Arrow pass and the parity target the
    DuckDB builder is tested against."""
    if s is None:
        return None
    t = _CTRL_RE.sub("", s)
    t = unicodedata.normalize("NFC", t)
    t = _SPACE_RE.sub(" ", t)
    t = _MULTISPACE_RE.sub(" ", t)
    t = _LINE_EDGE_RE.sub("\n", t)
    t = t.strip(" \n")
    if lowercase:
        # .lower() applies SpecialCasing (İ -> i+0307, final sigma);
        # the ς->σ fold pins the sigma rule to the case-fold behavior
        t = t.lower().replace("ς", "σ")
    return t


def normalize_text_arrow(col: Column | str, lowercase: bool = False) -> Column:
    """Column form of the canonical rule (Arrow-batched)."""
    c = F.col(col) if isinstance(col, str) else col
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _norm(xs: pd.Series) -> pd.Series:
        return xs.map(lambda s: normalize_text_py(s, lowercase=lowercase))

    return _norm(c)


def normalize_sql(expr: str, lowercase: bool = False) -> str:
    """DuckDB expression replaying the canonical rule on `expr` —
    nfc_normalize + the SAME regex constants + trim, in the same order.
    Parity with normalize_text_py is unit-tested (tests/test_normalize)
    so the two spellings cannot drift apart."""
    space_class = SPACE_PATTERN.replace("'", "''")
    out = f"""regexp_replace(regexp_replace(
        nfc_normalize(regexp_replace({expr}, '{CTRL_PATTERN}', '', 'g')),
        '{space_class}', ' ', 'g'),
        ' +', ' ', 'g')"""
    # SQL carries the two-char escape `\n`; RE2 parses it as newline
    out = f"trim(regexp_replace({out}, ' *\\n *', chr(10), 'g'), ' ' || chr(10))"
    if lowercase:
        # pre-map İ to i+COMBINING DOT ABOVE (utf8proc's simple lower
        # would drop the dot), post-fold ς->σ (utf8proc never emits ς;
        # input ς folds like Python's rule)
        out = f"replace(lower(replace({out}, chr(304), 'i' || chr(775))), chr(962), chr(963))"
    return out
