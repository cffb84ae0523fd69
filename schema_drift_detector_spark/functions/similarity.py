"""Vector similarity — expression forms (F.zip_with + F.aggregate) and
the Arrow-vectorized cosine used in the ANN hot paths.

Why two tiers: Catalyst's higher-order array functions (transform /
zip_with / aggregate) are NOT whole-stage-codegen'd — they evaluate
per element with interpreter overhead (~100µs per 64-dim dot measured
here), which floors every vector operator. `cosine_arrow` moves the
same float64 math into one numpy matmul per Arrow batch (~1000×
fewer interpreter dispatches); the expression forms remain for small
metadata-scale uses and as the SQL-translatable reference semantics.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(x: Column | str) -> Column:
    return F.col(x) if isinstance(x, str) else x


def dot(a: Column | str, b: Column | str) -> Column:
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(_c(a), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def l2_distance(a: Column | str, b: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(
                _c(a), _c(b),
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def normalize(a: Column | str) -> Column:
    """Unit-normalize once upstream so pairwise cosine becomes a plain
    dot product — the standard trick to keep the O(n·k) ANN inner loop
    multiply-add only.

    try_divide, not `/`: under Spark 4's default ANSI mode a plain
    double division by zero THROWS, so one zero-norm vector anywhere in
    the corpus would abort the whole job. try_divide yields NULL
    elements instead, which Arrow surfaces as NaN — exactly the
    poisoned-row shape every downstream consumer (Lloyd partials, ANN
    scoring) already masks out."""
    n = norm(a)
    return F.transform(_c(a), lambda x: F.try_divide(x.cast("double"), n))


def cosine_arrow(a: Column | str, b: Column | str) -> Column:
    """Arrow-vectorized cosine similarity between two vector columns of
    equal length: per batch, stack both sides into (rows × dim) float64
    matrices and compute row-wise dot / norms in numpy. Same float64
    math as ``cosine``; rounding differences vs the left-fold expression
    form are below the 6-dp precision every caller rounds to.

    DELIBERATE divergence on degenerate inputs: NULL vectors and
    zero-norm vectors score NULL here (sorts last under desc, drops
    under isNotNull) whereas the expression form produces NaN for a
    zero norm — NaN desc-sorts ABOVE every real number in Spark, which
    made zero vectors rank first in top-k. Prefer this form."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(xs: pd.Series, ys: pd.Series) -> pd.Series:
        n = len(xs)
        if n == 0:
            return pd.Series([], dtype="float64")
        # null-propagate like the expression form: a NULL vector on
        # either side (or a zero-norm vector → 0/0) yields a NULL score,
        # never a task crash or a NaN that desc-sorts above every number
        xv, yv = xs.to_numpy(), ys.to_numpy()
        # empty arrays are invalid like nulls (a length-0 vector has no
        # cosine), and a pair is only scorable when both sides share a
        # length — per-ROW rules only, never batch-composition-dependent
        lens = np.array(
            [
                len(xi) if xi is not None and yi is not None and len(xi) == len(yi) else 0
                for xi, yi in zip(xv, yv)
            ]
        )
        out = np.full(n, np.nan)
        # vstack needs a rectangular matrix, so score each distinct pair
        # width as its own group: a mixed-width corpus (two embedding
        # models in one table) gets every valid pair scored — the result
        # for a row depends only on that row, not on which rows Arrow
        # happened to batch with it
        for width in np.unique(lens[lens > 0]):
            sel = lens == width
            x = np.vstack(xv[sel]).astype(np.float64)
            y = np.vstack(yv[sel]).astype(np.float64)
            num = np.einsum("ij,ij->i", x, y)
            den = np.linalg.norm(x, axis=1) * np.linalg.norm(y, axis=1)
            with np.errstate(invalid="ignore", divide="ignore"):
                out[sel] = np.where(den > 0, num / np.where(den > 0, den, 1.0), np.nan)
        # nullable Float64 → Arrow nulls for the NaN slots
        return pd.Series(pd.array(out, dtype="Float64"))

    return _cos(_c(a), _c(b))
