"""Supervised bag-of-tokens quality/domain classification — the
deterministic stand-in for the fastText-style linear classifiers real
LLM corpus pipelines use for model-based filtering (CCNet buckets web
text by a wiki-trained LM; LLaMA's pipeline classifies pages with a
fastText model trained on "pages referenced by Wikipedia"). A
multinomial Naive Bayes over hashed unigram buckets IS a linear model
over bag-of-buckets features, and unlike SGD-trained fastText it is
trainable in ONE aggregation pass with a bit-reproducible, DuckDB-
replayable result — the property every certified operator here needs.

Semantics (deterministic, cross-engine):
  - Tokens are the literal single-space split of ``text_col`` with ''
    artifacts dropped (the engine-wide portable tokenization).
  - Each token maps to one of ``n_buckets`` buckets via the engine's
    portable 60-bit hash (salt ':nb') — a hashed vocabulary, so the
    model is fixed-size regardless of corpus vocabulary.
  - Class-conditional bucket probabilities are add-alpha smoothed:
    p(b|c) = (count[b,c] + alpha) / (total_c + alpha * n_buckets);
    class priors are the train-doc MLE ln(n_docs_c / n_docs_train).
  - A doc's per-class score is ln P(c) + sum over its token
    OCCURRENCES of ln p(bucket|c), ROUNDED to ``round_digits`` — the
    rounding absorbs float summation-order and libm ULP differences,
    and both engines compare the ROUNDED scores, so the argmax below
    cannot fork on a 1-ulp sum drift.
  - Prediction is the argmax over rounded scores with ties broken by
    class name ASCENDING (a total order); ``nb_margin`` is the rounded
    winner-minus-runner-up gap (the thresholding knob: small margin =
    low confidence).
  - Docs with NULL text or no non-empty tokens predict NULL (no
    evidence is not zero evidence — the dsir_scores contract).

Scale shape (100 TB posture):
  - Training aggregates to (bucket, class) counts — at most
    n_buckets x K rows (10^4-ish): one scan over the (small, labeled)
    train set, pivoted to K columns and BROADCAST.
  - Scoring: corpus tokens explode -> LEFT broadcast-join the model ->
    one per-doc partial aggregation of K codegen sum columns. The
    corpus never shuffles except that (id)-keyed agg; the argmax /
    margin are chained greatest()/when() — whole-stage codegen, no
    interpreted higher-order functions in the hot path.
  - The only driver materialization is the class list (K values) and
    the label-coverage guard — metadata-scale by definition.

Reference parity: the reference app has no trained classifier (its
"classification" is the LLM control plane, SURVEY §2A R20); this
operator is part of the LLM-data-pipeline surface the brief mandates
(model-based quality filtering).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .sampling import hash_bucket, hash_bucket_sql

_NB_SALT = ":nb"


def _validate(n_buckets: int, alpha: float) -> None:
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if alpha <= 0.0:
        raise ValueError(
            f"alpha must be > 0 (zero makes buckets unseen in one class "
            f"score -inf), got {alpha}"
        )


def _occurrences(
    df: DataFrame, id_cols: list[str], text_col: str, n_buckets: int
) -> DataFrame:
    """(id_cols..., bucket) — one row per non-empty token occurrence."""
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(
            *id_cols,
            F.explode(F.split(F.col(text_col), " ")).alias("__tok"),
        )
        .filter(F.col("__tok") != "")
        .select(
            *id_cols,
            hash_bucket(F.col("__tok"), n_buckets, _NB_SALT).alias("bucket"),
        )
    )


def nb_classify(
    docs: DataFrame,
    train: DataFrame,
    label_col: str = "label",
    id_col: str = "doc_id",
    text_col: str = "text",
    train_text_col: str | None = None,
    classes: list[str] | None = None,
    n_buckets: int = 4096,
    alpha: float = 0.5,
    round_digits: int = 5,
) -> DataFrame:
    """Train multinomial NB on ``train`` (must expose ``label_col`` +
    a text column) and score every ``docs`` row: returns ``docs``'s
    columns plus ``nb_pred`` (winning class, NULL when the doc has no
    tokens), ``nb_score`` (the winner's rounded log-posterior score)
    and ``nb_margin`` (rounded winner-minus-runner-up gap; 0.0 exactly
    when K == 1 or rounded scores tie).

    ``classes``: the fixed, sorted class universe. When None it is
    collected from ``train`` (K distinct labels — metadata-scale).
    When given, train labels outside it FAIL LOUD (a silent pivot drop
    would train a model missing a class's evidence)."""
    _validate(n_buckets, alpha)
    tcol = train_text_col or text_col

    ltrain = train.filter(F.col(label_col).isNotNull())
    # priors over train DOCS (token-less train docs still carry prior
    # evidence); token totals over train token OCCURRENCES. The label
    # universe falls out of this same aggregate — no separate
    # distinct() job (review catch).
    pr = {
        r[label_col]: r["n"]
        for r in ltrain.groupBy(label_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    tlabels = sorted(pr)
    if not tlabels:
        raise ValueError("train has no non-NULL labels")
    if classes is None:
        classes = tlabels
    else:
        classes = sorted(classes)
        extra = set(tlabels) - set(classes)
        if extra:
            raise ValueError(
                f"train labels {sorted(extra)} are not in classes={classes}; "
                f"a pivot would silently drop their evidence"
            )
    if len(set(classes)) != len(classes):
        raise ValueError(f"classes must be distinct, got {classes}")
    n_train = sum(pr.values())
    tocc = _occurrences(ltrain, [label_col], tcol, n_buckets)
    tot = {
        r[label_col]: r["n"]
        for r in tocc.groupBy(label_col).agg(F.count(F.lit(1)).alias("n")).collect()
    }

    import math

    def _ll(cnt: Column | float, c: str) -> Column | float:
        denom = tot.get(c, 0) + alpha * n_buckets
        if isinstance(cnt, Column):
            return F.log((cnt + F.lit(alpha)) / F.lit(denom))
        return math.log((cnt + alpha) / denom)

    # model: one row per bucket seen in training, K codegen ll columns;
    # n_buckets x K cells at most — broadcast
    model = (
        tocc.groupBy("bucket")
        .pivot(label_col, classes)
        .agg(F.count(F.lit(1)))
        .select(
            "bucket",
            *[
                _ll(F.coalesce(F.col(f"`{c}`"), F.lit(0)).cast("double"), c).alias(
                    f"__ll_{i}"
                )
                for i, c in enumerate(classes)
            ],
        )
    )

    occ = _occurrences(docs, [id_col], text_col, n_buckets)
    joined = occ.join(F.broadcast(model), "bucket", "left")
    sums = joined.groupBy(id_col).agg(
        *[
            F.sum(F.coalesce(F.col(f"__ll_{i}"), F.lit(_ll(0.0, c)))).alias(
                f"__s_{i}"
            )
            for i, c in enumerate(classes)
        ]
    )
    missing = [c for c in classes if pr.get(c, 0) == 0]
    if missing:
        raise ValueError(
            f"classes {missing} have no train docs — their prior is -inf "
            f"and they can never be predicted; drop them from classes"
        )
    score_cols = [
        F.round(
            F.lit(math.log(pr[c] / n_train)) + F.col(f"__s_{i}"),
            round_digits,
        ).alias(f"__sc_{i}")
        for i, c in enumerate(classes)
    ]
    scored = sums.select(id_col, *score_cols)

    # F.greatest requires >= 2 columns — the K == 1 case must take the
    # direct form FIRST, not as a dead reassignment (review catch:
    # greatest(*[one]) raises before a late fallback can run)
    if len(classes) == 1:
        best = F.col("__sc_0")
    else:
        best = F.greatest(*[F.col(f"__sc_{i}") for i in range(len(classes))])
    pred = F.lit(None).cast("string")
    runner = F.lit(None).cast("double")
    # first class (ascending name order) whose rounded score equals the
    # max wins — chained whens evaluate in that order, so ties resolve
    # to the lexicographically smallest class in BOTH engines
    for i in range(len(classes) - 1, -1, -1):
        others = [F.col(f"__sc_{j}") for j in range(len(classes)) if j != i]
        runner_i = (
            F.greatest(*others)
            if len(others) > 1
            else (others[0] if others else F.col(f"__sc_{i}"))
        )
        pred = F.when(F.col(f"__sc_{i}") == best, F.lit(classes[i])).otherwise(pred)
        runner = F.when(F.col(f"__sc_{i}") == best, runner_i).otherwise(runner)

    decided = scored.select(
        id_col,
        pred.alias("nb_pred"),
        best.alias("nb_score"),
        F.round(best - runner, round_digits).alias("nb_margin"),
    )
    return docs.join(decided, id_col, "left")


def nb_sql_ctes(
    sfx: str,
    src: str,
    classes: list[str],
    train_pred: str,
    label_expr: str = "label",
    n_buckets: int = 4096,
    alpha: float = 0.5,
    round_digits: int = 5,
) -> str:
    """DuckDB CTE block replaying ``nb_classify`` over the relation
    ``src`` (must expose doc_id, text, and ``label_expr``). ONE
    definition for every oracle that certifies the classifier (the
    lm_ppl_sql_ctes discipline) so the replays cannot desync. Emits
    CTEs prefixed ``sfx``; the final CTE ``{sfx}out`` has one row per
    src doc: (doc_id, nb_pred, nb_score, nb_margin) with NULLs for
    token-less docs. ``train_pred`` filters the labeled training
    subset (a predicate over src columns); ``classes`` must be the
    SAME sorted list the engine used. occ/tocc are MATERIALIZED —
    each is referenced more than once and DuckDB re-inlines plain CTEs
    per reference."""
    _validate(n_buckets, alpha)
    classes = sorted(classes)
    s = sfx
    k = len(classes)

    def q(c: str) -> str:  # SQL string literal
        return "'" + c.replace("'", "''") + "'"

    tot_cols = ", ".join(
        f"coalesce(sum(CASE WHEN label = {q(c)} THEN 1 END), 0) AS t_{i}"
        for i, c in enumerate(classes)
    )
    pr_cols = ", ".join(
        f"coalesce(sum(CASE WHEN label = {q(c)} THEN 1 END), 0) AS p_{i}"
        for i, c in enumerate(classes)
    )
    ll_cols = ", ".join(
        f"ln((coalesce(sum(CASE WHEN label = {q(c)} THEN 1 END), 0) + {alpha!r})"
        f" / (tt.t_{i} + {alpha * n_buckets!r})) AS ll_{i}"
        for i, c in enumerate(classes)
    )
    unseen = [f"ln({alpha!r} / (tt.t_{i} + {alpha * n_buckets!r}))" for i in range(k)]
    sum_cols = ", ".join(
        f"round(ln(CAST(pt.p_{i} AS DOUBLE) / pt.n_train)"
        f" + sum(coalesce(m.ll_{i}, {unseen[i]})), {round_digits}) AS sc_{i}"
        for i in range(k)
    )
    best = (
        f"greatest({', '.join(f'sc_{i}' for i in range(k))})" if k > 1 else "sc_0"
    )
    pred_branches = " ".join(
        f"WHEN sc_{i} = best THEN {q(c)}" for i, c in enumerate(classes)
    )
    runner_branches = " ".join(
        "WHEN sc_{i} = best THEN {expr}".format(
            i=i,
            expr=(
                f"greatest({', '.join(f'sc_{j}' for j in range(k) if j != i)})"
                if k > 2
                else (f"sc_{1 - i}" if k == 2 else f"sc_{i}")
            ),
        )
        for i in range(k)
    )
    return f"""{s}lf AS (
  SELECT doc_id, {label_expr} AS label,
         list_filter(string_split(text, ' '), t -> t <> '') AS ts
  FROM {src} WHERE text IS NOT NULL
), {s}occ AS MATERIALIZED (
  SELECT doc_id, label, {hash_bucket_sql("t", n_buckets, _NB_SALT)} AS bucket
  FROM (SELECT doc_id, label, unnest(ts) AS t FROM {s}lf)
), {s}tocc AS MATERIALIZED (
  SELECT * FROM {s}occ WHERE {train_pred}
), {s}tt AS (SELECT {tot_cols} FROM {s}tocc),
{s}pt AS (
  SELECT {pr_cols}, count(*) AS n_train
  FROM {src} WHERE ({train_pred}) AND {label_expr} IS NOT NULL
), {s}model AS MATERIALIZED (
  SELECT bucket, {ll_cols}
  FROM {s}tocc CROSS JOIN {s}tt tt GROUP BY bucket, {", ".join(f"tt.t_{i}" for i in range(k))}
), {s}ds AS MATERIALIZED (
  SELECT o.doc_id, {sum_cols}
  FROM {s}occ o
  LEFT JOIN {s}model m USING (bucket)
  CROSS JOIN {s}tt tt CROSS JOIN {s}pt pt
  GROUP BY o.doc_id, {", ".join(f"pt.p_{i}" for i in range(k))}, pt.n_train,
           {", ".join(f"tt.t_{i}" for i in range(k))}
), {s}dec AS (
  SELECT doc_id,
         CASE {pred_branches} END AS nb_pred,
         best AS nb_score,
         round(best - CASE {runner_branches} END, {round_digits}) AS nb_margin
  FROM (SELECT doc_id, {", ".join(f"sc_{i}" for i in range(k))}, {best} AS best
        FROM {s}ds)
), {s}out AS (
  SELECT d.doc_id, dec.nb_pred, dec.nb_score, dec.nb_margin
  FROM (SELECT doc_id FROM {src}) d
  LEFT JOIN {s}dec dec USING (doc_id)
)"""
