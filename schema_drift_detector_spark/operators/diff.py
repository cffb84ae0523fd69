"""Schema diff — THE core operator (reference parity: R15–R19).

Reference semantics: /root/reference/src/schema_drift_detector/agents/
detector_agent.py:559-610 (``_fallback_diff``), replicated exactly:

  - field lists keyed by ``lower(name)`` (:563-564); duplicate lowercased
    names last-wins (dict build semantics)
  - per-field if/elif precedence: removed → type → nullable → ordinal
    (:569-583); first difference wins
  - severity lattice (:571,576,579,582,587): remove→critical,
    type→high, nullable true→false→high / false→true→medium,
    ordinal→low, add→low
  - overall severity (:590-598): critical iff ANY op=='remove' (keyed on
    the op, not the per-change severity); elif any change severity=='high'
    → warning; else info
  - summary (:600): " ; ".join(f"{op} {field} ({severity})") in
    before-list order for removes/changes then after-list order for adds;
    the no-drift summary follows the golden corpus
    (/root/reference/examples/no_drfit/detector_agent_no_change_output.json)
  - first-snapshot edge case (:563): before=None ⇒ every field 'add'

Two forms of the same semantics:

  - ``diff_field_lists``: one snapshot pair as plain field lists, the
    reference's dict comparison on the driver. run_validation diffs one
    schema of tens of fields per call, which needs no Spark job.
  - ``diff_fields`` + ``drift_report``: the keyed multi-entity diff. The
    dict comparison becomes ONE full-outer equi-join on ``lower(name)``
    (+ any grouping keys), so a single shuffle diffs millions of
    (entity, partition) snapshot pairs at once. Classification is a
    Catalyst ``when`` cascade (whole-stage codegen; no Python in the
    hot path).
"""

from __future__ import annotations

from typing import Any, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

NO_DRIFT_SUMMARY = "no schema drift detected"

_FIELD_COLS = ("name", "dtype", "nullable", "ordinal")


def _classify(b: dict[str, Any], a: dict[str, Any]) -> tuple[str, str] | None:
    """(severity, notes) of a field present on both sides, or None when
    equal: first difference wins (detector_agent.py:569-583)."""
    if (b.get("dtype") or "").lower() != (a.get("dtype") or "").lower():
        return "high", "type changed"
    if bool(b.get("nullable")) != bool(a.get("nullable")):
        return ("high" if b.get("nullable") and not a.get("nullable") else "medium"), "nullable changed"
    if int(b.get("ordinal") or 0) != int(a.get("ordinal") or 0):
        return "low", "ordinal changed"
    return None


def diff_field_lists(
    before: Sequence[dict[str, Any]], after: Sequence[dict[str, Any]]
) -> dict[str, Any]:
    """Drift report of two field lists (FieldMeta dicts: name, dtype,
    nullable, ordinal) — detector_agent.py:559-610 ``_fallback_diff``.

    Returns {drift_detected, changes, summary, severity}; each change is
    {op, field, before, after, severity, notes}, with ``before``/``after``
    the field dicts (None on the missing side), the same shape as a
    collected ``drift_report`` row.
    """

    def by_key(fields):
        # dict build: the FIRST entry of a lower-cased name fixes its
        # position, the LAST entry's payload wins
        out: dict[str, dict[str, Any]] = {}
        for f in fields:
            out[(f.get("name") or "").lower()] = {c: f.get(c) for c in _FIELD_COLS}
        return out

    def change(op, b, a, severity, notes):
        return {
            "op": op,
            "field": (a if b is None else b)["name"],
            "before": b,
            "after": a,
            "severity": severity,
            "notes": notes,
        }

    b_map, a_map = by_key(before), by_key(after)
    changes = []
    for k, b in b_map.items():
        a = a_map.get(k)
        if a is None:
            changes.append(change("remove", b, None, "critical", "field removed"))
        elif (diff := _classify(b, a)) is not None:
            changes.append(change("change", b, a, *diff))
    changes += [change("add", None, a, "low", "field added") for k, a in a_map.items() if k not in b_map]
    # overall: critical iff any REMOVE (keyed on the op), else warning
    # iff any high change (detector_agent.py:590-598)
    if any(c["op"] == "remove" for c in changes):
        severity = "critical"
    elif any(c["severity"] == "high" for c in changes):
        severity = "warning"
    else:
        severity = "info"
    return {
        "drift_detected": bool(changes),
        "changes": changes,
        "summary": " ; ".join(f"{c['op']} {c['field']} ({c['severity']})" for c in changes)
        or NO_DRIFT_SUMMARY,
        "severity": severity,
    }


def _lower_key(name: Column | str = "name") -> Column:
    # reference: (f.get("name") or "").lower() — a null name keys as ''
    # so two null-named fields COMPARE instead of null-join-missing each
    # other into a spurious remove+add pair
    c = F.col(name) if isinstance(name, str) else name
    return F.lower(F.coalesce(c, F.lit("")))


def _dedupe_last_wins(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Replicate python-dict build: for duplicate lower(name) within a
    snapshot, the LAST list entry's payload wins, but the key keeps the
    FIRST entry's position (dict insertion order — detector_agent.py:
    563-564). List order ≙ ordinal order, so the iteration position is
    min(ordinal) per key, carried as __first_ord for report ordering."""
    part = Window.partitionBy(*keys, _lower_key())
    w = part.orderBy(F.col("ordinal").desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__first_ord", F.min("ordinal").over(part))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def diff_fields(
    before: DataFrame,
    after: DataFrame,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Full-outer-join diff of two field sets.

    ``before``/``after``: DataFrames with columns (name, dtype, nullable,
    ordinal) plus any ``keys`` columns (e.g. entity, partition_id) —
    diffs for every key group are computed in one shuffle.

    Returns one row per change: keys..., op, field, before, after,
    severity, notes, plus an internal ``sort_key`` used for deterministic
    report ordering (removes/changes in before-ordinal order, then adds
    in after-ordinal order — matching the reference's iteration order).
    """
    keys = list(keys)
    b = _dedupe_last_wins(before, keys).select(
        *keys,
        _lower_key().alias("__k"),
        F.col("__first_ord").alias("__b_ford"),
        F.struct(*[F.col(c) for c in _FIELD_COLS]).alias("before"),
    )
    a = _dedupe_last_wins(after, keys).select(
        *keys,
        _lower_key().alias("__k"),
        F.col("__first_ord").alias("__a_ford"),
        F.struct(*[F.col(c) for c in _FIELD_COLS]).alias("after"),
    )
    joined = b.join(a, on=keys + ["__k"], how="full_outer")

    bf, af = F.col("before"), F.col("after")
    # reference coercions: (x or "").lower() / bool(x) / int(x or 0)
    b_type = F.lower(F.coalesce(bf["dtype"], F.lit("")))
    a_type = F.lower(F.coalesce(af["dtype"], F.lit("")))
    b_null = F.coalesce(bf["nullable"], F.lit(False))
    a_null = F.coalesce(af["nullable"], F.lit(False))
    b_ord = F.coalesce(bf["ordinal"], F.lit(0))
    a_ord = F.coalesce(af["ordinal"], F.lit(0))

    op = (
        F.when(af.isNull(), F.lit("remove"))
        .when(bf.isNull(), F.lit("add"))
        .when(b_type != a_type, F.lit("change"))
        .when(b_null != a_null, F.lit("change"))
        .when(b_ord != a_ord, F.lit("change"))
        .otherwise(F.lit(None))
    )
    notes = (
        F.when(af.isNull(), F.lit("field removed"))
        .when(bf.isNull(), F.lit("field added"))
        .when(b_type != a_type, F.lit("type changed"))
        .when(b_null != a_null, F.lit("nullable changed"))
        .when(b_ord != a_ord, F.lit("ordinal changed"))
    )
    severity = (
        F.when(af.isNull(), F.lit("critical"))
        .when(bf.isNull(), F.lit("low"))
        .when(b_type != a_type, F.lit("high"))
        .when(
            b_null != a_null,
            F.when(b_null & ~a_null, F.lit("high")).otherwise(F.lit("medium")),
        )
        .when(b_ord != a_ord, F.lit("low"))
    )
    # removes/changes first (before-map iteration order), then adds;
    # iteration position is the FIRST occurrence's ordinal (dict
    # insertion order), not the surviving last-wins payload's ordinal
    sort_key = F.struct(
        F.when(bf.isNull(), F.lit(1)).otherwise(F.lit(0)).alias("grp"),
        F.coalesce(F.col("__b_ford"), F.col("__a_ford"), F.lit(0)).alias("ord"),
        F.col("__k").alias("key"),
    )

    return (
        joined.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(
            *keys,
            F.col("op"),
            F.coalesce(bf["name"], af["name"]).alias("field"),
            F.when(bf.isNotNull(), bf).alias("before"),
            F.when(af.isNotNull(), af).alias("after"),
            severity.alias("severity"),
            notes.alias("notes"),
            sort_key.alias("sort_key"),
        )
    )


def drift_report(
    changes: DataFrame,
    keys: Sequence[str] = (),
    universe: DataFrame | None = None,
) -> DataFrame:
    """Aggregate change rows → one drift report per key group (R17/R18).

    ``universe``: optional DataFrame of key groups that must appear even
    with zero changes (the no-drift verdict). With no keys, a single
    global report row is always produced.
    """
    keys = list(keys)
    change_struct = F.struct(
        F.col("sort_key"),
        F.col("op"),
        F.col("field"),
        F.col("before"),
        F.col("after"),
        F.col("severity"),
        F.col("notes"),
    )
    grouped = changes.groupBy(*keys) if keys else changes.groupBy()
    agg = grouped.agg(
        F.array_sort(F.collect_list(change_struct)).alias("__changes"),
        # overall severity keyed on op=='remove' for the critical tier
        # (detector_agent.py:593), then any 'high' change → warning
        F.max(
            F.when(F.col("op") == "remove", 2)
            .when(F.col("severity") == "high", 1)
            .otherwise(0)
        ).alias("__rank"),
    )
    if keys and universe is not None:
        # full_outer: universe ADDS missing no-drift rows but must never
        # REMOVE a change-bearing group — an entity that vanished
        # entirely (remove-only changes, overall critical) is absent
        # from an after-side universe and would be silently dropped by
        # right_outer
        agg = agg.join(universe.select(*keys).distinct(), on=keys, how="full_outer")

    changes_arr = F.coalesce(F.col("__changes"), F.array())
    n_changes = F.size(changes_arr)
    summary = F.when(n_changes == 0, F.lit(NO_DRIFT_SUMMARY)).otherwise(
        F.array_join(
            F.transform(
                changes_arr,
                lambda c: F.format_string("%s %s (%s)", c["op"], c["field"], c["severity"]),
            ),
            " ; ",
        )
    )
    overall = (
        F.when(n_changes == 0, F.lit("info"))
        .when(F.col("__rank") == 2, F.lit("critical"))
        .when(F.col("__rank") == 1, F.lit("warning"))
        .otherwise(F.lit("info"))
    )
    return agg.select(
        *keys,
        (n_changes > 0).alias("drift_detected"),
        F.transform(
            changes_arr,
            lambda c: F.struct(
                c["op"].alias("op"),
                c["field"].alias("field"),
                c["before"].alias("before"),
                c["after"].alias("after"),
                c["severity"].alias("severity"),
                c["notes"].alias("notes"),
            ),
        ).alias("changes"),
        summary.alias("summary"),
        overall.alias("severity"),
    )
