"""The reference's original use case end-to-end: a CSV lands, its
schema is snapshotted (metadata only), the store chains versions, the
detector diffs, healing/notification/decision fire — exactly the
examples/{no_drfit,drift} scenario, on this engine."""

from __future__ import annotations

import pytest

from schema_drift_detector_spark.operators.diff import diff_field_lists
from schema_drift_detector_spark.operators.snapshot import field_list
from schema_drift_detector_spark.plans import store
from schema_drift_detector_spark.plans.policy import decide, healing_plan, notification

V1 = "name,date_of_birth,gender,company,designation\nAda,1815-12-10,f,Analytical,Engineer\n"
V2 = "name,date_of_birth,gender,company,designation,country\nAda,1815-12-10,f,Analytical,Engineer,UK\n"
ENTITY = "people-info.csv"


def _csv_fields(spark, tmp, content, fname):
    """The engine's snapshot of a CSV file as Spark reads it: every
    column a nullable string."""
    p = f"{tmp}/{fname}"
    with open(p, "w") as f:
        f.write(content)
    return field_list(spark.read.option("header", True).csv(p).schema)


def _snapshot(spark, store_dir, epoch, fields):
    """Persist one snapshot as run_validation does; returns its id and
    the previous id the chain resolved for it."""
    run_id = f"day-{epoch}"
    sid, prev, _ = store.resolve_snapshot_chain(spark, store_dir, ENTITY, epoch, run_id)
    store.persist_snapshot(
        spark, store_dir, ENTITY, epoch, fields,
        source_path=run_id, snapshot_id=sid, previous_snapshot_id=prev,
    )
    return sid, prev


def test_csv_drift_scenario(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("csv"))
    store_dir = f"{tmp}/store"

    # day 1: v1 lands → first snapshot
    f1 = _csv_fields(spark, tmp, V1, "people-info-v1.csv")
    s1, prev1 = _snapshot(spark, store_dir, 0, f1)
    assert prev1 is None

    # day 2: v2 lands (adds country) → diff vs previous
    f2 = _csv_fields(spark, tmp, V2, "people-info-v2.csv")
    _, prev = _snapshot(spark, store_dir, 1, f2)
    assert prev == s1

    before = store.fields_of(spark, store_dir, prev)
    rep = diff_field_lists(before, f2)
    # golden: examples/drift/detector_agent_output.json
    assert rep["drift_detected"] is True
    assert rep["summary"] == "add country (low)"
    assert rep["severity"] == "info"
    change = rep["changes"][0]
    assert change["op"] == "add" and change["field"] == "country"
    assert change["after"]["dtype"] == "string" and change["after"]["ordinal"] == 5

    # healing + notification + decision (healer_agent.py golden strings)
    heal = healing_plan(True, rep["changes"], request_id="e2e")
    assert heal["healing"]["recommended_actions"][0]["script"] == (
        "ALTER TABLE {table_name} ADD COLUMN country string;"
    )
    assert heal["healing"]["next_steps"] == "auto_heal"
    notif = notification(True, True, rep["severity"], rep["summary"], ["email"])
    assert notif["sent"] is True
    assert decide(True, rep["severity"], heal, auto_heal_policy=True) == "auto_heal"

    # day 3: v2 lands again → no drift → continue
    _, prev3 = _snapshot(spark, store_dir, 2, f2)
    rep3 = diff_field_lists(store.fields_of(spark, store_dir, prev3), f2)
    assert rep3["drift_detected"] is False
    assert rep3["summary"] == "no schema drift detected"
    assert decide(False, "info", healing_plan(False, []), True) == "continue"


def test_golden_csv_files_end_to_end(spark, tmp_path_factory):
    """The reference crawler's snapshots of its two example files
    (examples/*/csv_crawler_agent_output.json), chained through the
    store: the stored fields keep every golden name, type, nullability
    and ordinal, and the drift report reproduces
    examples/drift/detector_agent_output.json field-for-field.

    tests/fixtures/reference_examples vendors, of each golden JSON, the
    fields asserted here (FIXTURES.md F4)."""
    import json
    from pathlib import Path

    ex = Path(__file__).resolve().parent / "fixtures" / "reference_examples"
    store_dir = f"{tmp_path_factory.mktemp('golden')}/store"

    def golden_fields(scenario):
        with open(f"{ex}/{scenario}/csv_crawler_agent_output.json") as f:
            return json.load(f)["snapshot"]["schema"]["fields"]

    reports = {}
    for i, scenario in enumerate(("no_drfit", "drift")):
        want = golden_fields(scenario)
        fields = [
            {"name": w["name"], "dtype": w["type"], "nullable": w["nullable"], "ordinal": w["ordinal"]}
            for w in want
        ]
        sid, prev = _snapshot(spark, store_dir, i, fields)
        got = store.fields_of(spark, store_dir, sid)  # the stored record
        assert [g["name"] for g in got] == [w["name"] for w in want]
        assert [g["dtype"] for g in got] == [w["type"] for w in want]
        assert [g["nullable"] for g in got] == [w["nullable"] for w in want]
        assert [g["ordinal"] for g in got] == [w["ordinal"] for w in want]
        if prev:
            before = store.fields_of(spark, store_dir, prev)
            reports[scenario] = diff_field_lists(before, got)

    # golden: examples/drift/detector_agent_output.json (drift_report node)
    with open(f"{ex}/drift/detector_agent_output.json") as f:
        want_rep = json.load(f)["drift_report"]
    rep = reports["drift"]
    assert rep["drift_detected"] is True
    assert rep["summary"] == want_rep["summary"]
    assert rep["severity"] == want_rep["severity"]
    got_changes = rep["changes"]
    assert len(got_changes) == len(want_rep["changes"]) == 1
    g, w = got_changes[0], want_rep["changes"][0]
    assert g["op"] == w["op"] and g["field"] == w["field"]
    assert g["severity"] == w["severity"] and g["notes"] == w["notes"]
    assert g["before"] is None
    assert g["after"]["name"] == w["after"]["name"]
    assert g["after"]["dtype"] == w["after"]["type"]
    assert g["after"]["nullable"] == w["after"]["nullable"]
    assert g["after"]["ordinal"] == w["after"]["ordinal"]


def test_salted_uniqueness_extreme_skew(spark):
    """40% of half a million rows share ONE key: the salted two-phase
    aggregation must stay correct (and not funnel the hot key through
    a single reducer — salt splits it across buckets first)."""
    import pyspark.sql.functions as F

    from schema_drift_detector_spark.operators.constraints import duplicate_keys

    n = 500_000
    df = spark.range(n).select(
        F.when(F.col("id") % 5 < 2, F.lit("HOT-KEY"))
        .otherwise(F.format_string("key-%012d", F.col("id")))
        .alias("doc_id")
    )
    dups = {r["doc_id"]: r["n_occurrences"] for r in duplicate_keys(df, "doc_id", 32).collect()}
    assert dups == {"HOT-KEY": n // 5 * 2}


def test_heavy_hitters_exact_on_skewed_keys(spark):
    """heavy_hitters must return EXACTLY the keys at/above ceil(phi*N)
    with exact counts — including a 40% hot key and borderline keys —
    and refuse a support coarser than phi (recall would break)."""
    import math

    import pyspark.sql.functions as F
    import pytest as _pytest

    from schema_drift_detector_spark.operators.skew import heavy_hitters

    n = 100_000
    # 40% one hot key; the rest spread over 300 mid keys (~200 rows each)
    df = spark.range(n).select(
        F.when(F.col("id") % 5 < 2, F.lit("HOT"))
        .otherwise(F.format_string("m-%03d", F.col("id") % 300))
        .alias("k")
    )
    phi = 0.0015  # threshold 150: HOT (40k) qualifies, mid keys (~200) do too
    got = {(r.k, r.n_occurrences) for r in heavy_hitters(df, "k", phi).collect()}
    exact = {
        (r.k, r.c)
        for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("c")).collect()
        if r.c >= math.ceil(phi * n)
    }
    assert got == exact and ("HOT", n // 5 * 2) in got
    with _pytest.raises(ValueError):
        heavy_hitters(df, "k", 0.01, support=0.02)


def test_heavy_hitters_nulls_do_not_dilute_recall(spark):
    """Review regression: with nulls dominating the table, the sketch
    must still be computed over NON-NULL rows only — otherwise a key
    above ceil(phi*N_nonnull) but below support*N_total sits outside
    the frequent-items guarantee and can vanish. Also: support == phi
    is rejected (guarantee is strict-above only)."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from schema_drift_detector_spark.operators.skew import heavy_hitters

    # 200k null keys + 100k real rows; 'EDGE' holds ~1.2% of non-null
    # rows (1200) — above ceil(0.01*100k)=1000, but below
    # 0.005*300k=1500, the recall floor a total-row sketch would have
    df = spark.range(300_000).select(
        F.when(F.col("id") < 200_000, F.lit(None).cast("string"))
        .when(F.col("id") < 201_200, F.lit("EDGE"))
        .otherwise(F.format_string("k-%09d", F.col("id")))
        .alias("k")
    )
    got = {r.k: r.n_occurrences for r in heavy_hitters(df, "k", phi=0.01).collect()}
    assert got == {"EDGE": 1_200}, got
    with _pytest.raises(ValueError, match="strictly"):
        heavy_hitters(df, "k", phi=0.01, support=0.01)
    with _pytest.raises(ValueError, match="1e-4"):
        heavy_hitters(df, "k", phi=1e-4)


def test_heavy_hitters_exact_at_ieee_boundary(spark):
    """ADVICE r3: a key with frequency EXACTLY phi*N must qualify even
    when the double product rounds up in binary (0.007*10000 →
    70.00000000000001 → ceil 71 would wrongly exclude a 70-count key).
    The rational-arithmetic threshold (7/1000) keeps it."""
    import pyspark.sql.functions as F

    from schema_drift_detector_spark.operators.skew import heavy_hitters

    # N=10000 non-null rows; 'B' has exactly 70 = 0.007*10000 rows
    df = spark.range(10_000).select(
        F.when(F.col("id") < 70, F.lit("B"))
        .when(F.col("id") < 2_070, F.lit("HOT"))
        .otherwise(F.format_string("k-%09d", F.col("id")))
        .alias("k")
    )
    got = {r.k: r.n_occurrences for r in heavy_hitters(df, "k", phi=0.007).collect()}
    assert got == {"B": 70, "HOT": 2_000}, got
