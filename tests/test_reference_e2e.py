"""The reference's original use case end-to-end: a CSV lands, the
crawler snapshots its header (metadata only), the store chains
versions, the detector diffs, healing/notification/decision fire —
exactly the examples/{no_drfit,drift} scenario, on this engine."""

from __future__ import annotations

import pytest

from schema_drift_detector_spark.operators.diff import diff_field_lists
from schema_drift_detector_spark.operators.snapshot import header_fields
from schema_drift_detector_spark.plans import store
from schema_drift_detector_spark.plans.policy import decide, healing_plan, notification

V1 = "name,date_of_birth,gender,company,designation\nAda,1815-12-10,f,Analytical,Engineer\n"
V2 = "name,date_of_birth,gender,company,designation,country\nAda,1815-12-10,f,Analytical,Engineer,UK\n"


def _csv_headers(spark, tmp, content, fname):
    p = f"{tmp}/{fname}"
    with open(p, "w") as f:
        f.write(content)
    df = spark.read.option("header", True).csv(p)
    return df.columns


def test_csv_drift_scenario(spark, tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("csv"))
    store_dir = f"{tmp}/store"

    # day 1: v1 lands → first snapshot
    h1 = _csv_headers(spark, tmp, V1, "people-info-v1.csv")
    f1 = header_fields(h1)
    s1 = store.persist_snapshot(spark, store_dir, "people-info.csv", 0, f1)

    # day 2: v2 lands (adds country) → diff vs previous
    h2 = _csv_headers(spark, tmp, V2, "people-info-v2.csv")
    f2 = header_fields(h2)
    s2 = store.persist_snapshot(spark, store_dir, "people-info.csv", 1, f2)
    prev = store.previous_snapshot(spark, store_dir, "people-info.csv", s2)
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
    s3 = store.persist_snapshot(spark, store_dir, "people-info.csv", 2, f2)
    prev3 = store.previous_snapshot(spark, store_dir, "people-info.csv", s3)
    rep3 = diff_field_lists(store.fields_of(spark, store_dir, prev3), f2)
    assert rep3["drift_detected"] is False
    assert rep3["summary"] == "no schema drift detected"
    assert decide(False, "info", healing_plan(False, []), True) == "continue"


def test_golden_csv_files_end_to_end(spark, tmp_path_factory):
    """The reference's example files through the bounded 32 KiB header
    read (R4, csv_crawler_agent.py:129-141): snapshot fields and the
    drift report must reproduce examples/*/csv_crawler_agent_output.json
    and examples/drift/detector_agent_output.json field-for-field.

    tests/fixtures/reference_examples vendors the two people-info.csv
    header lines and, of each golden JSON, the fields asserted here
    (FIXTURES.md F4)."""
    import json
    from pathlib import Path

    from schema_drift_detector_spark.operators.snapshot import read_csv_header_bounded

    ex = Path(__file__).resolve().parent / "fixtures" / "reference_examples"
    store_dir = f"{tmp_path_factory.mktemp('golden')}/store"

    def golden_fields(scenario):
        with open(f"{ex}/{scenario}/csv_crawler_agent_output.json") as f:
            return json.load(f)["snapshot"]["schema"]["fields"]

    reports = {}
    for i, scenario in enumerate(("no_drfit", "drift")):
        headers = read_csv_header_bounded(spark, f"{ex}/{scenario}/people-info.csv")
        fields = header_fields(headers)
        sid = store.persist_snapshot(spark, store_dir, "people-info.csv", i, fields)
        got = store.fields_of(spark, store_dir, sid)  # the stored record
        want = golden_fields(scenario)
        assert [g["name"] for g in got] == [w["name"] for w in want]
        assert [g["dtype"] for g in got] == [w["type"] for w in want]
        assert [g["nullable"] for g in got] == [w["nullable"] for w in want]
        assert [g["ordinal"] for g in got] == [w["ordinal"] for w in want]
        prev = store.previous_snapshot(spark, store_dir, "people-info.csv", sid)
        if prev:
            before = store.fields_of(spark, store_dir, prev)
            reports[scenario] = diff_field_lists(before, fields)

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


def test_bounded_header_read_truncates(spark, tmp_path_factory):
    """max_bytes caps the read even when the header line is longer —
    reference behavior: parse whatever fits in the first max_bytes."""
    from schema_drift_detector_spark.operators.snapshot import read_csv_header_bounded

    tmp = tmp_path_factory.mktemp("bounded")
    p = f"{tmp}/wide.csv"
    cols = [f"col_{i:04d}" for i in range(200)]
    with open(p, "w") as f:
        f.write(",".join(cols) + "\n" + ",".join(["x"] * 200) + "\n")
    full = read_csv_header_bounded(spark, p)
    assert full == cols
    capped = read_csv_header_bounded(spark, p, max_bytes=64)
    assert 0 < len(capped) < 200
    assert capped == [c.strip() for c in ",".join(cols)[:64].split(",")]


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
