"""Golden-parity tests for the diff operator (FIXTURES.md F4).

Expected values come verbatim from the reference corpus:
  /root/reference/examples/drift/detector_agent_output.json
  /root/reference/examples/no_drfit/detector_agent_no_change_output.json
and from the severity lattice at
  /root/reference/src/schema_drift_detector/agents/detector_agent.py:569-598.
"""

from __future__ import annotations

from schema_drift_detector_spark.functions.inference import infer_type_from_name
from schema_drift_detector_spark.model import FIELD_SCHEMA
from schema_drift_detector_spark.operators.diff import (
    NO_DRIFT_SUMMARY,
    diff_field_lists,
    diff_fields,
    drift_report,
)
from schema_drift_detector_spark.operators.snapshot import fields_from_headers, header_fields

V1_HEADERS = ["name", "date_of_birth", "gender", "company", "designation"]
V2_HEADERS = V1_HEADERS + ["country"]


def _fields(spark, rows):
    return spark.createDataFrame(rows, FIELD_SCHEMA)


def _dicts(rows):
    """The same rows as FieldMeta dicts, for diff_field_lists."""
    return [dict(zip(FIELD_SCHEMA.fieldNames(), r)) for r in rows]


def test_name_heuristic_golden_parity():
    # examples/*/csv_crawler_agent_output.json: every field 'string'
    # except date_of_birth 'date' (the :30 quirk makes int/float dead)
    assert [infer_type_from_name(h) for h in V2_HEADERS] == [
        "string", "date", "string", "string", "string", "string",
    ]
    # the quirk itself: every int/float token contains a character of
    # "country_code", so those branches are dead — all fall to 'string'
    for name in ("age", "amount", "year", "count", "quantity", "price", "balance"):
        assert infer_type_from_name(name) == "string"


def test_crawler_snapshot_shape(spark):
    want = [
        ("name", "string", True, 0),
        ("date_of_birth", "date", True, 1),
        ("gender", "string", True, 2),
        ("company", "string", True, 3),
        ("designation", "string", True, 4),
        ("country", "string", True, 5),
    ]
    f = fields_from_headers(spark, V2_HEADERS).orderBy("ordinal").collect()
    assert [(r.name, r.dtype, r.nullable, r.ordinal) for r in f] == want
    assert header_fields(V2_HEADERS) == _dicts(want)


def test_no_drift_golden(spark):
    v1 = fields_from_headers(spark, V1_HEADERS)
    changes = diff_fields(v1, fields_from_headers(spark, V1_HEADERS))
    assert changes.count() == 0
    report = drift_report(changes).collect()[0]
    assert report.drift_detected is False
    assert report.changes == []
    assert report.summary == NO_DRIFT_SUMMARY
    assert report.severity == "info"

    py = diff_field_lists(header_fields(V1_HEADERS), header_fields(V1_HEADERS))
    assert py == {
        "drift_detected": False, "changes": [], "summary": NO_DRIFT_SUMMARY, "severity": "info",
    }


def test_add_country_golden(spark):
    # examples/drift/detector_agent_output.json
    v1 = fields_from_headers(spark, V1_HEADERS)
    v2 = fields_from_headers(spark, V2_HEADERS)
    changes = diff_fields(v1, v2).collect()
    assert len(changes) == 1
    c = changes[0]
    assert c.op == "add"
    assert c.field == "country"
    assert c.before is None
    assert c.after.asDict() == {"name": "country", "dtype": "string", "nullable": True, "ordinal": 5}
    assert c.severity == "low"
    assert c.notes == "field added"

    report = drift_report(diff_fields(v1, v2)).collect()[0]
    assert report.drift_detected is True
    assert report.summary == "add country (low)"
    assert report.severity == "info"

    py = diff_field_lists(header_fields(V1_HEADERS), header_fields(V2_HEADERS))
    assert py["changes"] == [
        {
            "op": "add",
            "field": "country",
            "before": None,
            "after": {"name": "country", "dtype": "string", "nullable": True, "ordinal": 5},
            "severity": "low",
            "notes": "field added",
        }
    ]
    assert py["drift_detected"] is True
    assert py["summary"] == "add country (low)"
    assert py["severity"] == "info"


def test_severity_lattice(spark):
    # detector_agent.py:569-588 — one case per branch
    before_rows = [
        ("gone", "string", True, 0),
        ("typed", "int", True, 1),
        ("relaxed", "string", False, 2),
        ("tightened", "string", True, 3),
        ("moved", "string", True, 4),
    ]
    after_rows = [
        ("typed", "string", True, 1),
        ("relaxed", "string", True, 2),
        ("tightened", "string", False, 3),
        ("moved", "string", True, 9),
        ("fresh", "string", True, 5),
    ]
    before, after = _fields(spark, before_rows), _fields(spark, after_rows)
    py = diff_field_lists(_dicts(before_rows), _dicts(after_rows))
    for rows in (
        {r.field: r.asDict() for r in diff_fields(before, after).collect()},
        {c["field"]: c for c in py["changes"]},
    ):
        assert (rows["gone"]["op"], rows["gone"]["severity"], rows["gone"]["notes"]) == (
            "remove", "critical", "field removed")
        assert (rows["typed"]["op"], rows["typed"]["severity"], rows["typed"]["notes"]) == (
            "change", "high", "type changed")
        assert (rows["relaxed"]["op"], rows["relaxed"]["severity"]) == ("change", "medium")
        assert (rows["tightened"]["op"], rows["tightened"]["severity"]) == ("change", "high")
        assert (rows["moved"]["op"], rows["moved"]["severity"], rows["moved"]["notes"]) == (
            "change", "low", "ordinal changed")
        assert (rows["fresh"]["op"], rows["fresh"]["severity"]) == ("add", "low")

    report = drift_report(diff_fields(before, after)).collect()[0]
    # deterministic order: before-ordinal order for remove/change, then adds
    summary = (
        "remove gone (critical) ; change typed (high) ; change relaxed (medium) ; "
        "change tightened (high) ; change moved (low) ; add fresh (low)"
    )
    for severity, got_summary in ((report.severity, report.summary), (py["severity"], py["summary"])):
        assert severity == "critical"  # any remove wins (:593)
        assert got_summary == summary


def test_overall_warning_without_remove(spark):
    before = [("a", "int", True, 0), ("b", "string", True, 1)]
    after = [("a", "string", True, 0), ("b", "string", True, 1)]
    report = drift_report(diff_fields(_fields(spark, before), _fields(spark, after))).collect()[0]
    assert report.severity == "warning"
    assert diff_field_lists(_dicts(before), _dicts(after))["severity"] == "warning"


def test_type_compare_case_insensitive(spark):
    # detector_agent.py:575 — "INT" == "int"
    before = [("a", "INT", True, 0)]
    after = [("A", "int", True, 0)]
    assert diff_fields(_fields(spark, before), _fields(spark, after)).count() == 0
    assert diff_field_lists(_dicts(before), _dicts(after))["changes"] == []


def test_first_snapshot_all_adds(spark):
    # detector_agent.py:563 edge case: before=None ⇒ every field added
    empty = _fields(spark, [])
    after = fields_from_headers(spark, V1_HEADERS)
    changes = diff_fields(empty, after)
    assert changes.count() == 5
    assert {r.op for r in changes.collect()} == {"add"}
    report = drift_report(changes).collect()[0]
    assert report.severity == "info"
    assert report.summary.startswith("add name (low) ; add date_of_birth (low)")

    py = diff_field_lists([], header_fields(V1_HEADERS))
    assert len(py["changes"]) == 5
    assert {c["op"] for c in py["changes"]} == {"add"}
    assert py["severity"] == "info"
    assert py["summary"].startswith("add name (low) ; add date_of_birth (low)")


def test_keyed_diff_and_universe(spark):
    # many (entity) snapshot pairs diffed in one join; universe keeps
    # the no-drift entity in the report
    before = spark.createDataFrame(
        [("e1", "a", "int", True, 0), ("e2", "a", "int", True, 0)],
        ["entity", "name", "dtype", "nullable", "ordinal"],
    )
    after = spark.createDataFrame(
        [("e1", "a", "string", True, 0), ("e2", "a", "int", True, 0)],
        ["entity", "name", "dtype", "nullable", "ordinal"],
    )
    changes = diff_fields(before, after, keys=["entity"])
    reports = {
        r.entity: r
        for r in drift_report(changes, keys=["entity"], universe=after).collect()
    }
    assert reports["e1"].drift_detected is True
    assert reports["e1"].severity == "warning"
    assert reports["e2"].drift_detected is False
    assert reports["e2"].summary == NO_DRIFT_SUMMARY

    # the plain-Python diff takes one entity's pair at a time
    e1 = diff_field_lists(_dicts([("a", "int", True, 0)]), _dicts([("a", "string", True, 0)]))
    assert e1["drift_detected"] is True and e1["severity"] == "warning"
    e2 = diff_field_lists(_dicts([("a", "int", True, 0)]), _dicts([("a", "int", True, 0)]))
    assert e2["drift_detected"] is False and e2["summary"] == NO_DRIFT_SUMMARY


def test_duplicate_lowercased_names_last_wins(spark):
    # dict-build semantics at detector_agent.py:563-564
    before = [("Dup", "int", True, 0), ("dup", "string", True, 1)]
    after = [("dup", "string", True, 1)]
    assert diff_fields(_fields(spark, before), _fields(spark, after)).count() == 0
    assert diff_field_lists(_dicts(before), _dicts(after))["changes"] == []


def test_universe_keeps_wholly_removed_entity(spark):
    """An entity present only in BEFORE (dropped entirely) must survive
    an after-side universe join — its remove-only report is the most
    severe verdict the diff can produce."""
    b = spark.createDataFrame(
        [("gone", "x", "string", True, 0), ("kept", "x", "string", True, 0)],
        ["entity"] + list(FIELD_SCHEMA.fieldNames()),
    )
    a = spark.createDataFrame(
        [("kept", "x", "string", True, 0)],
        ["entity"] + list(FIELD_SCHEMA.fieldNames()),
    )
    rep = {
        r.entity: r
        for r in drift_report(
            diff_fields(b, a, keys=["entity"]),
            keys=["entity"],
            universe=a.select("entity"),
        ).collect()
    }
    assert set(rep) == {"gone", "kept"}
    assert rep["gone"].severity == "critical"
    assert rep["gone"].summary == "remove x (critical)"
    assert rep["kept"].drift_detected is False

    # the same two entities, one pair at a time
    x = _dicts([("x", "string", True, 0)])
    gone, kept = diff_field_lists(x, []), diff_field_lists(x, x)
    assert gone["severity"] == "critical"
    assert gone["summary"] == "remove x (critical)"
    assert kept["drift_detected"] is False


def test_duplicate_lowercased_names_dict_order(spark):
    """Reference dict semantics for case-duplicate names: FIRST
    occurrence's iteration position, LAST occurrence's payload."""
    before = [("Dup", "int", True, 0), ("b", "int", True, 1), ("dup", "string", True, 2)]
    rep = drift_report(diff_fields(_fields(spark, before), _fields(spark, []))).collect()[0]
    # 'dup' keyed at position 0 (first occurrence) iterates before 'b';
    # the surviving payload is the LAST row (name 'dup', type string)
    assert rep.summary == "remove dup (critical) ; remove b (critical)"
    py = diff_field_lists(_dicts(before), [])
    assert py["summary"] == "remove dup (critical) ; remove b (critical)"
    assert py["changes"][0]["before"] == _dicts([("dup", "string", True, 2)])[0]


def test_null_field_names_compare_not_remove_add(spark):
    """Null names key as '' (reference: (name or '').lower()), so two
    null-named fields diff as a change, not a spurious remove+add."""
    nullable_schema = "name string, dtype string, nullable boolean, ordinal int"
    before, after = [(None, "int", True, 0)], [(None, "string", True, 0)]
    b = spark.createDataFrame(before, nullable_schema)
    a = spark.createDataFrame(after, nullable_schema)
    rows = diff_fields(b, a).collect()
    assert len(rows) == 1
    assert rows[0].op == "change" and rows[0].notes == "type changed"
    rep = drift_report(diff_fields(b, a)).collect()[0]
    assert rep.severity == "warning"  # high change, no remove

    py = diff_field_lists(_dicts(before), _dicts(after))
    assert len(py["changes"]) == 1
    assert py["changes"][0]["op"] == "change" and py["changes"][0]["notes"] == "type changed"
    assert py["severity"] == "warning"
