"""Policy layer golden parity (healer_agent.py:20-86,
notification_agent.py:22-71, decision rule R23)."""

from __future__ import annotations

from schema_drift_detector_spark.plans.policy import (
    decide,
    healing_actions,
    healing_plan,
    notification,
)

ADD = {"op": "add", "field": "country", "after": {"dtype": "string"}}
CHANGE = {"op": "change", "field": "quality", "after": {"dtype": "string"}}
REMOVE = {"op": "remove", "field": "country", "after": None}


def test_healing_scripts_verbatim():
    acts = healing_actions([ADD, CHANGE, REMOVE])
    assert acts[0] == {
        "type": "sql",
        "script": "ALTER TABLE {table_name} ADD COLUMN country string;",
        "confidence": 90,
        "description": "Add missing column country",
    }
    assert acts[1]["script"] == "ALTER TABLE {table_name} ALTER COLUMN quality TYPE string;"
    assert acts[1]["confidence"] == 70
    assert acts[2] == {
        "type": "manual",
        "script": "-- Manual review required for removed column: country",
        "confidence": 100,
        "description": "Column country was removed. Review required.",
    }


def test_healing_skip_path():
    plan = healing_plan(False, [], request_id="x")
    assert plan["skipped"] is True
    assert plan["healing"] == {"recommended_actions": [], "next_steps": "none"}
    assert plan["reason"] == "No drift detected"


def test_next_steps():
    assert healing_plan(True, [ADD])["healing"]["next_steps"] == "auto_heal"
    assert healing_plan(True, [ADD, REMOVE])["healing"]["next_steps"] == "manual_review"


def test_notification_gate():
    n = notification(True, False, "critical", "s")
    assert n["skipped"] and n["reason"] == "Notification not required (notify_on_breaking=false)"
    n = notification(False, True, "info", "s")
    assert n["reason"] == "Notification not required (no drift detected)"
    n = notification(False, False, "info", "s")
    assert n["reason"] == (
        "Notification not required (notify_on_breaking=false, no drift detected)"
    )
    n = notification(True, True, "critical", "remove country (critical)", ["email"])
    assert n["sent"] is True
    assert n["message"] == (
        "Schema Drift Detected! Severity: critical. Summary: remove country (critical)"
    )


def test_decision_rule():
    heal_sql = healing_plan(True, [ADD])
    heal_manual = healing_plan(True, [REMOVE])
    assert decide(False, "info", healing_plan(False, []), True) == "continue"
    assert decide(True, "critical", heal_manual, True) == "pause"
    assert decide(True, "info", heal_manual, True) == "manual_review"
    assert decide(True, "info", heal_sql, True) == "auto_heal"
    assert decide(True, "warning", heal_sql, False) == "manual_review"


def test_healing_strings_edge_cases():
    """A missing dtype renders as 'None' (f-string semantics) and a '%'
    in the table name passes through verbatim."""
    changes = [
        {"op": "add", "field": "x", "after": {"dtype": None}},
        {"op": "change", "field": "y", "after": {"dtype": "string"}},
        {"op": "remove", "field": "z", "after": None},
    ]
    assert healing_actions(changes, "sales_%_monthly") == [
        {
            "type": "sql",
            "script": "ALTER TABLE sales_%_monthly ADD COLUMN x None;",
            "confidence": 90,
            "description": "Add missing column x",
        },
        {
            "type": "sql",
            "script": "ALTER TABLE sales_%_monthly ALTER COLUMN y TYPE string;",
            "confidence": 70,
            "description": "Change type of column y to string",
        },
        {
            "type": "manual",
            "script": "-- Manual review required for removed column: z",
            "confidence": 100,
            "description": "Column z was removed. Review required.",
        },
    ]
