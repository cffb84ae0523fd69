"""Policy layer: healing, notification gating, final decision.

These operate on COLLECTED drift reports (tiny metadata — a handful of
rows per entity/partition), so they are deliberately driver-side pure
functions, mirroring the reference exactly:

  - healing:       healer_agent.py:20-86 (R21) — scripts verbatim
  - notification:  notification_agent.py:22-71 (R22) — gate + message
  - decision:      config/tasks.yaml:200-210 + README.md:487-527 (R23),
    made deterministic (the reference delegates this merge to an LLM;
    we encode the documented rule): no drift → continue; overall
    critical → pause; any manual action → manual_review; drift with
    auto-heal policy and no manual actions → auto_heal; else
    manual_review.
"""

from __future__ import annotations

import uuid
from typing import Any


# --------------------------------------------------------------------------
# Healing (R21)
# --------------------------------------------------------------------------

def healing_actions(changes: list[dict[str, Any]], table_name: str = "{table_name}") -> list[dict[str, Any]]:
    """Per-change healing actions — strings byte-identical to
    healer_agent.py:52-76."""
    actions: list[dict[str, Any]] = []
    for change in changes:
        op = change.get("op")
        field = change.get("field")
        after = change.get("after") or {}
        field_type = after.get("dtype") or after.get("type")
        if op == "add":
            actions.append(
                {
                    "type": "sql",
                    "script": f"ALTER TABLE {table_name} ADD COLUMN {field} {field_type};",
                    "confidence": 90,
                    "description": f"Add missing column {field}",
                }
            )
        elif op == "change":
            actions.append(
                {
                    "type": "sql",
                    "script": f"ALTER TABLE {table_name} ALTER COLUMN {field} TYPE {field_type};",
                    "confidence": 70,
                    "description": f"Change type of column {field} to {field_type}",
                }
            )
        elif op == "remove":
            actions.append(
                {
                    "type": "manual",
                    "script": f"-- Manual review required for removed column: {field}",
                    "confidence": 100,
                    "description": f"Column {field} was removed. Review required.",
                }
            )
    return actions


def healing_plan(
    drift_detected: bool,
    changes: list[dict[str, Any]],
    request_id: str | None = None,
    table_name: str = "{table_name}",
) -> dict[str, Any]:
    """Full healing envelope (healer_agent.py:20-86) incl. the skip path."""
    if not drift_detected:
        return {
            "request_id": request_id,
            "healing": {"recommended_actions": [], "next_steps": "none"},
            "skipped": True,
            "reason": "No drift detected",
            "generated_by": "healer_agent",
        }
    actions = healing_actions(changes, table_name)
    return {
        "request_id": request_id,
        "healing": {
            "recommended_actions": actions,
            "next_steps": "manual_review" if any(a["type"] == "manual" for a in actions) else "auto_heal",
        },
        "skipped": False,
        "generated_by": "healer_agent",
    }


# --------------------------------------------------------------------------
# Notification (R22)
# --------------------------------------------------------------------------

def notification(
    drift_detected: bool,
    notify_on_breaking: bool,
    severity: str | None,
    summary: str | None,
    channels: list[str] | None = None,
    request_id: str | None = None,
) -> dict[str, Any]:
    """Gate + message per notification_agent.py:35-59 (send is simulated
    there; here the message is returned for the caller's dispatcher)."""
    channels = channels or []
    if not notify_on_breaking or not drift_detected:
        reason = []
        if not notify_on_breaking:
            reason.append("notify_on_breaking=false")
        if not drift_detected:
            reason.append("no drift detected")
        return {
            "request_id": request_id,
            "skipped": True,
            "reason": f"Notification not required ({', '.join(reason)})",
            "sent": False,
            "channels": [],
        }
    message = f"Schema Drift Detected! Severity: {severity}. Summary: {summary}"
    return {
        "request_id": request_id,
        "notification_id": str(uuid.uuid4()),
        "channels": channels,
        "message": message,
        "sent": True,
        "skipped": False,
    }


# --------------------------------------------------------------------------
# Decision (R23)
# --------------------------------------------------------------------------

def decide(
    drift_detected: bool,
    overall_severity: str,
    healing: dict[str, Any],
    auto_heal_policy: bool,
) -> str:
    """Deterministic decision rule (README.md:522-527 vocabulary):
    continue | pause | manual_review | auto_heal."""
    if not drift_detected:
        return "continue"
    if overall_severity == "critical":
        return "pause"
    actions = (healing.get("healing") or {}).get("recommended_actions", [])
    if any(a.get("type") == "manual" for a in actions):
        return "manual_review"
    if auto_heal_policy and actions:
        return "auto_heal"
    return "manual_review"


def decision_envelope(
    request_id: str,
    drift_report: dict[str, Any],
    healing: dict[str, Any],
    auto_heal_policy: bool,
    snapshot_ids: dict[str, Any] | None = None,
) -> dict[str, Any]:
    """Final envelope (config/tasks.yaml:200-210 shape)."""
    decision = decide(
        drift_report.get("drift_detected", False),
        (drift_report.get("drift_report") or drift_report).get("severity", "info"),
        healing,
        auto_heal_policy,
    )
    return {
        "request_id": request_id,
        "decision": decision,
        "details": {
            "drift": drift_report,
            "severity": (drift_report.get("drift_report") or drift_report).get("severity"),
            "snapshot_ids": snapshot_ids or {},
            "healing": healing.get("healing"),
        },
    }
