"""Name-heuristic type inference — byte-parity with the reference.

Reference: /root/reference/src/schema_drift_detector/agents/
csv_crawler_agent.py:21-39 (``infer_type_from_name``). That function has
a load-bearing quirk at :30 — ``any(tok in n for tok in ("country_code"))``
iterates the *characters* of the string ``"country_code"`` (it is not a
tuple), so any name containing one of ``c o u n t r y _ d e`` falls into
the "string" branch before the int/float branches are reached. We
replicate the quirk deliberately: the golden crawler outputs
(/root/reference/examples/*/csv_crawler_agent_output.json) depend on it.

A plain Python function: snapshots are built on the driver from
column names, so no Spark expression is needed.
"""

from __future__ import annotations

_DATE_TOKENS = ("date", "dob", "timestamp", "ts", "joined", "birth")
# characters of the literal "country_code" — the reference's :30 quirk
_STRING_CHARS = tuple(dict.fromkeys("country_code"))  # c,o,u,n,t,r,y,_,d,e
_INT_TOKENS = ("num", "age", "count", "quantity", "year")
_FLOAT_TOKENS = ("amount", "price", "cost", "total", "balance")


def infer_type_from_name(col_name: str) -> str:
    """Python mirror of csv_crawler_agent.py:21-39, quirk included."""
    n = col_name.lower()
    if any(tok in n for tok in _DATE_TOKENS):
        return "date"
    if n.endswith("_id") or n == "id" or any(ch in n for ch in _STRING_CHARS):
        return "string"
    if n.endswith("_id") or n == "id" or any(tok in n for tok in _INT_TOKENS):
        return "int"
    if any(tok in n for tok in _FLOAT_TOKENS):
        return "float"
    return "string"
