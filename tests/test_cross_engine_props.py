"""Hypothesis cross-engine properties for the SQL builders: DuckDB
replays of the temperature-quota rule and the CMS sketch must agree
with pure-python references over randomized inputs. Spark-free (the
Spark sides are covered by the certified entries and the per-operator
tests) — these pin the BUILDER half of each cross-engine contract
cheaply and widely."""

import math

import duckdb
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from schema_drift_detector_spark.functions.cms import cms_sql_ctes
from schema_drift_detector_spark.functions.text import portable_hash60_py


sizes_st = st.dictionaries(
    st.text(
        alphabet=st.characters(min_codepoint=97, max_codepoint=122),
        min_size=1,
        max_size=6,
    ),
    st.integers(min_value=1, max_value=10**9),
    min_size=1,
    max_size=8,
)


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(sizes_st, st.integers(1, 10_000), st.sampled_from([0.2, 0.3, 0.5, 0.7, 1.0]))
def test_temperature_quota_rule_duckdb_matches_python(sizes, total, alpha):
    # half-away-from-zero rounding (what Spark F.round and DuckDB round
    # both do) — python's round() is banker's and WOULD diverge on
    # exact-.5 micro-weights (review catch)
    w = {s: math.floor(n**alpha * 1e6 + 0.5) for s, n in sizes.items()}
    sumw = sum(w.values())
    exp = {
        s: max(1, math.floor(total * (wi / sumw))) for s, wi in w.items()
    }
    vals = ", ".join(
        "('{}', {})".format(s.replace("'", "''"), n) for s, n in sizes.items()
    )
    from schema_drift_detector_spark.operators.sampling import (
        temperature_quota_sql,
        temperature_weight_sql,
    )

    # the REAL shared builders — the same expressions the certified
    # source_quota oracle interpolates
    rows = duckdb.sql(
        f"""
        WITH s(strat, n) AS (VALUES {vals}),
        w AS (SELECT strat, {temperature_weight_sql("n", alpha)} AS w FROM s)
        SELECT strat,
               {temperature_quota_sql(str(total), "w", "sum(w) OVER ()")} AS q
        FROM w
        """
    ).fetchall()
    assert {s: q for s, q in rows} == exp


keys_st = st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=120)


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(keys_st, st.integers(1, 4), st.sampled_from([4, 16, 64]))
def test_cms_builder_duckdb_matches_python(keys, depth, width):
    sk = {}
    for k in keys:
        for i in range(depth):
            idx = i * width + portable_hash60_py(f"{k}:cms:{i}") % width
            sk[idx] = sk.get(idx, 0) + 1

    def est(k):
        return min(
            sk.get(i * width + portable_hash60_py(f"{k}:cms:{i}") % width, 0)
            for i in range(depth)
        )

    exp = {k: est(k) for k in set(keys)}
    con = duckdb.connect()
    con.sql(
        "CREATE TABLE src AS SELECT * FROM (VALUES {}) t(user_id)".format(
            ", ".join(f"({k})" for k in keys)
        )
    )
    got = dict(
        con.sql(
            "WITH "
            + cms_sql_ctes("c_", "src", "user_id", depth, width)
            + " SELECT key, cms_est FROM c_est"
        ).fetchall()
    )
    assert got == exp
    counts = {}
    for k in keys:
        counts[k] = counts.get(k, 0) + 1
    assert all(got[k] >= n for k, n in counts.items())  # never undercounts
