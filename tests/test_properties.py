"""Property-based tests (SURVEY §5.2): diff identity/symmetry
properties, severity monotonicity, histogram-merge associativity, and
the vectorized-only lint (input_hint: no per-row Python UDFs)."""

from __future__ import annotations

import re
from pathlib import Path

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from schema_drift_detector_spark.functions.inference import infer_type_from_name
from schema_drift_detector_spark.model import FIELD_SCHEMA
from schema_drift_detector_spark.operators.diff import diff_fields, drift_report

names = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"), max_codepoint=0x7F),
    min_size=1,
    max_size=8,
)
field_rows = st.lists(
    st.tuples(names, st.sampled_from(["string", "int", "float", "date"]),
              st.booleans(), st.integers(0, 20)),
    min_size=0,
    max_size=8,
    unique_by=lambda r: r[0].lower(),
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(field_rows)
def test_diff_self_is_empty(spark, rows):
    df = spark.createDataFrame(rows, FIELD_SCHEMA)
    assert diff_fields(df, df).count() == 0
    rep = drift_report(diff_fields(df, df)).collect()[0]
    assert rep.drift_detected is False and rep.severity == "info"


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(field_rows, field_rows)
def test_diff_add_remove_mirror(spark, a_rows, b_rows):
    """Every 'add' in diff(a,b) is a 'remove' in diff(b,a) and vice
    versa (set semantics of the full outer join)."""
    a = spark.createDataFrame(a_rows, FIELD_SCHEMA)
    b = spark.createDataFrame(b_rows, FIELD_SCHEMA)
    fwd = {(r.op, r.field.lower()) for r in diff_fields(a, b).collect()}
    rev = {(r.op, r.field.lower()) for r in diff_fields(b, a).collect()}
    assert {f for op, f in fwd if op == "add"} == {f for op, f in rev if op == "remove"}
    assert {f for op, f in fwd if op == "remove"} == {f for op, f in rev if op == "add"}


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(field_rows)
def test_diff_order_insensitive(spark, rows):
    """Field-list order must not change the diff (reference treats
    lists as sets keyed by lower(name))."""
    a = spark.createDataFrame(rows, FIELD_SCHEMA)
    b = spark.createDataFrame(list(reversed(rows)), FIELD_SCHEMA)
    assert diff_fields(a, b).count() == 0


def test_severity_monotone_in_change_kind(spark):
    """remove ≥ type ≥ nullable-tighten ≥ ordinal in the lattice."""
    rank = {"low": 1, "medium": 2, "high": 3, "critical": 4}
    base = [("f", "int", True, 0)]
    cases = {
        "remove": [],
        "type": [("f", "string", True, 0)],
        "tighten": [("f", "int", False, 0)],
        "ordinal": [("f", "int", True, 5)],
    }
    sev = {}
    for kind, after_rows in cases.items():
        a = spark.createDataFrame(base, FIELD_SCHEMA)
        b = spark.createDataFrame(after_rows, FIELD_SCHEMA)
        sev[kind] = rank[diff_fields(a, b).collect()[0].severity]
    assert sev["remove"] >= sev["type"] >= sev["tighten"] >= sev["ordinal"]


def test_histogram_merge_associative(spark):
    """Long-format histograms merge by addition: hist(A∪B) == hist(A) +
    hist(B) regardless of split — the property drift checks depend on."""
    import pyspark.sql.functions as F

    from schema_drift_detector_spark.operators.profile import numeric_histogram

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    whole = {
        r.bin: r.bin_count
        for r in numeric_histogram(ev, "value", 0.0, 100.0, 10, []).collect()
    }
    h1 = numeric_histogram(ev.filter("event_id % 2 = 0"), "value", 0.0, 100.0, 10, [])
    h2 = numeric_histogram(ev.filter("event_id % 2 = 1"), "value", 0.0, 100.0, 10, [])
    merged = {
        r.bin: r.s
        for r in h1.unionByName(h2).groupBy("bin").agg(F.sum("bin_count").alias("s")).collect()
    }
    assert merged == whole


def test_hll_union_matches_repartitioned(spark):
    """Sketch merge is layout-independent: per-partition sketches union
    to the same estimate whatever the partitioning."""
    import pyspark.sql.functions as F

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    a = (
        ev.repartition(3).groupBy(F.spark_partition_id().alias("p"))
        .agg(F.hll_sketch_agg("user_id").alias("s"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("s")).alias("d"))
        .collect()[0].d
    )
    b = (
        ev.repartition(11).groupBy(F.spark_partition_id().alias("p"))
        .agg(F.hll_sketch_agg("user_id").alias("s"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("s")).alias("d"))
        .collect()[0].d
    )
    assert a == b


def test_inference_pure_python_vs_expr(spark):
    """Column-expression inference must agree with the Python mirror."""
    from schema_drift_detector_spark.functions.inference import infer_type_expr

    samples = [
        "name", "date_of_birth", "ts", "user_id", "id", "amount", "num_x",
        "AGE", "zzz", "mm", "xx_id", "joined_at", "balance", "q",
    ]
    df = spark.createDataFrame([(s,) for s in samples], ["name"])
    got = {r.name: r.t for r in df.select("name", infer_type_expr("name").alias("t")).collect()}
    for s in samples:
        assert got[s] == infer_type_from_name(s), s


def test_no_per_row_python_udfs_in_engine():
    """input_hint discipline: vectorized only. The engine must not use
    F.udf / @udf row-at-a-time UDFs anywhere."""
    root = Path(__file__).resolve().parents[1] / "schema_drift_detector_spark"
    offenders = []
    for p in root.rglob("*.py"):
        src = p.read_text()
        if re.search(r"\bF\.udf\(|^\s*@udf\b|functions\.udf\(", src, re.M):
            offenders.append(str(p))
    assert offenders == []


def _reference_fallback_diff(before: list[dict], after: list[dict]):
    """Direct transcription of the reference's deterministic diff
    (detector_agent.py:559-598 _fallback_diff) used as a property-test
    oracle: dict keyed by (name or '').lower(), removed/changed in
    before-map order then adds in after-map order, first-difference-wins
    classification, op-keyed overall severity."""
    before_map = {(f["name"] or "").lower(): f for f in before}
    after_map = {(f["name"] or "").lower(): f for f in after}
    changes = []
    for k, bf in before_map.items():
        af = after_map.get(k)
        if not af:
            changes.append(("remove", bf.get("name"), "critical", "field removed"))
        elif (bf.get("type") or "").lower() != (af.get("type") or "").lower():
            changes.append(("change", bf.get("name"), "high", "type changed"))
        elif bool(bf.get("nullable")) != bool(af.get("nullable")):
            sev = "high" if (bf.get("nullable") and not af.get("nullable")) else "medium"
            changes.append(("change", bf.get("name"), sev, "nullable changed"))
        elif int(bf.get("ordinal") or 0) != int(af.get("ordinal") or 0):
            changes.append(("change", bf.get("name"), "low", "ordinal changed"))
    for k, af in after_map.items():
        if k not in before_map:
            changes.append(("add", af.get("name"), "low", "field added"))
    overall = "info"
    if changes:
        if any(c[0] == "remove" for c in changes):
            overall = "critical"
        elif any(c[2] == "high" for c in changes):
            overall = "warning"
    summary = (
        "no schema drift detected"
        if not changes
        else " ; ".join(f"{op} {field} ({sev})" for op, field, sev, _ in changes)
    )
    return changes, overall, summary


@given(st.data())
@settings(max_examples=12, deadline=None)
def test_diff_matches_reference_fallback_semantics(spark, data):
    """Property: for random field lists (shared names, case collisions,
    null dtypes, random nullability/ordinals), diff_fields + drift_report
    and diff_field_lists each reproduce the reference _fallback_diff
    verbatim — changes multiset, summary string, and overall severity."""
    from schema_drift_detector_spark.operators.diff import (
        diff_field_lists,
        diff_fields,
        drift_report,
    )

    names = st.sampled_from(["a", "B", "b", "cc", "Dd", "dd", "e1"])
    dtypes = st.sampled_from(["int", "string", "Date", None])
    field = st.tuples(names, dtypes, st.booleans(), st.integers(0, 5))

    def to_rows(fields):
        # reference semantics assign list position as iteration order;
        # our rows carry it via ordinal — regenerate ordinal as position
        return [(n, t, nu, i) for i, (n, t, nu, _) in enumerate(fields)]

    bf = to_rows(data.draw(st.lists(field, min_size=0, max_size=6)))
    af = to_rows(data.draw(st.lists(field, min_size=0, max_size=6)))
    schema = "name string, dtype string, nullable boolean, ordinal int"
    b = spark.createDataFrame(bf, schema) if bf else spark.createDataFrame([], schema)
    a = spark.createDataFrame(af, schema) if af else spark.createDataFrame([], schema)

    ref_changes, ref_overall, ref_summary = _reference_fallback_diff(
        [dict(name=n, type=t, nullable=nu, ordinal=o) for n, t, nu, o in bf],
        [dict(name=n, type=t, nullable=nu, ordinal=o) for n, t, nu, o in af],
    )
    rep = drift_report(diff_fields(b, a)).collect()[0]
    got = [(c["op"], c["field"], c["severity"], c["notes"]) for c in rep.changes]
    assert got == ref_changes, f"changes mismatch\n got={got}\n ref={ref_changes}"
    assert rep.summary == ref_summary
    assert rep.severity == ref_overall

    to_dicts = lambda rows: [dict(name=n, dtype=t, nullable=nu, ordinal=o) for n, t, nu, o in rows]  # noqa: E731
    py = diff_field_lists(to_dicts(bf), to_dicts(af))
    py_got = [(c["op"], c["field"], c["severity"], c["notes"]) for c in py["changes"]]
    assert py_got == ref_changes, f"changes mismatch\n got={py_got}\n ref={ref_changes}"
    assert py["summary"] == ref_summary
    assert py["severity"] == ref_overall
    assert py["drift_detected"] is bool(ref_changes)
    # same change payloads as the DataFrame diff
    assert py["changes"] == [c.asDict(recursive=True) for c in rep.changes]


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.sampled_from("abcdefgh"), min_size=20, max_size=120),
    st.floats(min_value=0.05, max_value=0.5),
)
def test_heavy_hitters_matches_brute_force(spark, keys, phi):
    """Property: heavy_hitters == the brute-force groupBy answer (keys
    with freq*denom >= num*N under the same rational snap of phi) for
    arbitrary multisets — including keys exactly on the threshold."""
    from fractions import Fraction

    from schema_drift_detector_spark.operators.skew import heavy_hitters

    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = {(r.k, r.n_occurrences) for r in heavy_hitters(df, "k", phi).collect()}
    frac = Fraction(phi).limit_denominator(1_000_000)
    from collections import Counter

    counts = Counter(keys)
    n = len(keys)
    want = {
        (k, c)
        for k, c in counts.items()
        if c * frac.denominator >= frac.numerator * n
    }
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 200)),
        min_size=1,
        max_size=150,
    ),
    st.integers(1, 12),
)
def test_cap_per_group_properties(spark, rows, max_rows):
    """Properties of the quota: (1) no group exceeds max_rows non-null
    survivors; (2) a group at-or-under quota keeps every row; (3) the
    survivor set is a subset of the input and deterministic across
    repartitioning."""
    from collections import Counter

    from schema_drift_detector_spark.operators.sampling import cap_per_group

    # dedupe: the quota caps ROWS, so a duplicated (g, i) tuple would
    # consume two slots while the distinct-count assertions below see
    # one key — unique inputs keep rows == keys
    data = sorted({(g, f"k-{g}-{i}") for g, i in rows})
    df = spark.createDataFrame(data, "g int, k string")
    out = cap_per_group(df, "g", "k", max_rows)
    got = [(r.g, r.k) for r in out.collect()]
    in_counts = Counter(g for g, _ in set(data))
    out_counts = Counter(g for g, _ in set(got))
    for g, c in out_counts.items():
        assert c <= max_rows
        assert c == min(in_counts[g], max_rows)
    assert set(got) <= set(data)
    again = {(r.g, r.k) for r in cap_per_group(df.repartition(7), "g", "k", max_rows).collect()}
    assert set(got) == again


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.text(alphabet="ab c", min_size=0, max_size=6), min_size=0, max_size=14
            ),
        ),
        min_size=1,
        max_size=12,
    ),
    st.integers(min_value=1, max_value=5),
)
def test_gram_hashes64_batch_matches_scalar(tok_lists, n):
    """The vectorized batch gram pass must agree with the scalar
    reference on arbitrary ragged batches — including None rows, empty
    tokens (from double spaces), and rows shorter than n."""
    from schema_drift_detector_spark.functions.text import (
        gram_hash64_py,
        gram_hashes64_batch,
    )

    got = gram_hashes64_batch(tok_lists, n)
    pos = gram_hashes64_batch(tok_lists, n, positions=True)
    for toks, g, (p, gh) in zip(tok_lists, got, pos):
        if toks is None or len(toks) < n:
            assert g == [] and p == [] and gh == []
            continue
        m = len(toks) - n + 1
        ref = [gram_hash64_py(toks[i : i + n]) for i in range(m)]
        assert g == sorted(set(ref))
        assert p == list(range(1, m + 1)) and gh == ref


def test_hash_sql_builders_cross_engine_parity(spark):
    """portable_hash60_sql / hash_bucket_sql (the DuckDB replay
    builders) must produce the SAME values as the Spark Columns they
    mirror — evaluated in both engines over awkward strings (unicode,
    empties, quotes-free SQL-safe forms)."""
    import duckdb

    from schema_drift_detector_spark.functions.text import (
        portable_hash60,
        portable_hash60_sql,
    )
    from schema_drift_detector_spark.operators.sampling import (
        hash_bucket,
        hash_bucket_sql,
    )
    from pyspark.sql import functions as F

    vals = ["", "a", "doc-000042", "héllo wörld", "x" * 100, "42"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got_spark = {
        r["s"]: (r["h"], r["b"], r["bs"])
        for r in df.select(
            "s",
            portable_hash60(F.col("s")).alias("h"),
            hash_bucket(F.col("s"), 1024).alias("b"),
            hash_bucket(F.col("s"), 1024, salt=":p").alias("bs"),
        ).collect()
    }
    con = duckdb.connect()
    con.sql("CREATE TABLE t(s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    got_duck = {
        r[0]: tuple(r[1:])
        for r in con.sql(
            f"SELECT s, {portable_hash60_sql('s')} AS h, "
            f"{hash_bucket_sql('s', 1024)} AS b, "
            f"{hash_bucket_sql('s', 1024, salt=':p')} AS bs FROM t"
        ).fetchall()
    }
    assert got_spark == got_duck
