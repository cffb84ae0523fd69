"""schema_drift_detector_spark — a PySpark-native schema + constraint
validation engine.

A from-scratch re-expression (NOT a port) of the capabilities of
ayan-bhattacharyya/schema-drift-detector (reference read-only at
/root/reference): per-partition column profiles ("snapshots"),
snapshot-to-snapshot schema diff with a severity lattice, declarative
constraints (uniqueness, referential integrity, distribution drift via
KS/chi-square on mergeable sketches), per-partition pass/fail verdicts +
violation rows, a checkpoint manifest with partition-granular resume,
and policy-gated healing/notification/decision — all expressed with the
PySpark DataFrame API so Catalyst/Tungsten/AQE pick physical strategy.

Layout:
  sources/    table IO seam (parquet/iceberg) + deterministic synthesizer
  functions/  column-expression helpers (Bloom filter)
  operators/  profile, snapshot, diff, constraints, skew
  plans/      run pipeline, snapshot store, checkpoint manifest, policy

Every module and public top-level definition is reached from
run_validation, perfbench/ or examples/ (tests/test_package_closure.py).
"""

__version__ = "0.1.0"
