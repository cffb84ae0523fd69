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
  functions/  column-expression helpers (type inference, Bloom filter)
  operators/  profile, snapshot, diff, constraints, skew
  plans/      run pipeline, snapshot store, checkpoint manifest, policy

Corpus toolkit, not reached from plans.run and pending deletion (see
tests/test_package_closure.py): operators/resample.
"""

__version__ = "0.1.0"
