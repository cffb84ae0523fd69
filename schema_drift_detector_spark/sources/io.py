"""TableIO seam: Iceberg when a runtime jar is on the classpath,
Parquet (identical partition layout) otherwise.

The engine targets Iceberg tables (BASELINE.json input_hint). This
sandbox has no Iceberg runtime jar and is offline, so reads/writes fall
back to directory-partitioned Parquet with the same layout
(partition columns in the path). On a real cluster, launch with:

    spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \
        --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \
        --conf spark.sql.catalog.lake.type=hadoop \
        --conf spark.sql.catalog.lake.warehouse=<warehouse-uri> ...

and pass table identifiers like ``lake.db.documents``; everything else
is unchanged — all operators are plain DataFrame transforms.

Atomicity: Iceberg commits are atomic snapshots. The Parquet fallback
writes each run under a unique run directory and publishes via the
manifest (plans/manifest.py), so readers never observe partial output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def _require_runtime_for_identifier(spark: SparkSession, location: str) -> bool:
    """True → treat ``location`` as an Iceberg identifier. A dotted
    identifier WITHOUT the Iceberg runtime is a config error and must
    fail loudly — silently treating 'lake.db.documents' as a relative
    parquet path would write/read a stray local directory while the job
    reports success."""
    if "/" in location:
        return False
    if iceberg_available(spark):
        return True
    raise RuntimeError(
        f"'{location}' looks like an Iceberg table identifier but no Iceberg "
        "runtime is on the classpath — add the iceberg-spark-runtime package "
        "to spark-submit, or pass a filesystem path (containing '/')"
    )


def read_table(spark: SparkSession, location: str) -> DataFrame:
    """Read a table by Iceberg identifier (contains no '/') or
    parquet path."""
    if _require_runtime_for_identifier(spark, location):
        return spark.read.format("iceberg").load(location)
    return spark.read.parquet(location)


def write_table(
    df: DataFrame,
    location: str,
    mode: str = "append",
    partition_by: tuple[str, ...] = (),
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if _require_runtime_for_identifier(df.sparkSession, location):
        writer.format("iceberg").saveAsTable(location)
    else:
        writer.parquet(location)


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int,
    mode: str = "overwrite",
    sort: bool = True,
) -> None:
    """Persist as a bucketed (+sorted) table keyed on the join column.

    The co-located-join primitive for repeated big-big joins at 10^12
    docs: two tables bucketed on the same key with the same bucket count
    join WITHOUT any Exchange (and without even a Sort when sorted) —
    the shuffle is paid once at write time and amortized over every
    later join/aggregation on that key. On Iceberg the equivalent is a
    `bucket(N, key)` partition transform + storage-partitioned joins."""
    w = df.write.mode(mode).format("parquet").bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)


def input_fingerprint(df: DataFrame) -> str | None:
    """A hash of what ``df`` reads, to tell a resumed run whether its
    input was rewritten since the run started.

    It covers the canonical logical plan (filters and projections over
    the tables) and, per scanned table, either the file listing Spark
    already holds (path, size, modification time of every file) or an
    Iceberg table's current snapshot id. Returns None when any leaf of
    the plan is not a file or Iceberg scan — in-memory rows, generated
    ranges, RDDs: such input has nothing to fingerprint.
    """
    import hashlib
    import json

    spark = df.sparkSession
    plan = df._jdf.queryExecution().analyzed()
    leaves = plan.collectLeaves()
    sources = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        kind = leaf.getClass().getSimpleName()
        if kind == "LogicalRelation" and leaf.relation().getClass().getSimpleName() == "HadoopFsRelation":
            sources.append(_file_listing(spark, leaf.relation().location()))
        elif kind == "DataSourceV2Relation" and leaf.table().getClass().getName() == (
            "org.apache.iceberg.spark.source.SparkTable"
        ):
            snap = leaf.table().table().currentSnapshot()
            sources.append([leaf.table().name(), None if snap is None else snap.snapshotId()])
        else:
            return None
    payload = json.dumps([plan.canonicalized().treeString(), sources])
    return hashlib.sha256(payload.encode("utf-8")).hexdigest()


def _file_listing(spark: SparkSession, location) -> list:
    """Sorted (path, size, mtime) of a file index's files. A
    PartitioningAwareFileIndex (every path-based read) already holds the
    listing; any other index costs one status call per file."""
    jvm = spark._jvm
    held = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex"
    ).isInstance(location)
    if held:
        seq = location.allFiles()
        statuses = [seq.apply(i) for i in range(seq.size())]
    else:
        conf = spark._jsc.hadoopConfiguration()
        statuses = []
        for f in location.inputFiles():
            path = jvm.org.apache.hadoop.fs.Path(f)
            statuses.append(path.getFileSystem(conf).getFileStatus(path))
    return sorted((s.getPath().toString(), s.getLen(), s.getModificationTime()) for s in statuses)
