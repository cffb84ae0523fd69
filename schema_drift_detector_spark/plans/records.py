"""Small JSON records under ``out_dir``, read and written on the driver.

The snapshot store and the checkpoint manifest hold tens of rows per
run; a Spark job per read or append costs more than the rows are worth.
These helpers go through the Hadoop ``FileSystem`` of the JVM the
session already runs (the pattern of
``operators/snapshot.py::read_csv_header_bounded``), so HDFS and
object-store ``out_dir``s work with no extra dependency. ``file:``
paths use the raw local file system, which writes no ``.crc`` side
files.

A record is written once and never rewritten: its bytes go to a hidden
temp name, then the temp file is renamed to the final name. Callers
pick final names that never collide, so a record exists iff it was
written whole. Readers skip hidden names (leading ``.`` or ``_``), the
Hadoop convention for in-progress files.
"""

from __future__ import annotations

import json
import time
import uuid
from typing import Any

from pyspark.sql import SparkSession

SUFFIX = ".json"


def _fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path``; ``file:`` resolves to the raw
    local file system."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(conf)
    if fs.getScheme() == "file":
        fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf).getRaw()
    return fs, jpath


def glob(spark: SparkSession, pattern: str) -> list[str]:
    """Names of the entries matching a Hadoop glob pattern."""
    fs, jpath = _fs(spark, pattern)
    found = fs.globStatus(jpath)
    return [] if found is None else [s.getPath().getName() for s in found]


def unique_name() -> str:
    """A record name that sorts after earlier names from the same clock
    and never collides with another writer's."""
    return f"{time.time_ns():020d}-{uuid.uuid4().hex}{SUFFIX}"


def write_record(spark: SparkSession, directory: str, name: str, record: dict[str, Any]) -> None:
    """Write ``record`` as ``directory/name``: temp file first, then a
    rename, so the final name appears only with its whole content."""
    jvm = spark._jvm
    fs, jdir = _fs(spark, directory)
    final = jvm.org.apache.hadoop.fs.Path(jdir, name)
    tmp = jvm.org.apache.hadoop.fs.Path(jdir, f".{name}.{uuid.uuid4().hex}.tmp")
    data = json.dumps(record, sort_keys=True).encode("utf-8")
    out = fs.create(tmp, False)
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    if not fs.rename(tmp, final):
        fs.delete(tmp, False)
        raise OSError(f"could not publish record {directory}/{name}")


def read_record(spark: SparkSession, directory: str, name: str) -> dict[str, Any]:
    jvm = spark._jvm
    fs, jdir = _fs(spark, directory)
    stream = fs.open(jvm.org.apache.hadoop.fs.Path(jdir, name))
    try:
        raw = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()
    return json.loads(raw.decode("utf-8"))


def read_records(spark: SparkSession, directory: str) -> list[dict[str, Any]]:
    """Every record in ``directory``, in name order; [] when it does not
    exist. Temp and other hidden names are skipped; any other entry that
    is not a record is an error, since it means a foreign layout."""
    fs, jdir = _fs(spark, directory)
    if not fs.exists(jdir):
        return []
    names = []
    for st in fs.listStatus(jdir):
        name = st.getPath().getName()
        if name.startswith((".", "_")):
            continue
        if st.isDirectory() or not name.endswith(SUFFIX):
            raise RuntimeError(f"{directory} holds {name!r}, which is not a JSON record")
        names.append(name)
    return [read_record(spark, directory, n) for n in sorted(names)]
