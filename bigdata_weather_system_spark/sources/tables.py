"""Parquet table loaders for the synthetic testdata (TESTDATA.md).

Deliberately thin: ``spark.read.parquet`` gives vectorized reads, predicate
pushdown and column pruning for free — the scan plan (``PushedFilters``,
``ReadSchema``) is shaped by the downstream query, not here. At 100 TB the
same call reads a date-partitioned table and Catalyst prunes partitions as
long as predicates stay sargable (see operators/profile.py).

Read schemas are inferred once per table file per process. Inferring a
parquet schema runs a Spark job, and every query builder reads its tables
again, so ``load_table`` keeps each path's read schema in ``_SCHEMAS`` and
every later read is ``spark.read.schema(schema).parquet(path)``: no job and
no footer read on the driver. An entry is valid while the path's
``(st_size, st_mtime_ns, st_ino)`` is unchanged; a file rewritten in place
is simply inferred again on its next read.

Timestamps: parquet ``isAdjustedToUTC=false`` columns infer as
``timestamp_ntz``, while the DuckDB oracle reads the same files as plain
TIMESTAMP. The stored schema declares them ``timestamp``, so the scan itself
yields session-timezone timestamps with the same micros. That is
value-preserving because the engine's sessions pin
``spark.sql.session.timeZone`` to UTC (``session.py``); epoch math and
oracle dtype parity hold, and ``ts`` predicates still push into the scan.

Nanos shim: older generations of the synthetic events table stored ``ts``
as TIMESTAMP(NANOS), which the vectorized parquet reader rejects. Whether a
file needs the shim is decided once, at inference (``ts`` infers as bigint
under ``spark.sql.legacy.parquet.nanosAsLong``). Only such a file sets that
conf on each read — it must stay set, because executions read SQLConf per
query, not at DataFrame creation — and converts nanos to microsecond
timestamps with integer division (a double division would lose precision:
epoch-nanos ≈ 1.7e18 > 2^53). For any other file the conf is restored after
inference, because leaking it session-wide would make OTHER tables' nanos
columns silently surface as bigint.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..schemas import TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"

#: path -> (stat key, read schema, needs the nanos shim)
_SCHEMAS: dict[str, tuple[tuple[int, int, int] | None, T.StructType, bool]] = {}


def _infer(spark: SparkSession, path: str, events: bool) -> tuple[T.StructType, bool]:
    """One schema-inference read of ``path``: the read schema with
    ``timestamp_ntz`` declared as ``timestamp``, and whether ``ts`` is
    stored as TIMESTAMP(NANOS)."""
    if not events:
        schema, nanos = spark.read.parquet(path).schema, False
    else:
        prev = spark.conf.get(_NANOS_CONF, None)
        spark.conf.set(_NANOS_CONF, "true")
        nanos = False
        try:
            schema = spark.read.parquet(path).schema
            nanos = "ts" in schema.names and isinstance(
                schema["ts"].dataType, T.LongType
            )
        finally:
            if not nanos and prev is None:
                spark.conf.unset(_NANOS_CONF)
            elif not nanos:
                spark.conf.set(_NANOS_CONF, prev)
    fields = [
        T.StructField(f.name, T.TimestampType(), f.nullable, f.metadata)
        if isinstance(f.dataType, T.TimestampNTZType)
        else f
        for f in schema.fields
    ]
    return T.StructType(fields), nanos


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        key = (st.st_size, st.st_mtime_ns, st.st_ino)
    except OSError:  # a URI or a missing path: infer (Spark reports errors)
        key = None
    hit = _SCHEMAS.get(path)
    if key is None or hit is None or hit[0] != key:
        hit = _SCHEMAS[path] = (key, *_infer(spark, path, name == "events"))
    _, schema, nanos = hit
    if nanos:
        spark.conf.set(_NANOS_CONF, "true")
    df = spark.read.schema(schema).parquet(path)
    if nanos:
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> None:
    """Register each table as a temp view so queries can be written in SQL."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
