"""Parquet table catalog over the driver-generated test data.

The analytics layer operates over columnar parquet tables
(``spark.read.parquet``) — filters and column projections are pushed
into the scan by Catalyst (check ``PushedFilters`` / ``ReadSchema`` in
``df.explain("formatted")``).  At 100 TB these would be
date/hour-partitioned directories; the API is identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from kinesis_log_streamer_spark.session import CACHE

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor: these
# scale with the catalog (regions/nations are fixed; part/supplier grow
# slowly), so hinting broadcast is correct even at 100 TB fact scale.
BROADCAST_SAFE = ("region", "nation")


def table_path(sf_dir: str, name: str) -> str:
    """Path of catalog table ``name`` under ``sf_dir``."""
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table from ``sf_dir``.

    Resolving a parquet relation costs ~90 ms of driver time (footer
    read, schema merge, the NTZ sweep below), and most queries load 1-3
    tables, so the DataFrame is kept in the session cache until the
    session ends or the table's file changes.

    ``events.parquet`` carries TIMESTAMP(NANOS) which Spark's vectorized
    parquet reader rejects; we read nanos as long and truncate to
    microseconds (same truncation DuckDB applies), keeping a proper
    TimestampType ``ts`` column for every consumer.
    """
    path = table_path(sf_dir, name)
    return CACHE.get(
        spark,
        ("table", os.path.realpath(path)),
        lambda: _read_table(spark, path, name),
        (path,),
    )


def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    # Pin the session timezone so timestamp results are oracle-comparable
    # even when the caller's session (e.g. the driver's) didn't set it.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Un-annotated parquet TIMESTAMP(MICROS) must load as LTZ (UTC
    # instant), not TIMESTAMP_NTZ: NTZ forbids epoch casts and Spark
    # 4.1 infers it by default for tz-less parquet columns.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
            )
        return _ntz_to_ltz(df)
    return _ntz_to_ltz(spark.read.parquet(path))


def _ntz_to_ltz(df: DataFrame) -> DataFrame:
    """Belt-and-braces: coerce any TIMESTAMP_NTZ column to LTZ.

    With the session timezone pinned UTC above, the cast is value-
    preserving; it only changes the type family so downstream epoch
    arithmetic stays legal even if the caller's session inferred NTZ
    before our conf landed.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ntz = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, T.TimestampNTZType)
    ]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast(T.TimestampType()))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several tables at once; defaults to the full catalog."""
    use = names or TABLES
    return {n: load_table(spark, sf_dir, n) for n in use}
