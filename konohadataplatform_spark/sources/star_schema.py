"""Test-data star schema loader.

The driver materializes a deterministic TPC-H-ish star schema plus
``events``/``documents``/``embeddings`` tables (see /root/repo/TESTDATA.md).
This loader registers them as temp views so the whole §2 operator surface
(reference exposes arbitrary SQL through Kyuubi,
``docs/components/kyuubi.md:61-67``) runs against them via ``spark.sql``.

Scale note: views are plain parquet scans — Catalyst pushes filters and
prunes columns into the scan, so a 100 TB `lineitem` behind the same view
only reads the columns/row-groups a query touches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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

# Small dimension tables that should always be broadcast in joins.
BROADCAST_DIMS = {"region", "nation", "supplier", "part"}


def _read_file(
    spark: SparkSession, sf_dir: str, name: str, schema: StructType | None
) -> DataFrame:
    """The table's parquet file as stored. With ``schema`` (the file
    schema a previous read resolved) the read skips schema inference,
    the one Spark job a parquet read otherwise launches."""
    if name == "events":
        # ts arrives as raw nanos-since-epoch under this legacy conf
        # (runtime-settable, so this works under any caller's session).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _normalize(name: str, df: DataFrame) -> DataFrame:
    if name != "events":
        return df
    dtype = df.schema["ts"].dataType.simpleString()
    if dtype == "bigint":
        # Integer `div`, not `/`: nanos-since-epoch exceeds double's
        # 53-bit mantissa, so float division drifts by ±1 us.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dtype == "timestamp_ntz":
        # NTZ micros reinterpreted as UTC instants — a no-op on the
        # stored values under the pinned-UTC session.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one parquet table, normalizing physical-type quirks.

    ``events.ts`` has shipped as parquet TIMESTAMP(NANOS) (rejected by
    Spark's vectorized reader) and as un-adjusted ``timestamp[us]`` (read
    as TIMESTAMP_NTZ, which ``unix_micros``/``withWatermark`` reject).
    Normalize both to a plain session-TZ TIMESTAMP; the session TZ is
    pinned UTC everywhere, so values match what DuckDB reads.
    """
    return _normalize(name, _read_file(spark, sf_dir, name, None))


def load_star_schema(
    spark: SparkSession, sf_dir: str, schemas: dict[str, StructType] | None = None
) -> dict[str, DataFrame]:
    """Load every parquet table under ``sf_dir`` as a DataFrame.

    ``schemas`` maps table names to parquet file schemas. A table found
    there is read with its schema, without an inference job; any other
    table's inferred file schema is added to it, so a second load over
    the same dict launches no job at all."""
    schemas = {} if schemas is None else schemas
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        if not os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            continue
        raw = _read_file(spark, sf_dir, name, schemas.get(name))
        if name not in schemas:
            schemas[name] = raw.schema
        out[name] = _normalize(name, raw)
    return out


def register_views(
    spark: SparkSession, sf_dir: str, schemas: dict[str, StructType] | None = None
) -> dict[str, DataFrame]:
    """Register each table as a temp view named after the table
    (``schemas`` as in :func:`load_star_schema`)."""
    dfs = load_star_schema(spark, sf_dir, schemas)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
