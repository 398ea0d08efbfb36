"""Sources: parquet table loaders + the reference's point format.

The reference ingests points as sorted CSV files of
``pidx,dim0,dim1,...`` (reference ``code/bfr.py:209-217``,
``Runner.load_points``). :func:`points_from_indexed_csv` re-expresses
that as a distributed scan producing ``(id: long, features:
array<double>)`` — no driver-side file loop, so it scales to any
number of chunk files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


def normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to a Spark timestamp, branching
    on the dtype the scan actually produced (the reference reads its
    input as given, ``code/bfr.py:209-217`` — no format assumption):

    - TIMESTAMP / TIMESTAMP_NTZ: pass through untouched (matches
      DuckDB's read of ``timestamp[us]`` parquet).
    - LONG (a TIMESTAMP(NANOS) column scanned under
      ``spark.sql.legacy.parquet.nanosAsLong``): truncate nanos to
      micros. Metadata-only tweak; the scan stays fully pushed down.
    """
    from pyspark.sql.types import LongType

    if isinstance(df.schema[col].dataType, LongType):
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    return df


def ensure_utc(spark: SparkSession) -> None:
    """Pin the session timezone to UTC. The engine defines its
    timestamp semantics as UTC (matching DuckDB's naive-timestamp
    reading of ``timestamp[us]`` parquet), but callers may hand us a
    vanilla SparkSession — where NTZ→TIMESTAMP casts and ``unix_*``
    functions would silently follow the host timezone. Idempotent,
    runtime-settable; applied at every source entry point.
    (Unconditional set: conf.get validates its *default* argument as
    a timezone, so a read-compare-set dance fails on fresh sessions.)"""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def enable_nanos_scan(spark: SparkSession) -> None:
    """Scan TIMESTAMP(NANOS) parquet as LONG instead of failing at
    scan time, so ``normalize_ts``'s LongType branch can fire.
    Harmless for micro/NTZ data. NOTE: the conf is session-wide and
    cannot be scoped temporally (scans are lazy) — if some OTHER
    table ever carried a nanos column, it would scan as raw LONG
    without normalization; only events has time columns in this
    schema, so the trade is deliberate."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_utc(spark)
    if name == "events":
        enable_nanos_scan(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_ts(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def load_csv(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """CSV source with explicit schema (no inference scan — at 100 TB
    schema inference is a full extra pass)."""
    reader = spark.read.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def load_json_lines(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines source; pass a schema to skip inference."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def points_from_indexed_csv(spark: SparkSession, path: str) -> DataFrame:
    """Read the reference's point-chunk CSV format distributedly.

    Each line is ``pidx,dim0,dim1,...`` with a variable number of
    dims. Reads as a single text column and splits JVM-side (no
    Python UDF): id = first field, features = rest cast to double.
    The features are one array cast, which whole-stage codegen
    compiles; a ``transform`` lambda doing the same per-element cast
    is interpreted row by row. The two columns are SQL expressions:
    parsing them is cheaper than building the same trees from
    Column objects, one py4j call each.
    """
    return spark.read.text(path).selectExpr(
        "cast(split(value, ',')[0] as long) AS id",
        f"cast(slice(split(value, ','), 2, {1 << 20}) as array<double>) AS features",
    )


def embeddings_as_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The testdata analogue of the reference's point stream:
    (id, features array<double>, label ground truth)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("features"),
        F.col("label"),
    )
