"""Batch table sources over the driver-provided parquet layout.

Mirrors the reference's source surface (ExecutionEnvironment.readCsvFile /
readTextFile / createInput — /root/reference/flink-java/src/main/java/org/
apache/flink/api/java/ExecutionEnvironment.java:391,498) on `spark.read`.
Parquet is the primary format: columnar scan + predicate pushdown + column
pruning come from the DataSource V2 path, which strictly subsumes the
reference's ProjectableTableSource/FilterableTableSource
(/root/reference/flink-libraries/flink-table/src/main/scala/org/apache/
flink/table/sources/CsvTableSource.scala:50).

At 100 TB the tables would be directories of many parquet files (possibly
hive-partitioned); `spark.read.parquet(path)` handles both the single-file
test layout and a partitioned directory layout unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
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

# Dimension tables small enough to broadcast at any scale factor (region and
# nation are fixed-size in TPC-H; supplier/part/customer grow with SF but the
# optimizer re-checks sizes — these are only the *always safe* set).
BROADCAST_SAFE = {"region", "nation"}

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _path(sf_dir: str, name: str) -> str:
    p = os.path.join(sf_dir, f"{name}.parquet")
    return p


def read_parquet_nanos(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet file under the engine's one policy for INT64
    TIMESTAMP(NANOS) columns, which have no Spark type: they are read as
    long nanoseconds (``spark.sql.legacy.parquet.nanosAsLong``) and the
    caller divides them down to microseconds. ``get_session`` sets that
    conf for every engine session, so there this is a plain read. A
    session without it (a caller's own) rejects such a footer
    (PARQUET_TYPE_ILLEGAL); the conf is then set on that session, for
    every later read too, and the read retried once."""
    try:
        return spark.read.parquet(path)
    except Exception:
        if spark.conf.get(_NANOS_AS_LONG, "false") == "true":
            raise
        spark.conf.set(_NANOS_AS_LONG, "true")
        return spark.read.parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table as a DataFrame (lazy scan; pushdown-capable)."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    df = read_parquet_nanos(spark, _path(sf_dir, name))
    if name == "events":
        # Under the nanos-as-long read ts arrives as long nanos; convert to
        # microsecond timestamp with integer division — nanos ≈ 1.7e18
        # overflows double's exact integer range, so no float division here.
        # DuckDB truncates nanos→micros the same way.
        from pyspark.sql import types as T

        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES if os.path.exists(_path(sf_dir, name))}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view so `spark.sql` queries see the
    same catalog the DuckDB oracle does."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def read_csv(spark: SparkSession, path: str, schema=None, header: bool = True) -> DataFrame:
    """CSV source (ExecutionEnvironment.readCsvFile parity). Explicit schema
    preferred — `inferSchema` triggers an extra full scan, unacceptable at
    scale."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """Line-delimited text source (ExecutionEnvironment.readTextFile parity)."""
    return spark.read.text(path)


def read_file_of_primitives(
    spark: SparkSession, path: str, type_ddl: str, delimiter: str | None = None
) -> DataFrame:
    """readFileOfPrimitives parity (ExecutionEnvironment.java:466): a file
    of delimiter-separated primitive values becomes a single-column
    DataFrame of `type_ddl` (e.g. "long", "double", "string"). With the
    default newline delimiter this is the text source + a cast; a custom
    delimiter splits each line first (the reference's variant with a
    delimiter argument). Unparseable tokens become NULL, matching the
    permissive cast the reference's primitive parsers apply."""
    lines = spark.read.text(path)
    if delimiter is not None and delimiter != "\n":
        lines = lines.select(
            F.explode(F.split(F.col("value"), F.lit(delimiter))).alias("value")
        ).filter(F.col("value") != "")
    # try_cast: malformed tokens -> NULL even under ANSI mode (a plain
    # cast would abort the whole scan on one bad line)
    return lines.select(F.col("value").try_cast(type_ddl).alias("value"))


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC columnar source (reference: flink-formats orc support) — native
    in Spark with the same pushdown/pruning path parquet gets."""
    return spark.read.orc(path)


def from_rows(spark: SparkSession, rows, schema) -> DataFrame:
    """Local-collection source (ExecutionEnvironment.fromCollection parity,
    ExecutionEnvironment.java:600)."""
    return spark.createDataFrame(rows, schema=schema)
