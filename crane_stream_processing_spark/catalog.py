"""Table catalog for the driver-generated parquet tables (TESTDATA.md).

The reference system's "catalog" was SDFS's name→versions map
(reference ``server/sdfs.go:24``); here tables are parquet directories and
the catalog is this module: explicit schemas (FIXTURES.md §B) so readers
never rely on inference, plus loaders that register temp views.

At 100 TB each table is a partitioned parquet dataset; nothing here assumes
single-file layout — ``load_table`` takes any path spark.read.parquet accepts.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import ensure_engine_confs

__all__ = [
    "TABLES",
    "SCHEMAS",
    "default_sf_dir",
    "events_schema",
    "events_ts_type",
    "load_table",
    "load_tables",
    "normalize_events_ts",
    "row_count",
    "stream_table",
]

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


# The schema each table has as ``load_table`` returns it. The generated
# date columns are stored as timezone-less ``timestamp[us]``, which Spark
# reads as TIMESTAMP_NTZ; only ``events.ts`` is normalized to TIMESTAMP
# (``normalize_events_ts``).
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _schema(spark: SparkSession, sf_dir: str, name: str) -> T.StructType:
    """The schema ``name`` is read with: SCHEMAS[name], with events.ts as
    its probed stored type (``events_ts_type``)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog has {TABLES}")
    if name == "events":
        return events_schema(events_ts_type(spark, sf_dir))
    return SCHEMAS[name]


def table_path(sf_dir: str, name: str) -> str:
    """Where catalog table ``name`` lives under ``sf_dir``: one parquet file
    or a directory of part files."""
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one catalog table with its declared schema (SCHEMAS), so no
    schema-inference job runs; tests/test_cli_and_sources.py asserts that
    the declared schema equals the inferred one at every generated scale
    factor."""
    ensure_engine_confs(spark)
    df = spark.read.schema(_schema(spark, sf_dir, name)).parquet(table_path(sf_dir, name))
    return normalize_events_ts(df) if name == "events" else df


def row_count(sf_dir: str, name: str) -> int:
    """Rows in one catalog table, summed from its parquet footers (a file
    or a directory of part files): no Spark job, no data read."""
    import pyarrow.dataset as ds

    return ds.dataset(table_path(sf_dir, name), format="parquet").count_rows()


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The streaming twin of ``load_table``: a file stream of one catalog
    table with the same schema. A table may be one parquet FILE (stream
    ``sf_dir`` with a filename glob, since the streaming file source takes
    directories) or a parquet DIRECTORY of part files (stream it directly:
    the glob would match no leaf and the stream would silently be empty)."""
    ensure_engine_confs(spark)
    reader = spark.readStream.schema(_schema(spark, sf_dir, name))
    path = table_path(sf_dir, name)
    if os.path.isdir(path):
        df = reader.parquet(path)
    else:
        df = reader.option("pathGlobFilter", f"{name}.parquet").parquet(sf_dir)
    return normalize_events_ts(df) if name == "events" else df


def events_ts_type(spark: SparkSession, sf_dir: str) -> T.DataType:
    """The stored type of ``events.ts`` under ``sf_dir`` as Spark reads it
    with nanosAsLong set: TIMESTAMP(NANOS) arrives as long, TIMESTAMP(MICROS)
    as TIMESTAMP_NTZ or TIMESTAMP. Probed from the parquet footer once per
    table dir (an artifact), because it depends on how the data was
    generated: forcing one type over the other would silently corrupt
    every timestamp."""
    from .inventory import artifact

    return artifact(
        "crane_events_ts_type",
        sf_dir,
        lambda: spark.read.parquet(table_path(sf_dir, "events"))
        .schema["ts"]
        .dataType,
        directory=False,
    )


def events_schema(ts_type: T.DataType) -> T.StructType:
    """SCHEMAS["events"] with ``ts`` read as ``ts_type``, the stored type
    (``events_ts_type``) that ``normalize_events_ts`` then converts."""
    return T.StructType(
        [
            T.StructField(f.name, ts_type) if f.name == "ts" else f
            for f in SCHEMAS["events"].fields
        ]
    )


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """events.ts → TIMESTAMP_LTZ (UTC session) whatever the stored type:
    TIMESTAMP(NANOS) arrives as long under nanosAsLong → integer-divide
    ns → µs (no double-precision loss; DuckDB truncates identically);
    TIMESTAMP(MICROS) NTZ → reinterpret in the UTC session. The single
    definition of the timestamp contract — batch (load_table) and
    streaming (stream_table) both call it, so the two paths cannot
    disagree on the same column."""
    kind = df.schema["ts"].dataType.typeName()
    if kind == "long":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if kind == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register every table as a temp view so SQL queries can run against it
    (mirrors the DuckDB-side view registration the driver does)."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
