"""Testdata table loaders.

The driver materializes ten parquet tables per scale factor
(TESTDATA.md / FIXTURES.md). These helpers load them as DataFrames and
register temp views so both the DataFrame API and ``spark.sql`` paths
work (the reference mixes both freely, e.g.
notebooks/utils/file_summary_utils.py:45-105 is pure SQL while
notebooks/iceberg_pii_deletion_demo.py:207 is DataFrame calls).

Scans stay declarative (``spark.read.parquet``) so Catalyst gets
predicate pushdown + column pruning for free — at 100 TB the parquet
footer min/max stats and column projection are what keep the scan
volume sane. Each read is pinned to the schema Spark would infer, read
from the file's footer, so a load runs no schema-inference job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _read(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` pinned to the schema Spark would infer,
    read from the footer on every call (datafiles.footer_schema): the
    inferring read runs a Spark job per load. Spark infers when the
    footer has a type the Arrow bridge does not map."""
    import pyarrow as pa

    from demo_iceberg_permanent_delete_spark.lake.datafiles import footer_schema

    try:
        schema = footer_schema(path)
    except (pa.ArrowException, TypeError, ValueError, OSError):
        # an unmapped type, or a footer pyarrow cannot read: Spark's
        # inferring read decides (and reports what it rejects)
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # The driver calls queries with its own SparkSession; timestamp semantics
    # (timestamp_millis, TIMESTAMP literals vs the DuckDB oracle) require a
    # pinned UTC session zone regardless of who built the session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.ts has shipped as either parquet TIMESTAMP(NANOS) (which
        # Spark's vectorized reader rejects — PARQUET_TYPE_ILLEGAL — so we
        # read nanos as long and truncate to micros, bit-identical to
        # DuckDB's ns→µs handling) or plain TIMESTAMP(MICROS) NTZ. Detect
        # from the decoded dtype and normalize to a session-UTC timestamp.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read(spark, table_path(sf_dir, name))
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return _read(spark, table_path(sf_dir, name))


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    names: tuple[str, ...] = TABLES,
    register_views: bool = True,
) -> dict[str, DataFrame]:
    """Load the requested tables; optionally register same-named temp views."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out
