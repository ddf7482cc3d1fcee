"""The testdata loader pins each read to the schema Spark would infer,
read from the parquet footer (datafiles.footer_schema): the same frame
schema as Spark's own inference, with no schema-inference job."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from demo_iceberg_permanent_delete_spark.sources import tables
from demo_iceberg_permanent_delete_spark.sources.tables import TABLES, load_table, table_path
from tests.conftest import jobless

SCALES = ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")


def _inferred(spark, sf_dir: str, name: str):
    """load_table as it was: spark.read.parquet inferring the schema."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        if df.schema["ts"].dataType.typeName() == "long":
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


@pytest.mark.parametrize("sf_dir", SCALES)
def test_pinned_schema_is_sparks_inference(spark, sf_dir):
    """All ten tables at three scales: the loaded frame's schema is the
    schema Spark infers, and the load starts no job."""
    for name in TABLES:
        df = jobless(spark, lambda name=name: load_table(spark, sf_dir, name))
        assert df.schema == _inferred(spark, sf_dir, name).schema, name


def test_nanos_events_read_as_micros(spark, tmp_path):
    """An events file whose ts is parquet TIMESTAMP(NANOS) loads through
    the footer schema's raw-long rule to the same schema and rows as the
    inferring read."""
    ts = [dt.datetime(2024, 1, 1, 0, 0, 0, 123456), None, dt.datetime(1999, 12, 31, 23, 59)]
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(
                [None if t is None else int(t.timestamp() * 1e6) * 1000 + 789 for t in ts],
                pa.timestamp("ns"),
            ),
            "event_type": ["a", "b", None],
        }
    )
    pq.write_table(table, str(tmp_path / "events.parquet"))
    df = jobless(spark, lambda: load_table(spark, str(tmp_path), "events"))
    want = _inferred(spark, str(tmp_path), "events")
    assert df.schema == want.schema
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.orderBy("event_id").collect() == want.orderBy("event_id").collect()


def test_unmapped_footer_type_falls_back_to_inference(spark, tmp_path):
    """A footer type the Arrow bridge does not map (an unsigned integer)
    is left to Spark's inference."""
    path = str(tmp_path / "u.parquet")
    pq.write_table(pa.table({"u": pa.array([1, 2], pa.uint32())}), path)
    df = tables._read(spark, path)
    assert df.schema == spark.read.parquet(path).schema
