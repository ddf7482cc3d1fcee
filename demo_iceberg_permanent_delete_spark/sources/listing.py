"""Filesystem listing source (SURVEY.md §2.1 S9).

The reference walks the warehouse through the Hadoop FileSystem via py4j
(notebooks/utils/s3_utils.py:8-38 — ls_s3_with_date / ls_s3_recursive,
modification times scaled /1000). Our warehouse is local-FS, so the listing
is a plain os.walk surfaced as a DataFrame; the Hadoop-FS path is kept as a
fallback for object stores.

Both walks build the listing on the driver. Orphan detection
(maintenance.remove_orphan_files) takes it as rows and subtracts the
metadata's referenced-path set there: both sides are file-count sized and
already held in Python, so the difference costs no Spark job.
``list_files`` surfaces the same rows as a DataFrame.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

LISTING_SCHEMA = T.StructType(
    [
        T.StructField("file_path", T.StringType()),
        T.StructField("file_size", T.LongType()),
        T.StructField("modified_at", T.TimestampType()),
    ]
)


def list_files(
    spark: SparkSession,
    root: str,
    suffix: str | None = None,
    use_hadoop_fs: bool = False,
) -> DataFrame:
    """Recursive listing of ``root`` as (file_path, file_size, modified_at)."""
    # one Arrow batch, not a defaultParallelism-sliced Python RDD — each
    # consumer's collect otherwise launches a full-width Python-worker job
    # for a metadata-sized listing (the _local_frame rule)
    from demo_iceberg_permanent_delete_spark.lake.table import _local_frame

    return _local_frame(
        spark, list_file_rows(spark, root, suffix, use_hadoop_fs), LISTING_SCHEMA
    )


def list_file_rows(
    spark: SparkSession,
    root: str,
    suffix: str | None = None,
    use_hadoop_fs: bool = False,
) -> list[tuple[str, int, dt.datetime]]:
    """``list_files``' rows: (file_path, file_size, modified_at as naive
    UTC) per file under ``root``."""
    if use_hadoop_fs:
        return _list_files_hadoop(spark, root, suffix)
    rows = []
    for dirpath, _dirnames, filenames in os.walk(root):
        for fn in filenames:
            if suffix and not fn.endswith(suffix):
                continue
            p = os.path.join(dirpath, fn)
            st = os.stat(p)
            rows.append(
                (
                    p,
                    st.st_size,
                    dt.datetime.fromtimestamp(st.st_mtime, dt.timezone.utc).replace(tzinfo=None),
                )
            )
    return rows


def _list_files_hadoop(
    spark: SparkSession, root: str, suffix: str | None
) -> list[tuple[str, int, dt.datetime]]:
    """Hadoop FileSystem walk via py4j — the reference's mechanism
    (s3_utils.py:20-38), kept for object-store warehouses."""
    jvm = spark._jvm
    jsc = spark._jsc
    conf = jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(root)
    fs = path.getFileSystem(conf)
    rows = []
    if not fs.exists(path):
        return rows
    it = fs.listFiles(path, True)  # recursive
    while it.hasNext():
        status = it.next()
        p = status.getPath().toUri().getPath()
        if suffix and not p.endswith(suffix):
            continue
        rows.append(
            (
                p,
                status.getLen(),
                dt.datetime.fromtimestamp(
                    status.getModificationTime() / 1000, dt.timezone.utc
                ).replace(tzinfo=None),
            )
        )
    return rows
