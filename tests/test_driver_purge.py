"""Driver-side purge (lake/maintenance.py): within the driver budget the
hierarchical-sort ``rewrite_data_files`` and the deletion-vector
``rewrite_position_delete_files`` read through the DataSource's per-file
MOR reader and write with pyarrow, starting no Spark job. Each scenario
runs the purge once at the default budget and once with the budget forced
to 0 (the executor rewrite); rows, row lineage and the consolidated
manifests must agree, and both layouts must keep the range-clustering
contract: sorted files with disjoint key ranges, at most ``want`` of them."""

from __future__ import annotations

import datetime as dt
import os
from math import ceil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tests.conftest import jobless
from demo_iceberg_permanent_delete_spark.lake import Catalog, datafiles
from demo_iceberg_permanent_delete_spark.lake.table import LakeTable
from demo_iceberg_permanent_delete_spark.sources import lake_datasource

MOR = {"write.delete.mode": "merge-on-read"}


def _insert(t, spark, lo, hi, *exprs):
    t.insert(
        spark.range(lo, hi, numPartitions=1).withColumnRenamed("id", "k").selectExpr(*exprs)
    )


def _files(t, spark, lo, hi, *exprs, per=40):
    for a in range(lo, hi, per):
        _insert(t, spark, a, min(a + per, hi), *exprs)


def _erase(t, *keys):
    for k in keys:
        t.delete(f"k = {k}")


def _renamed(spark, cat):
    t = cat.create_table("default.t", "k bigint, a string", properties=MOR)
    # NULL and repeated sort keys: nulls sort first, equal keys share a file
    _files(t, spark, 0, 80, "k", "IF(k % 9 = 0, NULL, concat('a', k % 6)) AS a")
    t.rename_column("a", "b")
    _files(t, spark, 80, 160, "k", "IF(k % 9 = 0, NULL, concat('a', k % 6)) AS b")
    _erase(t, 5, 50, 90)
    return t, "k >= 30 AND k < 130", ["b", "k"]


def _defaults(spark, cat):
    t = cat.create_table("default.t", "k bigint, a string", properties=MOR)
    _files(t, spark, 0, 80, "k", "'x' AS a")
    t.add_column("d", "int", default=7)
    _files(t, spark, 80, 160, "k", "'y' AS a", "cast(k % 3 AS int) AS d")
    _erase(t, 10, 85, 120)
    return t, "k >= 0 AND k < 160", ["d"]


def _eq_deletes(spark, cat):
    t = cat.create_table("default.t", "k bigint, a string", properties=MOR)
    _files(t, spark, 0, 160, "k", "concat('a', k % 3) AS a")
    t.equality_delete(spark.range(40, 45).selectExpr("id AS k"), ["k"])
    # committed after the equality delete: the sequence rule keeps it
    _insert(t, spark, 42, 43, "k", "'again' AS a")
    _erase(t, 50, 100)
    return t, "k >= 30 AND k < 110", ["k"]


def _days_partitioned(spark, cat):
    t = cat.create_table(
        "default.t",
        "k bigint, ts timestamp",
        properties=MOR,
        partition_by=["days(ts)"],
    )
    _files(
        t, spark, 0, 160, "k",
        "timestamp'2024-03-01 00:00:00' + make_interval(0, 0, 0, cast(k % 4 AS int)) AS ts",
    )
    _erase(t, 3, 44, 121)
    return t, "k >= 0 AND k < 160", ["k"]


def _timestamps(spark, cat):
    t = cat.create_table(
        "default.t", "k bigint, ts timestamp, tn timestamp_ntz", properties=MOR
    )
    _files(
        t, spark, 0, 160, "k",
        "timestamp'2024-03-10 00:30:00' + make_interval(0, 0, 0, 0, cast(k % 50 AS int)) AS ts",
        "timestamp_ntz'2024-03-10 00:30:00' + make_interval(0, 0, 0, 0, cast(k % 7 AS int)) AS tn",
    )
    _erase(t, 12, 60, 99)
    return t, "k >= 0 AND k < 120", ["tn", "ts"]


def _encoded_position(df, paths):
    # the position keys MOR deletes wrote before they used manifest paths
    return df.select(
        "*",
        F.regexp_replace(F.col("_metadata.file_path"), "^file:", "").alias("__fp"),
        F.col("_metadata.row_index").alias("__pos"),
    )


def _encoded_location(spark, cat):
    t = cat.create_table("default.t", "k bigint, a string", properties=MOR)
    _files(t, spark, 0, 160, "k", "concat('a', k % 4) AS a")
    _erase(t, 7)
    with pytest.MonkeyPatch.context() as m:
        m.setattr(LakeTable, "_with_position", staticmethod(_encoded_position))
        m.setattr(LakeTable, "_driver_read", lambda *a, **k: None)
        m.setattr(LakeTable, "_erase_on_driver", lambda *a, **k: None)
        _erase(t, 47, 90)
    assert any(
        "%20" in r
        for e in t.metadata.current_snapshot().delete_files()
        for r in e.referenced_files
    )
    return t, "k >= 0 AND k < 120", ["k"]


SCENARIOS = {
    "renamed": (_renamed, "wh"),
    "defaults": (_defaults, "wh"),
    "eq_deletes": (_eq_deletes, "wh"),
    "days_partitioned": (_days_partitioned, "wh"),
    "timestamps": (_timestamps, "wh"),
    "encoded_location": (_encoded_location, "wh with space %25 a+b"),
}


def _vanilla(spark):
    """A session like an outside driver's: not UTC, Arrow conf unset."""
    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "America/New_York")
    s.conf.unset("spark.sql.execution.arrow.pyspark.enabled")
    return s


def _rows(df):
    return sorted(repr(r.asDict(recursive=True)) for r in df.collect())


def _manifests(t):
    return [
        (
            s.operation,
            sorted(
                (e.content, e.record_count, bool(getattr(e, "dv", False)))
                for e in s.manifest
            ),
        )
        for s in t.metadata.snapshots
    ]


def _nulls_first(row):
    return tuple((v is not None, v) for v in row)


def _key_rows(path, keys):
    cols = pq.read_table(path, columns=keys).to_pydict()
    return [_nulls_first(r) for r in zip(*(cols[k] for k in keys))]


def _lineage(t):
    return sorted(
        (r["k"], r["_row_id"], r["_last_updated_sequence_number"])
        for r in t.read(lineage=True).collect()
    )


def _partition_totals(t):
    """(partition, live data rows) of the .partitions view."""
    return sorted(
        (repr(r["partition"]), r["record_count"])
        for r in t.meta("partitions").collect()
    )


def _harvested_totals(entries):
    """The same totals folded from the files' write-time harvest."""
    totals: dict[str, int] = {}
    for e in entries:
        for part, n in e.partition_counts:
            key = repr(part)
            totals[key] = totals.get(key, 0) + n
    return sorted(totals.items())


def _purge(session, wh, build, budget):
    Catalog(session, wh).create_namespace("default")
    t, where, keys = build(session, Catalog(session, wh))
    lineage = _lineage(t)
    budget()
    t.rewrite_position_delete_files()
    consolidated = _manifests(t)
    snap = t.metadata.current_snapshot()
    prior = {e.file_path: e for e in snap.data_files()}
    # the consolidated DV files name live data files only
    assert all(
        e.dv and set(e.referenced_files) <= set(prior)
        for e in snap.delete_files()
        if e.content == 1
    )
    target = sum(e.file_size_in_bytes for e in prior.values()) // 6
    t.rewrite_data_files(where=where, sort_order=keys, target_file_size_bytes=target)
    snap = t.metadata.current_snapshot()
    now = {e.file_path: e for e in snap.data_files()}
    new = [e for p, e in now.items() if p not in prior]
    removed = [e for p, e in prior.items() if p not in now]
    want = ceil(sum(e.file_size_in_bytes for e in removed) / target)
    assert 1 < len(new) <= want
    # each file sorted; key ranges disjoint, so equal keys share a file
    ranges = []
    for e in new:
        rows = _key_rows(e.file_path, keys)
        assert rows == sorted(rows) and len(rows) == e.record_count
        ranges.append((rows[0], rows[-1]))
    ranges.sort()
    assert all(a[1] < b[0] for a, b in zip(ranges, ranges[1:]))
    # the .files view is the manifest, and each file's footer agrees
    files = {
        r["file_path"]: (r["content"], r["record_count"], r["file_size_in_bytes"])
        for r in t.meta("files").collect()
    }
    assert files == {
        e.file_path: (e.content, e.record_count, e.file_size_in_bytes)
        for e in snap.manifest
    }
    for e in new:
        assert pq.ParquetFile(e.file_path).metadata.num_rows == e.record_count
        assert os.path.getsize(e.file_path) == e.file_size_in_bytes
    # row identity survives the rewrite
    assert _lineage(t) == lineage
    return new, {
        "rows": _rows(t.read()),
        "lineage": lineage,
        "consolidated": consolidated,
        "rewritten": (len(removed), sum(e.record_count for e in new)),
        "partitions": _partition_totals(t) if t._partition_fields else None,
    }


@pytest.mark.parametrize("name", sorted(SCENARIOS))
def test_driver_purge_matches_executor_purge(spark, tmp_path, monkeypatch, name):
    build, wh = SCENARIOS[name]
    session = _vanilla(spark) if name == "timestamps" else spark
    calls = []
    real = lake_datasource.read_entries_arrow

    def spy(*args, **kwargs):
        calls.append(kwargs.get("lineage", False))
        return real(*args, **kwargs)

    monkeypatch.setattr(lake_datasource, "read_entries_arrow", spy)
    new, driver = _purge(session, str(tmp_path / "a" / wh), build, calls.clear)
    # the rewrite's one lineage-resolving candidate read
    assert calls == [True]
    _, executor = _purge(
        session,
        str(tmp_path / "b" / wh),
        build,
        lambda: (calls.clear(), monkeypatch.setattr(datafiles, "DRIVER_MAX_ROWS", 0)),
    )
    assert calls == []
    assert driver == executor
    if driver["partitions"] is not None:
        # the driver rewrite harvests each file's partition counts (the
        # executor's harvest at budget 0 is left to the view's scan); the
        # view's empty-partition row holds the global delete files
        assert _harvested_totals(new) == [
            p for p in driver["partitions"] if p[0] != "{}"
        ]


def _erasure_table(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("default")
    t = cat.create_table("default.t", "k bigint, a string", properties=MOR)
    t.insert(
        spark.range(0, 2000)
        .selectExpr("id AS k", "concat('a', id) AS a")
        .repartitionByRange(8, "k")
        .sortWithinPartitions("k")
    )
    files = t.metadata.current_snapshot().data_files()
    size = sum(e.file_size_in_bytes for e in files) // len(files)
    keys = [100, 380, 630, 880]
    for k in keys:
        t.delete(f"k = {k}")
    return t, keys, size


def _erasure_purge(t, keys, size):
    t.rewrite_position_delete_files()
    t.rewrite_data_files(
        where=f"k IN ({', '.join(map(str, keys))})",
        sort_order=["k"],
        target_file_size_bytes=size,
    )
    now = dt.datetime.now()
    t.expire_snapshots(now, retain_last=1)
    t.remove_orphan_files(now, enforce_safety=False)


def test_erasure_purge_runs_no_spark_job(spark, tmp_path):
    """The erasure workload's purge — consolidation, scoped sorted
    rewrite, expiry and orphan removal — within the budget starts no
    Spark job and leaves the erased keys in no file under the table."""
    t, keys, size = _erasure_table(spark, tmp_path)
    jobless(spark, lambda: _erasure_purge(t, keys, size))
    assert sorted(r["k"] for r in t.read().collect()) == [
        k for k in range(2000) if k not in keys
    ]
    for root, _dirs, names in os.walk(t.location):
        for n in names:
            if n.endswith(".parquet") and n.startswith("data-"):
                got = pq.read_table(os.path.join(root, n), columns=["k"])
                assert not set(keys) & set(got.column("k").to_pylist())


def test_over_budget_purge_takes_the_executor_path(spark, tmp_path, monkeypatch):
    """A rewrite whose candidate read is past the budget keeps the
    executor rewrite: the driver reader is never called for it and
    Spark jobs run; the rows come out the same."""
    t, keys, size = _erasure_table(spark, tmp_path)
    scoped = [
        e
        for e in t.metadata.current_snapshot().data_files()
        if any(e.min_values["k"] <= k <= e.max_values["k"] for k in keys)
    ]
    # the consolidation (delete files only) fits; the candidates do not
    monkeypatch.setattr(
        datafiles, "DRIVER_MAX_ROWS", sum(e.record_count for e in scoped) - 1
    )
    calls = []
    real = lake_datasource.read_entries_arrow
    monkeypatch.setattr(
        lake_datasource,
        "read_entries_arrow",
        lambda *a, **k: calls.append(1) or real(*a, **k),
    )
    jobless(spark, t.rewrite_position_delete_files)
    sc = spark.sparkContext
    sc.setJobGroup("over-budget", "over-budget")
    try:
        _erasure_purge(t, keys, size)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("over-budget")
    assert calls == []
    assert sorted(r["k"] for r in t.read().collect()) == [
        k for k in range(2000) if k not in keys
    ]
