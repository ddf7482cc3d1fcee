"""Delete-file scoping in planned scans (pruning.scope_delete_files,
round-7 verdict item 3): a partition-scoped read of a MOR table plans
strictly FEWER delete files than live — position deletes scoped by their
referenced-file path bounds, equality deletes by key bounds + the
sequence rule — with results identical to the unscoped read, across the
DV / plain-position / equality layouts."""

from __future__ import annotations

import datetime as dt

import pytest

from demo_iceberg_permanent_delete_spark.lake import Catalog
from demo_iceberg_permanent_delete_spark.lake.metadata import ManifestEntry
from demo_iceberg_permanent_delete_spark.lake.pruning import scope_delete_files


def _delete_scope(t, predicate):
    """{planned, skipped} delete files of the scan plan for ``predicate``."""
    return t._scan_plan(t.metadata.current_snapshot(), predicate).delete_scope


@pytest.fixture
def cat(spark, tmp_path):
    c = Catalog(spark, str(tmp_path / "wh"))
    c.create_namespace("default")
    return c, spark


def _mor_partitioned(cat, spark, name, *, dv: bool):
    """3 single-day commits on a days(d) MOR table + one MOR position
    delete per day (each delete's DV/rows reference only that day's
    files)."""
    t = cat.create_table(
        name,
        "id bigint, d date, v string",
        partition_by=["days(d)"],
        properties={
            "write.delete.mode": "merge-on-read",
            "write.delete.vector.enabled": "true" if dv else "false",
        },
    )
    for c in range(3):
        rows = [
            (c * 100 + i, dt.date(2024, 5, c + 1), f"r{i}") for i in range(20)
        ]
        t.insert(spark.createDataFrame(rows, "id long, d date, v string"))
    for c in range(3):
        t.delete(f"id = {c * 100 + 5}")  # one MOR delete per day
    return t


@pytest.mark.parametrize("dv", [True, False], ids=["dv", "plain-pos"])
def test_scoped_scan_plans_fewer_position_delete_files(cat, dv):
    c, spark = cat
    name = f"default.ds_{'dv' if dv else 'plain'}"
    t = _mor_partitioned(c, spark, name, dv=dv)
    live_deletes = len(t.metadata.current_snapshot().delete_files())
    assert live_deletes == 3

    t2 = c.load_table(name)
    got = sorted(r["id"] for r in t2.scan("d = DATE '2024-05-02'").collect())
    assert got == [i for i in range(100, 120) if i != 105]
    # only the day-2 delete file is planned; the other days' are skipped
    scope = _delete_scope(t2, "d = DATE '2024-05-02'")
    assert scope["planned"] == 1
    assert scope["skipped"] == 2

    # differential: scoped ≡ full filter for every day
    for day in (1, 2, 3):
        tf = c.load_table(name)
        pred = f"d = DATE '2024-05-0{day}'"
        got = sorted(r["id"] for r in tf.scan(pred).collect())
        want = sorted(r["id"] for r in tf.read().filter(pred).collect())
        assert got == want, pred


def test_equality_delete_scoping_by_key_bounds_and_sequence(cat):
    c, spark = cat
    t = c.create_table("default.ds_eq", "id bigint, name string")
    t.insert(
        spark.createDataFrame(
            [(i, f"a{i:02d}") for i in range(10)], "id long, name string"
        )
    )
    t.equality_delete(spark.createDataFrame([("a03",)], "name string"))
    # re-insert a deleted key AFTER the delete: the sequence rule keeps it
    t.insert(spark.createDataFrame([(99, "a03")], "id long, name string"))

    t2 = c.load_table("default.ds_eq")
    got = sorted(r["id"] for r in t2.read().collect())
    assert got == [i for i in range(10) if i != 3] + [99]

    # a scan scoped to rows whose files were all committed AFTER the
    # delete: the sequence rule alone drops the eq-delete file
    t3 = c.load_table("default.ds_eq")
    got3 = sorted(r["id"] for r in t3.scan("id = 99").collect())
    assert got3 == [99]
    assert _delete_scope(t3, "id = 99")["skipped"] == 1

    # key-bounds disjointness: delete key z99 is outside every data
    # file's name range after a scoped scan on the first insert
    t3.equality_delete(spark.createDataFrame([("z99",)], "name string"))
    t4 = c.load_table("default.ds_eq")
    got4 = sorted(r["id"] for r in t4.scan("id <= 9").collect())
    assert got4 == [i for i in range(10) if i != 3]


def test_scope_delete_files_unit():
    def data(path, added=1, mins=None, maxs=None, nulls=None):
        return ManifestEntry(
            file_path=path,
            content=0,
            record_count=10,
            file_size_in_bytes=100,
            min_values=mins or {},
            max_values=maxs or {},
            null_counts=nulls or {},
            added_snapshot_id=added,
        )

    def pos(lo, hi, dv=False, refs=None):
        e = ManifestEntry(
            file_path="del-pos",
            content=1,
            record_count=3,
            file_size_in_bytes=10,
            min_values={"file_path": lo},
            max_values={"file_path": hi},
            referenced_files=refs or [],
        )
        e.dv = dv
        return e

    d1, d2 = data("/t/data/aa.parquet"), data("/t/data/mm.parquet")
    # path range covers a candidate → kept; disjoint → dropped
    assert scope_delete_files([pos("/t/data/a", "/t/data/b")], [d1, d2])
    assert not scope_delete_files([pos("/t/data/x", "/t/data/z")], [d1, d2])
    assert scope_delete_files(
        [pos("/t/data/aa.parquet", "/t/data/aa.parquet", dv=True)], [d1]
    )
    # referenced_files is EXACT and beats the (wide) range: a delete whose
    # range spans everything but whose targets are not candidates drops
    assert not scope_delete_files(
        [pos("/t/data/a", "/t/data/z", refs=["/t/data/qq.parquet"])], [d1, d2]
    )
    assert scope_delete_files(
        [pos("/t/data/a", "/t/data/z", refs=["/t/data/mm.parquet"])], [d1, d2]
    )
    # missing path stats → kept (sound)
    no_stats = ManifestEntry(
        file_path="del-ns", content=1, record_count=1, file_size_in_bytes=1
    )
    assert scope_delete_files([no_stats], [d1])

    def eq(added, cols, mins, maxs, nulls):
        return ManifestEntry(
            file_path="del-eq",
            content=2,
            record_count=1,
            file_size_in_bytes=10,
            equality_columns=cols,
            min_values=mins,
            max_values=maxs,
            null_counts=nulls,
            added_snapshot_id=added,
        )

    order = {1: 0, 2: 1, 3: 2}
    df_early = data("/t/data/e.parquet", added=1,
                    mins={"k": "a"}, maxs={"k": "f"}, nulls={"k": 0})
    # sequence: a delete at seq 1 never masks a file added at seq 2
    e_del = eq(2, ["k"], {"k": "c"}, {"k": "c"}, {"k": 0})
    assert scope_delete_files([e_del], [df_early], order)
    df_late = data("/t/data/l.parquet", added=3,
                   mins={"k": "a"}, maxs={"k": "f"}, nulls={"k": 0})
    assert not scope_delete_files([e_del], [df_late], order)
    # key bounds disjoint with every candidate → dropped
    e_far = eq(2, ["k"], {"k": "zz"}, {"k": "zz"}, {"k": 0})
    assert not scope_delete_files([e_far], [df_early], order)
    # NULL keys in the delete file → bounds can't prove (eqNullSafe) → kept
    e_null = eq(2, ["k"], {"k": "zz"}, {"k": "zz"}, {"k": 1})
    assert scope_delete_files([e_null], [df_early], order)
    # unknown delete snapshot id masks everything (2**31 fallback) → kept
    e_unknown = eq(999, ["k"], {"k": "c"}, {"k": "c"}, {"k": 0})
    assert scope_delete_files([e_unknown], [df_early], order)


def test_datasource_tasks_ship_only_referencing_delete_files(cat):
    """The lakehouse batch reader plans delete files PER TASK: a data
    file's partition carries only the position-delete/DV files whose
    referenced_files set contains it (unknown sets still ship to every
    task). At 100 TB this is 'each task opens its own tombstones', not
    'every task opens every delete file'."""
    from pyspark.sql.types import StructType

    from demo_iceberg_permanent_delete_spark.sources.lake_datasource import (
        LakeBatchReader,
        register,
    )

    c, spark = cat
    register(spark)
    t = _mor_partitioned(c, spark, "default.ds_tasks", dv=True)
    reader = LakeBatchReader(
        StructType.fromDDL("id bigint, d date, v string"),
        {"location": t.metadata.location},
    )
    parts = [p for p in reader.partitions() if p.file_path is not None]
    assert parts
    deletes_by_entry = {}
    for e in t.metadata.current_snapshot().delete_files():
        assert e.referenced_files  # harvested at write time
        for rp in e.referenced_files:
            deletes_by_entry.setdefault(rp, set()).add(e.file_path)
    total_deletes = len(t.metadata.current_snapshot().delete_files())
    assert total_deletes == 3
    for p in parts:
        shipped = set(p.pos_delete_paths) | set(p.dv_paths)
        assert shipped == deletes_by_entry.get(p.file_path, set())
        assert len(shipped) < total_deletes  # strictly scoped per task
    # and the merged read stays correct
    got = sorted(
        r["id"]
        for r in spark.read.format("lakehouse")
        .option("location", t.metadata.location)
        .load()
        .collect()
    )
    assert got == [
        c * 100 + i for c in range(3) for i in range(20) if i != 5
    ]
