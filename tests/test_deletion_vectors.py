"""Deletion-vector position deletes (Iceberg v3's DV idea, array-encoded):
opt-in via ``write.delete.vector.enabled=true``. One delete-file row per
TARGET data file with the sorted positions array — O(affected files)
tombstone rows instead of O(deleted rows) — while every read surface
(scan merge, audit, .position_deletes, changelog, DataSource, rewrite
purge) treats both layouts identically. Consolidation doubles as the
rows→DV migration path."""

from __future__ import annotations

import pytest

from tests.conftest import one_part
from demo_iceberg_permanent_delete_spark.lake import Catalog

DDL = "k bigint, name string"


@pytest.fixture()
def dv_table(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("default")
    t = cat.create_table(
        "default.dv",
        DDL,
        properties={
            "write.delete.mode": "merge-on-read",
            "write.delete.vector.enabled": "true",
        },
    )
    for lo in (0, 100):
        rows = [(lo + i, f"name-{lo + i}") for i in range(100)]
        t.insert(one_part(spark, rows, DDL))
    return t


def test_dv_layout_and_read_merge(spark, dv_table):
    t = dv_table
    t.delete("k IN (3, 5, 105)")  # tombstones across both data files
    [entry] = t.metadata.current_snapshot().delete_files()
    assert entry.dv and entry.content == 1
    # one row per TARGET data file, not per tombstone
    raw = spark.read.parquet(entry.file_path).collect()
    assert len(raw) == 2
    by_card = sorted((r["cardinality"], sorted(r["positions"])) for r in raw)
    assert by_card == [(1, [5]), (2, [3, 5])]
    assert sorted(r["positions"] for r in raw) == sorted(
        [[3, 5], [5]]
    )  # sorted arrays

    keys = {r["k"] for r in t.read().collect()}
    assert keys == set(range(200)) - {3, 5, 105} | {100 + i for i in range(100)} - {105}
    assert len(keys) == 197

    # deleted rows still physically present (the reference's PII point)
    assert {r["k"] for r in t.deleted_rows().collect()} == {3, 5, 105}


def test_dv_metadata_view_and_audit(spark, dv_table):
    t = dv_table
    t.delete("k < 2")
    pd_rows = sorted(
        (r["file_path"], r["pos"]) for r in t.meta("position_deletes").collect()
    )
    assert [p for _, p in pd_rows] == [0, 1]
    audit = t.examine_delete_files()
    assert len(audit) == 1 and audit[0]["positions"] == 2
    assert len(audit[0]["targets"]) == 1


def test_dv_changelog_and_travel(spark, dv_table):
    t = dv_table
    snap0 = t.metadata.current_snapshot_id
    t.delete("k = 42")
    ch = t.changes(start_snapshot_id=snap0).collect()
    assert [(r["k"], r["_change_type"]) for r in ch] == [(42, "DELETE")]
    assert t.read(snapshot_id=snap0).count() == 200


def test_dv_datasource_read(spark, dv_table):
    from demo_iceberg_permanent_delete_spark.sources.lake_datasource import register

    register(spark)
    t = dv_table
    t.delete("k IN (7, 150)")
    df = (
        spark.read.format("lakehouse")
        .option("location", t.metadata.location)
        .load()
    )
    keys = {r["k"] for r in df.collect()}
    assert len(keys) == 198 and 7 not in keys and 150 not in keys


def test_consolidation_migrates_rows_to_dv(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh2"))
    cat.create_namespace("default")
    t = cat.create_table(
        "default.mig",
        DDL,
        properties={
            "write.delete.mode": "merge-on-read",
            # start on the legacy row layout (DV is the default now) to
            # exercise the rows → DV consolidation migration below
            "write.delete.vector.enabled": "false",
        },
    )
    t.insert(
        one_part(spark, [(i, f"n{i}") for i in range(50)], DDL)
    )
    t.delete("k = 1")
    t.delete("k = 2")
    entries = t.metadata.current_snapshot().delete_files()
    assert len(entries) == 2 and not any(e.dv for e in entries)
    # turn DV on; consolidation rewrites the row-layout tombstones into one DV file
    t.set_properties({"write.delete.vector.enabled": "true"})
    t.rewrite_position_delete_files()
    entries = t.metadata.current_snapshot().delete_files()
    assert len(entries) == 1 and entries[0].dv
    assert {r["k"] for r in t.read().collect()} == set(range(50)) - {1, 2}
    # full rewrite still purges everything
    t.rewrite_data_files()
    assert t.metadata.current_snapshot().delete_files() == []
    assert t.read().count() == 48


def test_mor_update_writes_dv(spark, dv_table):
    t = dv_table
    t.set_properties({"write.update.mode": "merge-on-read"})
    t.update({"name": None}, "k = 9")
    dels = t.metadata.current_snapshot().delete_files()
    assert len(dels) == 1 and dels[0].dv
    got = {r["k"]: r["name"] for r in t.read().collect()}
    assert got[9] is None and got[10] == "name-10"


def test_dv_arrow_writer_matches_executor_path(spark, tmp_path, monkeypatch):
    """The round-11 driver-side DV writer must be indistinguishable from
    the executor path: same visible rows, same DV semantics (record_count
    = cardinality, sorted positions, dv flag, referenced-files harvest).
    The executor path is forced via the driver budget."""
    from demo_iceberg_permanent_delete_spark.lake import Catalog, datafiles

    def build(gate):
        monkeypatch.setattr(datafiles, "DRIVER_MAX_ROWS", gate)
        wh = str(tmp_path / f"wh_{gate}")
        cat = Catalog(spark, wh)
        cat.create_namespace("default")
        t = cat.create_table(
            "default.t",
            "id bigint, v string",
            properties={"write.delete.mode": "merge-on-read"},
        )
        t.insert(
            spark.range(1000).selectExpr("id", "concat('v', id % 7) AS v")
        )
        t.delete("id % 7 = 3")
        return t

    t_arrow = build(datafiles.DRIVER_MAX_ROWS)  # driver path
    # a budget under the 143 matches forces the executor path; above the
    # DV file's rows (one per data file) it keeps the referenced-files
    # harvest, which the same budget bounds
    t_exec = build(16)
    got = sorted(map(tuple, t_arrow.read().collect()))
    want = sorted(map(tuple, t_exec.read().collect()))
    assert got == want and got

    def dv_entries(t):
        return [
            e
            for e in t.metadata.current_snapshot().manifest
            if e.content == 1
        ]

    ea, ee = dv_entries(t_arrow), dv_entries(t_exec)
    assert len(ea) == len(ee) == 1
    assert ea[0].dv and ee[0].dv
    assert ea[0].record_count == ee[0].record_count  # = cardinality
    # paths are per-warehouse UUIDs — compare the harvest's shape: same
    # number of referenced data files, every one registered in its table
    assert len(ea[0].referenced_files) == len(ee[0].referenced_files)
    assert ea[0].referenced_files, "small DV must harvest referenced files"
    data_paths = {
        e.file_path
        for e in t_arrow.metadata.current_snapshot().data_files()
    }
    assert set(ea[0].referenced_files) <= data_paths
    # audit surface identical too
    assert sorted(map(tuple, t_arrow.deleted_rows().collect())) == sorted(
        map(tuple, t_exec.deleted_rows().collect())
    )
