"""Equality-delete files (content=2): write, sequence-gated read-merge,
interaction with position deletes, and physical purge via
rewrite_data_files. Closes SURVEY.md §2.8's declared gap (the reference
decodes content=2 but never creates it — file_summary_utils.py:146)."""

from __future__ import annotations

from tests.conftest import one_part
from demo_iceberg_permanent_delete_spark.lake import Catalog, datafiles

DDL = "k bigint, name string, v double"


def _table(spark, tmp_path, name="default.eq", props=None):
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("default")
    t = cat.create_table(name, DDL, properties=props or {})
    return t


def _rows(spark, data):
    return one_part(spark, data, DDL)


def test_equality_delete_masks_matching_rows(spark, tmp_path, monkeypatch):
    # the default driver budget writes the key file with pyarrow; budget 0
    # takes the executor write: same rows, files and manifest
    for budget in (datafiles.DRIVER_MAX_ROWS, 0):
        monkeypatch.setattr(datafiles, "DRIVER_MAX_ROWS", budget)
        t = _table(spark, tmp_path / f"budget{budget}")
        t.insert(_rows(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "a", 3.0)]))
        snap = t.equality_delete(spark.createDataFrame([("a",)], "name string"))
        assert snap is not None
        dels = t.metadata.current_snapshot().delete_files()
        assert [(e.content, e.record_count) for e in dels] == [(2, 1)]
        assert sorted(r["k"] for r in t.read().collect()) == [2]


def test_equality_delete_sequence_later_inserts_survive(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.insert(_rows(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    t.equality_delete(spark.createDataFrame([("a",)], "name string"))
    # re-insert the deleted key AFTER the delete — must survive
    t.insert(_rows(spark, [(3, "a", 3.0)]))
    assert sorted(r["k"] for r in t.read().collect()) == [2, 3]


def test_equality_delete_multi_column_and_null_keys(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.insert(
        _rows(
            spark,
            [(1, "a", 1.0), (2, "a", 2.0), (3, None, 3.0), (4, "b", 3.0)],
        )
    )
    # multi-column key: (name, v)
    t.equality_delete(
        spark.createDataFrame([("a", 2.0)], "name string, v double"),
        equality_columns=["name", "v"],
    )
    assert sorted(r["k"] for r in t.read().collect()) == [1, 3, 4]
    # null-safe equality: deleting name=NULL removes the NULL row
    t.equality_delete(spark.createDataFrame([(None,)], "name string"))
    assert sorted(r["k"] for r in t.read().collect()) == [1, 4]


def test_equality_delete_composes_with_position_deletes(spark, tmp_path):
    t = _table(spark, tmp_path, props={"write.delete.mode": "merge-on-read"})
    t.insert(_rows(spark, [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]))
    t.delete("k = 1")  # position delete
    t.equality_delete(spark.createDataFrame([("b",)], "name string"))
    contents = sorted(e.content for e in t.metadata.current_snapshot().delete_files())
    assert contents == [1, 2]
    assert sorted(r["k"] for r in t.read().collect()) == [3]
    # scan (pruned path) applies both delete kinds too
    assert sorted(r["k"] for r in t.scan("k >= 1").collect()) == [3]


def test_rewrite_purges_equality_deletes_physically(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.insert(_rows(spark, [(1, "a", 1.0), (2, "b", 2.0)]))
    t.equality_delete(spark.createDataFrame([("a",)], "name string"))
    t.rewrite_data_files()
    assert not t.metadata.current_snapshot().delete_files()
    raw = t.read(apply_deletes=False)
    assert sorted(r["k"] for r in raw.collect()) == [2], (
        "eq-deleted row must be physically absent after compaction"
    )


def test_rewrite_position_deletes_passes_eq_files_through(spark, tmp_path):
    t = _table(spark, tmp_path, props={"write.delete.mode": "merge-on-read"})
    for batch in ([(1, "a", 1.0)], [(2, "b", 2.0)], [(3, "c", 3.0)]):
        t.insert(_rows(spark, batch))
    t.delete("k = 1")
    t.delete("k = 2")
    t.equality_delete(spark.createDataFrame([("c",)], "name string"))
    before = t.metadata.current_snapshot().delete_files()
    assert sorted(e.content for e in before) == [1, 1, 2]
    t.rewrite_position_delete_files()
    after = t.metadata.current_snapshot().delete_files()
    # position files consolidated 2→1, the eq file untouched
    assert sorted(e.content for e in after) == [1, 2]
    assert t.read().count() == 0


def test_equality_delete_rejects_unknown_columns(spark, tmp_path):
    import pytest

    t = _table(spark, tmp_path)
    t.insert(_rows(spark, [(1, "a", 1.0)]))
    with pytest.raises(ValueError, match="not in table schema"):
        t.equality_delete(spark.createDataFrame([(1,)], "zzz bigint"))
