"""Manifest min/max file pruning (SURVEY.md §4): skipped files are provably
non-matching, pruning composes with MOR deletes, and unsound cases fall
back to scanning everything."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import jobless, one_part
from demo_iceberg_permanent_delete_spark.lake import Catalog, datafiles
from demo_iceberg_permanent_delete_spark.lake.pruning import candidate_files
from demo_iceberg_permanent_delete_spark.sources import lake_datasource

DDL = "k bigint, name string, v double"


def _build_ranged(spark, wh: str):
    cat = Catalog(spark, wh)
    cat.create_namespace("default")
    t = cat.create_table(
        "default.ranged", DDL, properties={"write.delete.mode": "merge-on-read"}
    )
    for lo in (0, 100, 200):
        rows = [(lo + i, f"name-{lo + i}", float(i)) for i in range(100)]
        t.insert(one_part(spark, rows, DDL))
    return t


@pytest.fixture(scope="module")
def ranged_table(spark, tmp_path_factory):
    """Three inserts with disjoint key ranges → three files with disjoint
    manifest [min,max] bounds. Module-scoped: each insert is a Spark job +
    commit (~15 s of setup) and every consumer is read-only — the one
    mutating test builds its own copy via ``ranged_table_mut``."""
    return _build_ranged(spark, str(tmp_path_factory.mktemp("prune") / "wh"))


@pytest.fixture
def ranged_table_mut(spark, tmp_path):
    return _build_ranged(spark, str(tmp_path / "wh"))


def test_disjoint_ranges_prune_to_one_file(ranged_table):
    entries = ranged_table.metadata.current_snapshot().data_files()
    assert len(entries) == 3
    assert len(candidate_files(entries, "k = 150")) == 1
    assert len(candidate_files(entries, "k >= 100 AND k < 200")) == 1
    assert len(candidate_files(entries, "k BETWEEN 50 AND 150")) == 2
    assert len(candidate_files(entries, "k < 0")) == 0
    # string bounds prune too (lexicographic, like parquet footers)
    assert len(candidate_files(entries, "name = 'name-0'")) == 1
    # BETWEEN bounds whose literals contain spaces must not be split at
    # the inner AND (regression: TIMESTAMP '… …' broke the protection).
    # 'name …' sorts below every 'name-…', so this range matches no file;
    # the broken split used to fall back to the k conjunct alone (1 file).
    assert (
        len(candidate_files(entries, "name BETWEEN 'name 0' AND 'name 1' AND k = 150"))
        == 0
    )


def test_partitioned_insert_clusters_for_pruning(spark, tmp_path):
    """PARTITIONED BY range-clusters one *unsorted* insert so per-file
    min/max bounds become partition pruning; the same insert into an
    unpartitioned table leaves every file covering the whole key range."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("default")
    rows = [((i * 7919) % 300, f"name-{i}", float(i)) for i in range(3000)]
    df = spark.createDataFrame(rows, DDL).repartition(8)

    flat = cat.create_table("default.flat", DDL)
    flat.insert(df)
    part = cat.create_table(
        "default.parted",
        DDL,
        properties={"write.distribution.partitions": "8"},
        partition_by=["k"],
    )
    part.insert(df)

    flat_entries = flat.metadata.current_snapshot().data_files()
    part_entries = part.metadata.current_snapshot().data_files()
    assert len(candidate_files(flat_entries, "k = 150")) == len(flat_entries)
    pruned = candidate_files(part_entries, "k = 150")
    assert 0 < len(pruned) < len(part_entries)
    # and range predicates prune proportionally
    assert len(candidate_files(part_entries, "k < 40")) < len(part_entries)
    # results identical either way
    assert (
        part.scan("k = 150").count()
        == flat.read().filter("k = 150").count()
        == df.filter("k = 150").count()
    )


def test_or_branch_pruning(ranged_table):
    """OR prunes to the union of its branches' candidate sets — the common
    ``WHERE date = A OR date = B`` shape at 100× scale must not degrade to
    a full scan (VERDICT r2 item 6)."""
    entries = ranged_table.metadata.current_snapshot().data_files()
    assert len(candidate_files(entries, "k = 1 OR k = 250")) == 2
    assert len(candidate_files(entries, "k = 1 OR k = 50")) == 1
    assert len(candidate_files(entries, "k = -5 OR k = 500")) == 0
    # SQL precedence: AND binds tighter — k=1 OR (k=250 AND k<0) → file 1
    assert len(candidate_files(entries, "k = 1 OR k = 250 AND k < 0")) == 1
    # parenthesized disjunction under a conjunction: file 1 fails k >= 100
    assert (
        len(candidate_files(entries, "(k = 1 OR k = 250) AND k >= 100")) == 1
    )
    # an unprunable OR branch keeps everything (sound fallback)
    assert len(candidate_files(entries, "k = 1 OR abs(k) = 5")) == 3
    # BETWEEN inside an OR branch: masked inner AND must survive the split
    assert (
        len(candidate_files(entries, "k BETWEEN 50 AND 150 OR k = 250")) == 3
    )
    assert len(candidate_files(entries, "k BETWEEN -9 AND -1 OR k = 250")) == 1
    # pruned OR scan returns identical results to the unpruned read
    t = ranged_table
    assert (
        t.scan("k = 1 OR k = 250").count()
        == t.read().filter("k = 1 OR k = 250").count()
        == 2
    )


def test_pruning_is_conservative_on_unprunable_predicates(ranged_table):
    entries = ranged_table.metadata.current_snapshot().data_files()
    # functions, unknown columns, NOT IN: everything stays
    for pred in (
        "abs(k) = 5",
        "unknown_col = 3",
        "k NOT IN (1, 2)",
        "k IN (1, abs(5))",  # non-literal member
        "name = 'zzz' || 'zzz'",  # expression, not a literal
        "name = concat('zzz', 'zzz')",
        "name = 'zzz' = 'zzz'",
    ):
        assert len(candidate_files(entries, pred)) == 3, pred


def test_in_list_pruning(ranged_table):
    entries = ranged_table.metadata.current_snapshot().data_files()
    assert len(candidate_files(entries, "k IN (1, 2)")) == 1
    assert len(candidate_files(entries, "k IN (1, 150)")) == 2
    assert len(candidate_files(entries, "k IN (400, 500)")) == 0
    # lexicographic string bounds: file 3 ['name-200','name-299'] excludes both
    assert len(candidate_files(entries, "name IN ('name-0', 'name-150')")) == 2
    # composes with other conjuncts: file 1 fails k >= 100, file 3 fails the IN
    assert len(candidate_files(entries, "k IN (1, 150) AND k >= 100")) == 1
    # results identical to an unpruned read
    assert (
        ranged_table.scan("k IN (1, 150)").count()
        == ranged_table.read().filter("k IN (1, 150)").count()
        == 2
    )


def test_scan_results_match_unpruned_read(ranged_table, monkeypatch):
    # budget 0: the executor scan, whose plan lists the files it opens
    monkeypatch.setattr(datafiles, "DRIVER_MAX_ROWS", 0)
    pruned = ranged_table.scan("k >= 100 AND k < 200")
    full = ranged_table.read().filter("k >= 100 AND k < 200")
    assert sorted(r["k"] for r in pruned.collect()) == sorted(
        r["k"] for r in full.collect()
    )
    # and the pruned plan really reads fewer files
    assert len(pruned.inputFiles()) == 1
    assert len(ranged_table.read().inputFiles()) == 3


def test_driver_scan_reads_only_candidate_files(ranged_table, monkeypatch):
    """Driver-path twin of the test above: within the budget the scan is
    read on the driver by the shared per-file reader, which is handed
    only the one candidate file."""
    read = []
    real = lake_datasource.read_entries_arrow

    def spy(meta, data_entries, *args, **kwargs):
        read.append([e.file_path for e in data_entries])
        return real(meta, data_entries, *args, **kwargs)

    monkeypatch.setattr(lake_datasource, "read_entries_arrow", spy)
    pruned = ranged_table.scan("k >= 100 AND k < 200")
    rows = jobless(ranged_table.spark, pruned.collect)
    assert sorted(r["k"] for r in rows) == list(range(100, 200))
    want = candidate_files(
        ranged_table.metadata.current_snapshot().data_files(), "k >= 100 AND k < 200"
    )
    assert read == [[e.file_path for e in want]] and len(want) == 1


def test_pruned_delete_composes_with_mor_read(ranged_table_mut):
    t = ranged_table_mut
    snap = t.delete("k = 150")
    assert snap is not None
    # delete files target only the single candidate file
    assert t.read().filter(F.col("k") == 150).count() == 0
    assert t.read().count() == 299
    # a pruned scan after the delete still applies the position deletes
    assert t.scan("k BETWEEN 140 AND 160").count() == 20


def test_empty_candidate_set_short_circuits(ranged_table):
    assert ranged_table.scan("k = 99999").count() == 0
    assert ranged_table.delete("k = 99999") is None


@pytest.fixture(scope="module")
def nullable_table(spark, tmp_path_factory):
    """Three files: v fully populated / half NULL / all NULL.
    Module-scoped — all consumers are read-only."""
    cat = Catalog(spark, str(tmp_path_factory.mktemp("prune-null") / "wh"))
    cat.create_namespace("default")
    t = cat.create_table("default.nullable", DDL)
    batches = [
        [(i, f"n-{i}", float(i)) for i in range(10)],
        [(100 + i, f"n-{100 + i}", float(i) if i % 2 == 0 else None) for i in range(10)],
        [(200 + i, f"n-{200 + i}", None) for i in range(10)],
    ]
    for rows in batches:
        t.insert(one_part(spark, rows, DDL))
    return t


def test_null_count_stats_recorded(nullable_table):
    entries = sorted(
        nullable_table.metadata.current_snapshot().data_files(),
        key=lambda e: e.min_values["k"],
    )
    assert [e.null_counts.get("v") for e in entries] == [0, 5, 10]
    assert all(e.null_counts.get("k") == 0 for e in entries)


def test_is_null_pruning(nullable_table):
    entries = nullable_table.metadata.current_snapshot().data_files()
    assert len(candidate_files(entries, "v IS NULL")) == 2
    assert len(candidate_files(entries, "v IS NOT NULL")) == 2
    assert len(candidate_files(entries, "v IS NULL AND k >= 200")) == 1
    # unknown column / no stats → conservative
    assert len(candidate_files(entries, "unknown_col IS NULL")) == 3
    # results identical to an unpruned read
    assert (
        nullable_table.scan("v IS NULL").count()
        == nullable_table.read().filter("v IS NULL").count()
        == 15
    )
    assert (
        nullable_table.scan("v IS NOT NULL").count()
        == nullable_table.read().filter("v IS NOT NULL").count()
        == 15
    )


def test_all_null_file_pruned_by_comparisons(nullable_table):
    entries = nullable_table.metadata.current_snapshot().data_files()
    # the all-NULL file has no [min,max] for v; null stats still prune it
    assert len(candidate_files(entries, "v = 3.0")) == 2
    assert len(candidate_files(entries, "v BETWEEN 1.0 AND 2.0")) == 2
    assert len(candidate_files(entries, "v IN (1.0, 3.0)")) == 2
