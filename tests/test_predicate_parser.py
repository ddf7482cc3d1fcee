"""The one predicate parser (lake.pruning._compiled): the tree every
consumer reads — file pruning, the row filter, bucket projection — and
string literals read as Spark reads them, so that a DELETE never skips a
file holding a row Spark matches."""

from __future__ import annotations

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from demo_iceberg_permanent_delete_spark.lake import Catalog
from demo_iceberg_permanent_delete_spark.lake.metadata import ManifestEntry
from demo_iceberg_permanent_delete_spark.lake.pruning import (
    _compiled,
    candidate_files,
    row_filter,
    row_filter_columns,
)
from demo_iceberg_permanent_delete_spark.lake.transforms import (
    bucket_conjuncts,
    parse_partition_by,
)
from tests.conftest import one_part
from tests.test_row_filter import DDL, _battery_table


def _entry(col, lo, hi=None, path="f"):
    return ManifestEntry(
        file_path=path,
        content=0,
        record_count=1,
        file_size_in_bytes=1,
        min_values={col: lo},
        max_values={col: lo if hi is None else hi},
        null_counts={col: 0},
    )


# SQL text, and the value of the one row Spark matches with it
ESCAPED = [
    ("s = 'a\\tb'", "a\tb"),
    ("s = 'a\\\\b'", "a\\b"),
    ("s = 'a\\nb'", "a\nb"),
    ("s >= 'a\\nb'", "a\nb"),
    ("s IN ('x', 'a\\nb')", "a\nb"),
    ("s BETWEEN 'a\\nb' AND 'a\\nb'", "a\nb"),
]


@pytest.mark.parametrize("pred, value", ESCAPED)
def test_escaped_literal_keeps_the_file_spark_matches(spark, pred, value):
    df = one_part(spark, [(value,)], "s string")
    assert df.filter(F.expr(pred)).count() == 1
    assert candidate_files([_entry("s", value)], pred)
    assert bucket_conjuncts(parse_partition_by(["bucket(4, s)"]), pred) == []
    assert row_filter_columns(pred) is None


@pytest.mark.parametrize("mode", ["merge-on-read", "copy-on-write"])
def test_escaped_literal_delete_erases_the_row(spark, tmp_path, mode):
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("default")
    ddl = "k bigint, s string"
    t = cat.create_table("default.t", ddl, properties={"write.delete.mode": mode})
    for row in [(1, "a\tb"), (2, "a\\b"), (3, "a\nb")]:
        t.insert(one_part(spark, [row], ddl))  # one file, exact stats each
    for pred, _ in ESCAPED:
        want = sorted(r.k for r in t.read().filter(pred).collect())
        assert sorted(r.k for r in t.scan(pred).collect()) == want, pred
    t.delete("s = 'a\\tb'")
    assert sorted(r.k for r in t.read().collect()) == [2, 3]


def test_pushed_filter_string_reads_back_as_itself_or_opaque():
    """The DataSource emits a pushed string value raw: a backslash in it
    must not read back as an escape (``\\b`` = backspace)."""
    from pyspark.sql.datasource import EqualTo

    from demo_iceberg_permanent_delete_spark.sources.lake_datasource import (
        _filter_to_sql,
    )

    sql = _filter_to_sql(EqualTo(("s",), "a\\b"))
    assert sql == "s = 'a\\b'"
    for leaf in _compiled(sql).conjuncts():
        assert leaf.shape is None or leaf.lits == (("str", "a\\b"),)
    assert candidate_files([_entry("s", "a\\b")], sql)


def test_doubled_quote_reads_as_one_quote(spark):
    pred = "s = 'it''s'"
    df = one_part(spark, [("it's",), ("its",)], "s string")
    assert [r.s for r in df.filter(F.expr(pred)).collect()] == ["it's"]
    assert candidate_files([_entry("s", "it's")], pred)
    assert not candidate_files([_entry("s", "its")], pred)
    # the row filter keeps declining a string spelled with ''
    assert row_filter(pred, pa.table({"s": ["it's"]})) is None


@pytest.mark.parametrize("mode", ["merge-on-read", "copy-on-write"])
def test_collated_string_is_not_pruned_as_bytes(spark, tmp_path, mode):
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("default")
    ddl = "k bigint, s string collate utf8_lcase"
    t = cat.create_table("default.c", ddl, properties={"write.delete.mode": mode})
    t.insert(one_part(spark, [(1, "abc")], ddl))
    pred = "s = 'ABC'"
    assert t.scan(pred).count() == t.read().filter(pred).count() == 1
    t.delete(pred)
    assert t.read().count() == 0


def test_precedence_and_grouping():
    root = _compiled("a = 1 OR b = 2 AND c = 3").root
    assert root[0] == "or" and root[1][1][0] == "and"
    root = _compiled("(a = 1 OR b = 2) AND c BETWEEN 1 AND 5").root
    assert root[0] == "and" and root[1][0][0] == "or"
    assert root[1][1].shape == "between"
    # nested groups of one operator flatten
    root = _compiled("((a = 1 AND (b = 2))) AND c IS NULL").root
    assert root[0] == "and" and [k.shape for k in root[1]] == ["cmp", "cmp", "null"]


OPAQUE_LEAVES = [
    "NOT a = 1",
    "abs(a) = 1",
    "a = 1 + 1",
    "a <> 1",
    "a <=> 1",
    "`a` = 1",
    "t.a = 1",
    "a = 'x' 'y'",
    'a = "x"',
    "a = 'x\\'y'",
    "a = - 1",
    "a IN (1, b)",
    "CASE WHEN a = 1 AND k = 9 THEN 0 ELSE 1 END = 1",
]


@pytest.mark.parametrize("leaf", OPAQUE_LEAVES)
def test_opaque_leaf_keeps_and_its_sibling_still_prunes(leaf):
    pred = f"{leaf} AND k = 5"
    assert [x.shape for x in _compiled(pred).conjuncts()] == [None, "cmp"]
    # the opaque leaf keeps everything; the sibling conjunct prunes
    assert candidate_files([_entry("a", 0, 9)], leaf)
    assert not candidate_files([_entry("k", 0, 1)], pred)
    assert row_filter_columns(pred) is None


@pytest.mark.parametrize(
    "pred",
    [
        "a = 1 AND",
        "OR a = 1",
        "a = 1 AND AND b = 2",
        "(a = 1",
        "a = 1)",
        "a = 'x",
        "a = 1 -- AND b = 2",
        "a = 1 /* OR b = 2 */",
        "a BETWEEN 1 OR b = 2",
        "()",
    ],
)
def test_unparseable_predicate_is_opaque_as_a_whole(pred):
    assert _compiled(pred).root.shape is None
    assert candidate_files([_entry("a", 5, 5), _entry("b", 5, 5, "g")], pred)


def test_null_safe_equality_keeps_an_all_null_file():
    """``v <=> NULL`` holds on NULL rows, so it keeps an all-NULL file;
    it is not ``v <=`` followed by text."""
    e = ManifestEntry(
        file_path="f",
        content=0,
        record_count=2,
        file_size_in_bytes=1,
        min_values={},
        max_values={},
        null_counts={"v": 2},
    )
    assert candidate_files([e], "v <=> NULL")
    assert not candidate_files([e], "v = 1")


def test_typed_temporal_literal_projects_no_bucket(spark, tmp_path):
    """A bucket source is integral or string, so Spark compares a DATE
    literal through a cast: '2024-6-5' matches DATE '2024-06-05'."""
    pred = "s = DATE '2024-06-05'"
    assert bucket_conjuncts(parse_partition_by(["bucket(4, s)"]), pred) == []
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("default")
    ddl = "k bigint, s string"
    t = cat.create_table("default.b", ddl, partition_by=["bucket(4, s)"])
    t.insert(one_part(spark, [(1, "2024-6-5")], ddl))
    assert t.scan(pred).count() == t.read().filter(pred).count() == 1


def test_case_hides_its_conditions_from_pruning():
    """A condition inside CASE … END is not a conjunct of the predicate:
    here the row (a=0, k=5) matches although k = 9 does not hold."""
    pred = "CASE WHEN a = 1 AND k = 9 THEN 0 ELSE 1 END = 1"
    assert candidate_files([_entry("k", 5, 5)], pred)


# spellings the grammar already read: lower-case keywords, tabs and
# newlines, redundant parentheses
SPELLINGS = [
    "l between -10 and 2 or s is null",
    "l in (1, 2, null) and s is not null",
    "l\t=\t5",
    "l = 1\nOR\ns IN ('a',\n'z')",
    "s\tBETWEEN\t'a'\tAND\t'z'",
    "(((l > 0)) AND ((s >= 'a')))",
    "((l = 1) OR (l = 2)) AND (s IS NOT NULL)",
    "(l = 1 OR (s = 'a' AND (i IS NULL)))",
    "\n  l IS NULL\n",
]


@pytest.fixture(scope="module")
def battery(spark):
    table = _battery_table()
    return table, spark.createDataFrame(table, f"{DDL}, __rid bigint")


@pytest.mark.parametrize("pred", SPELLINGS)
def test_spellings_keep_sparks_rows(battery, pred):
    table, df = battery
    mask = row_filter(pred, table)
    assert mask is not None, pred
    got = sorted(table.filter(mask).column("__rid").to_pylist())
    want = sorted(r["__rid"] for r in df.filter(F.expr(pred)).collect())
    assert got == want, pred
