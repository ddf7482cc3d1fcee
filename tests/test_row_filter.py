"""Differential battery for lake.pruning.row_filter, the translator that
evaluates a predicate string as a pyarrow mask on the driver. Every
predicate it accepts must keep exactly the rows ``filter(F.expr(pred))``
keeps on the same data; every shape outside its grammar must decline
(None). The lake scenarios run the same comparison through the MOR
erase's projected driver read, against Spark's positioned read."""

from __future__ import annotations

import decimal
import datetime as dt

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from demo_iceberg_permanent_delete_spark.lake import Catalog
from demo_iceberg_permanent_delete_spark.lake.pruning import (
    row_filter,
    row_filter_columns,
)

I32 = (-(2**31), 2**31 - 1)
I64 = (-(2**63), 2**63 - 1)

DDL = "b tinyint, h smallint, i int, l bigint, s string, d double"


def _battery_table():
    b = [-128, 127, 0, None, 5, -5, 100, 1, 101, None, 2, -1]
    h = [-32768, 32767, 300, None, -5, 5, 0, 1, 2, None, 299, -300]
    i = [I32[0], I32[1], 0, None, 5, -5, 2, 1, 7, None, -2147483647, 1]
    l = [I64[0], I64[1], 0, None, 5, -3, 2, 1, 10, -10, None, 1]
    s = ["", "é", "ä", None, "a", "Z", "z", "日本", "a b", "😀", "A", "ab"]
    d = [float("nan"), 0.0, -1.5, None, 1.0, 2.0, None, 0.5, -0.0, 3.0, 4.0, 1.0]
    return pa.table(
        {
            "b": pa.array(b, pa.int8()),
            "h": pa.array(h, pa.int16()),
            "i": pa.array(i, pa.int32()),
            "l": pa.array(l, pa.int64()),
            "s": pa.array(s, pa.string()),
            "d": pa.array(d, pa.float64()),
            "__rid": pa.array(range(len(b)), pa.int64()),
        }
    )


ACCEPTED = [
    "l = 5",
    "l = -3",
    "l < 0",
    "l <= -9223372036854775808",
    "l >= 9223372036854775807",
    "l > -9223372036854775808",
    "i = 2147483647",
    "i = -2147483648",
    "i < -2147483647",
    "b > 100",
    "b = -128",
    "h >= 32767",
    "h BETWEEN -5 AND 300",
    "l BETWEEN 10 AND -10",
    "l between -10 and 2",
    "s = ''",
    "s = 'é'",
    "s > 'z'",
    "s < 'Z'",
    "s >= '日本'",
    "s <= 'a b'",
    "s BETWEEN 'a' AND 'é'",
    "s IN ('a', '', 'é')",
    "s IN ('x', NULL)",
    "s in ('😀')",
    "l IN (1, 2, NULL)",
    "l IN (NULL)",
    "i IN (-2147483648, 0, 2147483647)",
    "b IN (127, -128)",
    "l IS NULL",
    "l IS NOT NULL",
    "d IS NULL",
    "d is not null",
    "s IS NULL",
    "l = 1 OR s IS NULL",
    "(l > 0 OR i < 0) AND s IS NOT NULL",
    "l > 0 AND (s = 'a' OR i IN (1, NULL))",
    "l = 1 or l = 2 OR l IS NULL",
    "(l IN (1, NULL) OR s = 'a') AND i IS NOT NULL",
    "l IN (1, NULL) OR l IN (2, NULL)",
    "s IN ('a', NULL) AND l IN (5, NULL)",
    "((l = 5))",
    "l=5",
    "  l   =   1  ",
    "s = 'a AND b' OR s = 'x OR y'",
    "l BETWEEN 0 AND 5 AND s >= 'a'",
    "l = 0005",
    "l = -0",
]

DECLINED = [
    "d = 1",
    "d > 0.5",
    "p = 1",
    "p > 10.50",
    "dt = DATE '2024-01-01'",
    "dt = '2024-01-01'",
    "ts < TIMESTAMP '2024-01-01 00:00:00'",
    "ts > '2024-01-01'",
    "l = '5'",
    "s = 5",
    "l = 5.0",
    "l IN (1, 'a')",
    "l IN (1, 2.5)",
    "s IN ('a', 1)",
    "NOT l = 5",
    "NOT (l = 5)",
    "l = 1 AND NOT s = 'a'",
    "abs(l) = 5",
    "l + 1 = 5",
    "l = 1 + 1",
    "`l` = 5",
    "L = 5",
    "t.l = 5",
    "l <> 5",
    "l != 5",
    "l <=> 5",
    "l == 5",
    "l = NULL",
    "b = 1000",
    "b = -129",
    "h = 32768",
    "i = 2147483648",
    "i = -2147483649",
    "l = 9223372036854775808",
    "s = 'it''s'",
    "s = 'a\\'b'",
    "s = 'a\\nb'",
    "s = 'a' 'b'",
    's = "a"',
    "l NOT IN (1)",
    "l NOT BETWEEN 1 AND 5",
    "l BETWEEN NULL AND 5",
    "l BETWEEN 1 AND '5'",
    "s LIKE 'a%'",
    "l IN ()",
    "l IN ((1))",
    "l IN (1, l)",
    "l = 5 AND",
    "AND l = 5",
    "l = 5 OR",
    "l = 5 AND AND l = 6",
    "(l = 5 OR) AND s = 'a'",
    "nosuch = 1",
    "l = - 5",
    "l = +5",
    "l = 0x10",
    "l = 1e3",
    "l = 5L",
    "l = k",
    "true = 1",
    "l IS TRUE",
    "l = 5;",
    "l = 5 -- tail",
    "()",
    "",
    "flag = 1",
    "flag IN (1)",
    "arr = 1",
]


def _declined_table():
    return pa.table(
        {
            "l": pa.array([1], pa.int64()),
            "s": pa.array(["a"], pa.string()),
            "d": pa.array([1.0], pa.float64()),
            "p": pa.array([decimal.Decimal("1.00")], pa.decimal128(12, 2)),
            "dt": pa.array([dt.date(2024, 1, 1)], pa.date32()),
            "ts": pa.array([dt.datetime(2024, 1, 1)], pa.timestamp("us")),
            "flag": pa.array([True], pa.bool_()),
            "arr": pa.array([[1]], pa.list_(pa.int64())),
            "b": pa.array([1], pa.int8()),
            "h": pa.array([1], pa.int16()),
            "i": pa.array([1], pa.int32()),
        }
    )


@pytest.fixture(scope="module")
def battery_frame(spark):
    table = _battery_table()
    return table, spark.createDataFrame(table, f"{DDL}, __rid bigint")


@pytest.mark.parametrize("pred", ACCEPTED)
def test_accepted_predicates_keep_sparks_rows(battery_frame, pred):
    table, df = battery_frame
    mask = row_filter(pred, table)
    assert mask is not None, f"{pred!r} should translate"
    assert pa.types.is_boolean(mask.type)
    got = sorted(table.filter(mask).column("__rid").to_pylist())
    want = sorted(r["__rid"] for r in df.filter(F.expr(pred)).collect())
    assert got == want, pred


def test_in_list_with_null_is_null_not_false(battery_frame):
    """Three-valued IN: a non-matching value against a list holding NULL
    is NULL (so OR with TRUE keeps the row and AND never does)."""
    table, _ = battery_frame
    mask = row_filter("l IN (5, NULL)", table).to_pylist()
    ls = table.column("l").to_pylist()
    for v, m in zip(ls, mask):
        assert m is (True if v == 5 else None)


@pytest.mark.parametrize("pred", DECLINED)
def test_declined_shapes_return_none(pred):
    assert row_filter(pred, _declined_table()) is None, pred


def test_row_filter_columns_name_the_leaves():
    assert row_filter_columns("l = 1 OR (s IN ('a') AND i IS NULL)") == {"l", "s", "i"}
    assert row_filter_columns("l BETWEEN 1 AND 2") == {"l"}
    assert row_filter_columns("NOT l = 1") is None
    assert row_filter_columns("l = 1 AND") is None


def test_empty_table_and_ambiguous_case():
    empty = _battery_table().slice(0, 0)
    assert len(empty.filter(row_filter("l = 1 OR s IN ('a', NULL)", empty))) == 0
    # Spark would refuse an ambiguous reference; the translator declines
    twin = pa.table({"k": [1], "K": [2]})
    assert row_filter("k = 1", twin) is None


# ------------------------------------------------------ lake scenarios
MOR = {"write.delete.mode": "merge-on-read", "write.update.mode": "merge-on-read"}


def _insert(t, spark, lo, hi, *exprs):
    t.insert(
        spark.range(lo, hi, numPartitions=1)
        .withColumnRenamed("id", "k")
        .selectExpr(*exprs)
    )


def _renamed(spark, cat):
    t = cat.create_table("default.t", "k bigint, a string", properties=MOR)
    _insert(t, spark, 0, 40, "k", "IF(k % 9 = 0, NULL, concat('a', k % 5)) AS a")
    t.rename_column("a", "b")
    _insert(t, spark, 40, 80, "k", "concat('a', k % 5) AS b")
    return t, ["b = 'a1'", "b IS NULL OR k > 70", "b IN ('a2', NULL) AND k < 50"]


def _widened(spark, cat):
    t = cat.create_table("default.t", "k int, v int", properties=MOR)
    _insert(t, spark, 0, 40, "cast(k AS int) AS k", "cast(k - 20 AS int) AS v")
    t.alter_column_type("v", "bigint")
    _insert(t, spark, 40, 80, "cast(k AS int) AS k", "k * 100000000 AS v")
    return t, ["v < 0", "v >= 5000000000", "v BETWEEN -3 AND 3 OR k = 79"]


def _defaulted(spark, cat):
    t = cat.create_table("default.t", "k bigint, a string", properties=MOR)
    _insert(t, spark, 0, 40, "k", "'x' AS a")
    t.add_column("d", "int", default=7)
    _insert(t, spark, 40, 80, "k", "'y' AS a", "cast(k % 9 AS int) AS d")
    return t, ["d = 7", "d IN (1, 7) AND k >= 30", "d IS NULL"]


def _eq_deleted(spark, cat):
    t = cat.create_table("default.t", "k bigint, a string", properties=MOR)
    _insert(t, spark, 0, 40, "k", "concat('a', k % 3) AS a")
    t.equality_delete(spark.range(3, 6).selectExpr("id AS k"), ["k"])
    t.equality_delete(spark.createDataFrame([("a2",)], "a string"), ["a"])
    _insert(t, spark, 3, 4, "k", "'a2' AS a")
    return t, ["k < 10", "a = 'a1' OR k = 3", "k IN (3, 4, 5, 8)"]


LAKE = {
    "renamed": _renamed,
    "widened": _widened,
    "defaulted": _defaulted,
    "eq_deletes": _eq_deleted,
}


@pytest.mark.parametrize("name", sorted(LAKE))
def test_projected_driver_match_equals_spark_filter(spark, tmp_path, name):
    """The erase's match: candidate files read on the driver projected to
    the predicate's columns, masked by row_filter, give the (file, pos)
    pairs Spark's positioned executor read keeps under the predicate."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("default")
    t, preds = LAKE[name](spark, cat)
    snap = t.metadata.current_snapshot()
    if name == "eq_deletes":
        assert snap.delete_files()
    for pred in preds:
        plan = t._scan_plan(snap, pred)
        cols = row_filter_columns(pred)
        assert plan.pushed == cols
        table = t._driver_read_arrow(plan, positions=True, columns=cols)
        assert set(table.column_names) == cols | {"__fp", "__pos"}
        mask = row_filter(pred, table)
        assert mask is not None, pred
        hits = table.filter(mask)
        got = sorted(zip(hits.column("__fp").to_pylist(), hits.column("__pos").to_pylist()))
        want = sorted(
            (r["__fp"], r["__pos"])
            for r in t.read_with_positions(snap)
            .filter(F.expr(pred))
            .select("__fp", "__pos")
            .collect()
        )
        assert got == want, f"{name}: {pred}"
