"""The driver-read frame (lake/arrowframe.ArrowFrame) against the frame it
stands in for, ``createDataFrame(table, schema)`` of the same Arrow
table: the actions it answers on the driver return what the JVM frame
returns, composing it gives the JVM frame's rows, and its JVM half is
built once."""

from __future__ import annotations

import datetime as dt
import os
import subprocess
import sys
import threading
import time
from decimal import Decimal

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from demo_iceberg_permanent_delete_spark.lake import datafiles
from demo_iceberg_permanent_delete_spark.lake.arrowframe import ArrowFrame

_NAN, _INF = float("nan"), float("inf")

# one column per served type, and one per declined type (the frame then
# answers through the JVM), each with a null and its edge values
_COLUMNS = [
    ("bo", T.BooleanType(), [True, None, False]),
    ("i8", T.ByteType(), [-128, None, 127]),
    ("i16", T.ShortType(), [-32768, None, 32767]),
    ("i32", T.IntegerType(), [-(2**31), None, 2**31 - 1]),
    ("i64", T.LongType(), [-(2**63), None, 2**63 - 1]),
    ("f32", T.FloatType(), [0.1, None, -0.0]),
    ("f32n", T.FloatType(), [_NAN, -_INF, _INF]),
    ("f64", T.DoubleType(), [_NAN, -0.0, None]),
    ("f64b", T.DoubleType(), [0.0, _INF, 1e-308]),
    ("d0", T.DecimalType(10, 0), [Decimal("-9999999999"), None, Decimal("0")]),
    ("d2", T.DecimalType(10, 2), [Decimal("1.50"), Decimal("-0.01"), None]),
    ("d38", T.DecimalType(38, 18), [
        Decimal("1.000000000000000000"),
        None,
        Decimal("-12345678901234567890.123456789012345678"),
    ]),
    ("s", T.StringType(), ["", None, "é☃\U0001f600"]),
    ("dt", T.DateType(), [dt.date(1, 1, 1), None, dt.date(9999, 12, 31)]),
    ("dt2", T.DateType(), [dt.date(1969, 12, 31), dt.date(1970, 1, 1), dt.date(2024, 2, 29)]),
    ("ntz", T.TimestampNTZType(), [
        dt.datetime(2021, 3, 14, 2, 30),
        None,
        dt.datetime(1900, 1, 1, 0, 0, 0, 1),
    ]),
    ("nn", T.LongType(), [1, 2, 3]),
]
_DECLINED = [
    ("ts", T.TimestampType(), [
        dt.datetime(2021, 11, 7, 5, 30, tzinfo=dt.timezone.utc),  # 01:30 EDT
        None,
        dt.datetime(2021, 11, 7, 6, 30, tzinfo=dt.timezone.utc),  # 01:30 EST
    ]),
    ("bin", T.BinaryType(), [b"", None, b"\x00\xff"]),
    ("arr", T.ArrayType(T.LongType()), [[1, None], None, []]),
]


def _table(columns, rows=slice(None)):
    schema = T.StructType(
        [T.StructField(n, t, nullable=n != "nn") for n, t, _ in columns]
    )
    data = {n: v[rows] for n, _, v in columns}
    return pa.table(data, schema=to_arrow_schema(schema)), schema


def _rows(df):
    rows = df.collect()
    return [repr(r) for r in rows], [repr(r.asDict()) for r in rows]


def _arrow(table):
    return table.schema, repr(table.to_pylist())


def _compare(spark, columns, rows=slice(None)) -> list[str]:
    """What differs between the frame and the JVM frame it stands in for,
    on the table of ``columns`` (sliced to ``rows``)."""
    table, schema = _table(columns, rows)
    frame = ArrowFrame(spark, table, schema)
    jvm = spark.createDataFrame(table, schema)
    diffs = []
    for what, got, want in (
        ("rows", _rows(frame), _rows(jvm)),
        ("count", frame.count(), jvm.count()),
        ("schema", frame.schema, jvm.schema),
        ("columns", frame.columns, jvm.columns),
        ("isLocal", frame.isLocal(), jvm.isLocal()),
        ("toArrow", _arrow(frame.toArrow()), _arrow(jvm.toArrow())),
    ):
        if got != want:
            diffs.append(f"{what}: {got!r} != {want!r}")
    return diffs


def _battery(spark) -> list[str]:
    diffs = []
    for rows in (slice(None), slice(0, 0)):
        diffs += _compare(spark, _COLUMNS, rows)
        for col in _DECLINED:
            diffs += [f"{col[0]} {d}" for d in _compare(spark, [col], rows)]
    return diffs


def test_frame_answers_as_the_jvm_frame(spark):
    """Every served type (nulls, NaN, ±0.0, ±inf, decimal scales, date
    and timestamp_ntz extremes, a non-nullable column), each declined
    type, and an empty result: collect() rows and asDict(), count(),
    schema, columns, isLocal() and toArrow() equal the JVM frame's."""
    assert _battery(spark) == []


def test_frame_answers_as_the_jvm_frame_in_a_non_utc_zone():
    """The same battery in a Python process whose local zone is not UTC
    and has DST (collect() renders timestamps in the local zone)."""
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]);"
        "from tests.test_arrow_frame import _battery;"
        "from demo_iceberg_permanent_delete_spark.session import get_spark;"
        "diffs = _battery(get_spark('arrow-frame-tz', master='local[1]'));"
        "print('\\n'.join(diffs) or 'MATCH')"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "TZ": "America/New_York", "SPARK_GRAFT_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", code, root],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "MATCH", out.stdout


def test_served_actions_never_enter_the_jvm(spark, monkeypatch):
    """collect(), count(), isLocal(), schema, columns, toArrow() on a
    frame without string columns, and collect_if_small make no py4j call
    and leave the JVM frame unbuilt."""
    from py4j.clientserver import JavaClient

    columns = [c for c in _COLUMNS if not isinstance(c[1], T.StringType)]
    table, schema = _table(columns)
    frame = ArrowFrame(spark, table, schema)
    sent = []
    real = JavaClient.send_command

    def spy(self, command, *args, **kwargs):
        if not command.startswith("m\nd\n"):  # a GC'd proxy's release
            sent.append(command)
        return real(self, command, *args, **kwargs)

    monkeypatch.setattr(JavaClient, "send_command", spy)
    frame.collect()
    frame.count()
    frame.isLocal()
    frame.columns
    assert frame.toArrow() is table
    assert datafiles.collect_if_small(frame) is table
    monkeypatch.undo()
    assert sent == []
    assert frame._built is None


def test_composition_gives_the_jvm_frames_rows(spark, tmp_path):
    """filter, join, unionByName, a temp view and a noop write over the
    frame give the rows they give over createDataFrame of the table."""
    table, schema = _table(_COLUMNS)
    other = spark.createDataFrame([(1, "x"), (3, "z")], "nn long, tag string")

    def uses(df):
        df.createOrReplaceTempView("arrow_frame_probe")
        df.write.format("noop").mode("overwrite").save()
        return [
            df.filter(F.col("i64") > 0).collect(),
            df.join(other, "nn").orderBy("nn").collect(),
            df.unionByName(df).orderBy("nn").collect(),
            df.select("nn", "s").collect(),
            spark.sql("SELECT nn, d2 FROM arrow_frame_probe WHERE nn >= 2").collect(),
        ]

    got = uses(ArrowFrame(spark, table, schema))
    want = uses(spark.createDataFrame(table, schema))
    assert repr(got) == repr(want)


def test_concurrent_threads_build_one_jvm_frame(spark, monkeypatch):
    """Threads (more than cores) reading _jdf at once, with a short
    switch interval, build it once and all see the same JVM frame."""
    table, schema = _table(_COLUMNS)
    frame = ArrowFrame(spark, table, schema)
    real = ArrowFrame._materialize
    builds = []
    n = 2 * (os.cpu_count() or 2)
    started = threading.Barrier(n)

    def slow_build(self):
        builds.append(threading.get_ident())
        time.sleep(0.2)  # the other threads arrive while this one builds
        return real(self)

    monkeypatch.setattr(ArrowFrame, "_materialize", slow_build)
    seen = []

    def touch():
        started.wait(timeout=60)
        seen.append(frame._jdf)

    threads = [threading.Thread(target=touch) for _ in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1
    assert len(seen) == n and all(jdf is seen[0] for jdf in seen)
    assert frame.filter(F.col("nn") == 2).count() == 1


@pytest.mark.parametrize("budget", [None, 0], ids=["driver", "executor"])
def test_scan_returns_a_frame_only_for_final_driver_rows(
    spark, tmp_path, monkeypatch, budget
):
    """A driver read whose predicate pushes comes back as an ArrowFrame
    of the matches; one whose predicate Spark must apply, or a read past
    the driver budget, is a plain Spark frame; all give the same rows."""
    from demo_iceberg_permanent_delete_spark.lake import Catalog

    if budget is not None:
        monkeypatch.setattr(datafiles, "DRIVER_MAX_ROWS", budget)
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("default")
    t = cat.create_table(
        "default.t", "k bigint, v double", properties={"write.delete.mode": "merge-on-read"}
    )
    t.insert(spark.range(0, 50).selectExpr("id AS k", "id / 2 AS v"))
    t.delete("k = 7")
    pushed = t.scan("k < 10", columns=["v", "k"])
    unpushed = t.scan("k + 0 < 10")
    assert isinstance(pushed, ArrowFrame) == (budget is None)
    assert not isinstance(unpushed, ArrowFrame)
    assert sorted(pushed.collect()) == sorted(
        unpushed.select("v", "k").collect()
    ) == [(k / 2, k) for k in range(10) if k != 7]
