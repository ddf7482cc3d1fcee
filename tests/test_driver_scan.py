"""Driver-side reads of small manifest-pruned scans (LakeTable._driver_read):
``scan(pred)`` brings candidate files that fit the driver budget onto the
driver through the DataSource's per-file MOR reader and hands Spark a
LocalRelation, and the MOR DELETE (deletion-vector layout) matches a
predicate the row filter translates in pyarrow. Each scenario runs once
at the default budget (driver reads) and once with the budget forced to
0 (executor reads); scans, the DataSource's filtered batch read, and the
rows and manifests after a MOR delete and a MOR update, must agree."""

from __future__ import annotations

import decimal

import pytest
from pyspark.sql import functions as F

from tests.conftest import jobless
from demo_iceberg_permanent_delete_spark.lake import Catalog, datafiles
from demo_iceberg_permanent_delete_spark.lake.sql import LakeEngine
from demo_iceberg_permanent_delete_spark.lake.table import LakeTable
from demo_iceberg_permanent_delete_spark.sources import lake_datasource

MOR = {
    "write.delete.mode": "merge-on-read",
    "write.update.mode": "merge-on-read",
}


def _insert(t, spark, lo, hi, *exprs):
    t.insert(
        spark.range(lo, hi, numPartitions=1).withColumnRenamed("id", "k").selectExpr(*exprs)
    )


def _renamed(spark, cat):
    t = cat.create_table("default.t", "k bigint, a string", properties=MOR)
    _insert(t, spark, 0, 40, "k", "concat('a', k % 5) AS a")
    t.rename_column("a", "b")
    _insert(t, spark, 40, 80, "k", "concat('a', k % 5) AS b")
    return t, ["b = 'a1'", "k >= 30 AND k < 50"], {"b": F.lit("z")}


def _defaults(spark, cat):
    t = cat.create_table("default.t", "k bigint, a string", properties=MOR)
    _insert(t, spark, 0, 40, "k", "'x' AS a")
    t.add_column("d", "int", default=7)
    _insert(t, spark, 40, 80, "k", "'y' AS a", "cast(k % 3 AS int) AS d")
    return t, ["d = 7", "k >= 35 AND k < 45"], {"d": F.lit(100)}


def _widening(spark, cat):
    t = cat.create_table("default.t", "k int, f float", properties=MOR)
    _insert(t, spark, 0, 40, "cast(k AS int) AS k", "cast(k / 4 AS float) AS f")
    t.alter_column_type("k", "bigint")
    t.alter_column_type("f", "double")
    _insert(t, spark, 40, 80, "k", "k / 4 AS f")
    return t, ["k > 30 AND k < 60", "f < 5"], {"f": F.lit(-1.5)}


def _nested(spark, cat):
    t = cat.create_table("default.t", "k bigint, s struct<a:int>", properties=MOR)
    _insert(t, spark, 0, 40, "k", "named_struct('a', cast(k AS int)) AS s")
    t.add_column("s.b", "string")
    _insert(
        t, spark, 40, 80, "k",
        "named_struct('a', cast(k AS int), 'b', concat('b', k)) AS s",
    )
    return t, ["k >= 30 AND k < 50", "k < 20 OR k > 70"], {"s.b": F.lit("u")}


def _position_deletes(dv):
    def build(spark, cat):
        props = {**MOR, "write.delete.vector.enabled": str(dv).lower()}
        t = cat.create_table("default.t", "k bigint, a string", properties=props)
        _insert(t, spark, 0, 50, "k", "concat('a', k % 4) AS a")
        _insert(t, spark, 50, 100, "k", "concat('a', k % 4) AS a")
        t.delete("k % 7 = 0")
        return t, ["k < 30", "a = 'a2' AND k >= 40"], {"a": F.lit("z")}

    return build


def _eq_deletes(spark, cat):
    t = cat.create_table("default.t", "k bigint, a string", properties=MOR)
    _insert(t, spark, 0, 40, "k", "concat('a', k % 3) AS a")
    t.equality_delete(spark.range(3, 6).selectExpr("id AS k"), ["k"])
    # committed after the equality delete: the sequence rule keeps it
    _insert(t, spark, 3, 4, "k", "'again' AS a")
    return t, ["k < 10", "a = 'a1'"], {"a": F.lit("z")}


def _hidden_partitions(spark, cat):
    t = cat.create_table(
        "default.t",
        "k bigint, ts timestamp",
        properties=MOR,
        partition_by=["days(ts)", "bucket(4, k)"],
    )
    _insert(
        t, spark, 0, 60, "k",
        "timestamp'2024-03-01 00:00:00' + make_interval(0, 0, 0, cast(k % 3 AS int)) AS ts",
    )
    return (
        t,
        ["ts >= timestamp'2024-03-02 00:00:00'", "k < 25"],
        {"ts": F.expr("ts + interval 1 hour")},
    )


def _decimals(spark, cat):
    t = cat.create_table("default.t", "k bigint, p decimal(12,2)", properties=MOR)
    _insert(t, spark, 0, 60, "k", "cast(k * 1.25 AS decimal(12,2)) AS p")
    return t, ["p > 10.50 AND p < 40", "k < 12"], {"p": decimal.Decimal("-0.01")}


def _timestamps(spark, cat):
    t = cat.create_table(
        "default.t", "k bigint, ts timestamp, tn timestamp_ntz", properties=MOR
    )
    _insert(
        t, spark, 0, 48, "k",
        "timestamp'2024-03-10 00:30:00' + make_interval(0, 0, 0, 0, cast(k AS int)) AS ts",
        "timestamp_ntz'2024-03-10 00:30:00' + make_interval(0, 0, 0, 0, cast(k AS int)) AS tn",
    )
    return (
        t,
        ["ts >= timestamp'2024-03-10 06:00:00'", "tn < timestamp_ntz'2024-03-10 03:00:00'"],
        {"ts": F.expr("ts + interval 1 hour"), "tn": F.expr("tn - interval 1 day")},
    )


SCENARIOS = {
    "renamed": _renamed,
    "defaults": _defaults,
    "widening": _widening,
    "nested": _nested,
    "plain_deletes": _position_deletes(False),
    "dv_deletes": _position_deletes(True),
    "eq_deletes": _eq_deletes,
    "hidden_partitions": _hidden_partitions,
    "decimals": _decimals,
    "timestamps": _timestamps,
}
# delete predicates the row filter declines (decimal and timestamp
# comparisons): their MOR delete matches on the executors
DECLINED_DELETE = {"decimals", "hidden_partitions", "timestamps"}


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


def _source_rows(spark, session, t, preds):
    """The DataSource's batch read of ``t`` filtered by each of ``preds``,
    through ``spark``, where the source is registered (a session made
    later by newSession cannot see or register it), in ``session``'s
    time zone."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set(
        "spark.sql.session.timeZone", session.conf.get("spark.sql.session.timeZone")
    )
    try:
        source = spark.read.format("lakehouse").option("location", t.location).load()
        return [_rows(source.filter(p)) for p in preds]
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def _outcome(spark, wh, build, budget, source):
    t, preds, assign = build(spark, Catalog(spark, wh))
    budget()
    scans = [_rows(t.scan(p)) for p in preds]
    assert _source_rows(source, spark, t, preds) == scans
    t.delete(preds[0])
    deleted = (_rows(t.read()), _manifests(t))
    t.update(assign, preds[1])
    updated = (_rows(t.read()), _manifests(t))
    return scans, deleted, updated


@pytest.mark.parametrize("name", sorted(SCENARIOS))
def test_driver_reads_match_executor_reads(spark, tmp_path, monkeypatch, name):
    lake_datasource.register(spark)
    session = _vanilla(spark) if name == "timestamps" else spark
    Catalog(session, str(tmp_path / "a")).create_namespace("default")
    Catalog(session, str(tmp_path / "b")).create_namespace("default")
    calls = []
    real = lake_datasource.read_entries_arrow

    def spy(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(lake_datasource, "read_entries_arrow", spy)
    # the table is built at the default budget both times; only the
    # scans, the delete and the update run at budget 0 the second time
    driver = _outcome(
        session, str(tmp_path / "a"), SCENARIOS[name], lambda: calls.clear(), spark
    )
    # the two scans and, under the DV layout, the pushed delete's match read
    assert len(calls) == (2 if name in DECLINED_DELETE | {"plain_deletes"} else 3)
    executor = _outcome(
        session,
        str(tmp_path / "b"),
        SCENARIOS[name],
        lambda: (calls.clear(), monkeypatch.setattr(datafiles, "DRIVER_MAX_ROWS", 0)),
        spark,
    )
    assert calls == []
    for part, got, want in zip(("scans", "delete", "update"), driver, executor):
        assert got == want, f"{name}: {part} differ between driver and executor reads"


def test_delete_file_reads_count_against_the_budget(spark, tmp_path, monkeypatch):
    """The driver reader opens each delete file once per data file that
    sees it, so a scan over many small equality-delete files (one per
    streaming upsert) is charged for every such read and falls back to
    the executor anti-join, which reads each of them once."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("default")
    t = cat.create_table("default.t", "k bigint, a string", properties=MOR)
    _insert(t, spark, 0, 30, "k", "'x' AS a")
    _insert(t, spark, 30, 60, "k", "'x' AS a")
    keys = range(0, 60, 5)
    for k in keys:
        t.equality_delete(spark.range(k, k + 1).selectExpr("id AS k"), ["k"])
    snap = t.metadata.current_snapshot()
    data_rows = sum(e.record_count for e in snap.data_files())
    eq_rows = sum(e.record_count for e in snap.delete_files())
    assert eq_rows == len(keys)
    # every file read once would fit; each delete file read per data file
    # (2 x 12) does not
    monkeypatch.setattr(datafiles, "DRIVER_MAX_ROWS", data_rows + eq_rows)
    calls = []
    real = lake_datasource.read_entries_arrow

    def spy(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(lake_datasource, "read_entries_arrow", spy)
    df = t.scan("k >= 0")
    assert calls == []
    assert sorted(r["k"] for r in df.collect()) == [
        k for k in range(60) if k not in keys
    ]
    # one data file and the delete files whose keys it may hold fit
    df = t.scan("k < 30")
    assert calls == [1]
    assert sorted(r["k"] for r in df.collect()) == [
        k for k in range(30) if k not in keys
    ]


@pytest.mark.parametrize("read", ["driver", "executor"])
def test_mor_delete_under_url_encoded_location(spark, tmp_path, monkeypatch, read):
    """Spark reports ``_metadata.file_path`` percent-encoded; the position
    keys written and matched must be the manifest's plain paths, or a MOR
    delete under such a location is honoured by one reader and not the
    others. Run with the match reads on the driver and on executors."""
    if read == "executor":
        monkeypatch.setattr(
            LakeTable, "_driver_read", lambda *a, **k: None, raising=False
        )
        monkeypatch.setattr(LakeTable, "_erase_on_driver", lambda *a, **k: None)
    lake_datasource.register(spark)
    cat = Catalog(spark, str(tmp_path / "wh with space %25 a+b"))
    cat.create_namespace("default")
    t = cat.create_table("default.t", "k bigint, a string", properties=MOR)
    _insert(t, spark, 0, 10, "k", "'x' AS a")
    t.delete("k = 3")
    t.update({"a": "y"}, "k = 5")
    want = [(k, "y" if k == 5 else "x") for k in range(10) if k != 3]
    via_source = (
        spark.read.format("lakehouse").option("location", t.location).load()
    )
    for df in (t.read(), t.scan("k < 10"), via_source):
        assert sorted((r["k"], r["a"]) for r in df.collect()) == want
    snap = t.metadata.current_snapshot()
    refs = {r for e in snap.delete_files() for r in e.referenced_files}
    assert refs and refs <= {e.file_path for e in snap.data_files()}


def test_encoded_tombstones_written_before_the_fix_still_apply(
    spark, tmp_path, monkeypatch
):
    """Delete files written while ``__fp`` was Spark's percent-encoded
    path hold that spelling; every reader still applies them."""
    lake_datasource.register(spark)
    cat = Catalog(spark, str(tmp_path / "old wh %25+"))
    cat.create_namespace("default")
    t = cat.create_table("default.t", "k bigint, a string", properties=MOR)
    _insert(t, spark, 0, 10, "k", "'x' AS a")

    def encoded_position(df, paths):
        return df.select(
            "*",
            F.regexp_replace(F.col("_metadata.file_path"), "^file:", "").alias("__fp"),
            F.col("_metadata.row_index").alias("__pos"),
        )

    with monkeypatch.context() as m:
        m.setattr(LakeTable, "_with_position", staticmethod(encoded_position))
        m.setattr(LakeTable, "_driver_read", lambda *a, **k: None)
        m.setattr(LakeTable, "_erase_on_driver", lambda *a, **k: None)
        t.delete("k = 3")
    (dv,) = t.metadata.current_snapshot().delete_files()
    assert "%20" in dv.referenced_files[0]
    want = [k for k in range(10) if k != 3]
    via_source = (
        spark.read.format("lakehouse").option("location", t.location).load()
    )
    for df in (t.read(), t.scan("k < 10"), via_source):
        assert sorted(r["k"] for r in df.collect()) == want
    monkeypatch.setattr(datafiles, "DRIVER_MAX_ROWS", 0)
    assert sorted(r["k"] for r in t.scan("k < 10").collect()) == want
    # a second delete of the same key finds nothing left to delete
    assert t.delete("k = 3") is None


def test_mor_erase_and_lookup_run_no_spark_job(spark, tmp_path):
    """Within the budget a single-key MOR delete and a facade point lookup
    read, match, and write on the driver: no Spark job starts."""
    eng = LakeEngine(spark, str(tmp_path / "wh"))
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("default")
    t = cat.create_table("default.t", "k bigint, a string", properties=MOR)
    _insert(t, spark, 0, 100, "k", "concat('a', k) AS a")
    _insert(t, spark, 100, 200, "k", "concat('a', k) AS a")
    assert jobless(spark, lambda: t.delete("k = 150")) is not None
    rows = jobless(
        spark, lambda: eng.sql("SELECT a FROM default.t WHERE k = 151").collect()
    )
    assert [r["a"] for r in rows] == ["a151"]
    assert jobless(
        spark, lambda: eng.sql("SELECT a FROM default.t WHERE k = 150").collect()
    ) == []


def test_facade_scan_cache_keeps_no_driver_rows(spark, tmp_path, monkeypatch):
    """Driver-read scans hold table rows, so the facade's scan cache never
    stores them; executor scans (plans only) are still cached."""
    eng = LakeEngine(spark, str(tmp_path / "wh"))
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("default")
    t = cat.create_table("default.t", "k bigint", properties=MOR)
    _insert(t, spark, 0, 50, "k")
    for k in range(5):
        assert eng.sql(f"SELECT k FROM default.t WHERE k = {k}").collect()
    assert eng._scan_cache == {}
    monkeypatch.setattr(datafiles, "DRIVER_MAX_ROWS", 0)
    for k in range(5):
        assert eng.sql(f"SELECT k FROM default.t WHERE k = {k}").collect()
    assert len(eng._scan_cache) == 5
    assert not any(df.isLocal() for df in eng._scan_cache.values())


def _erase_table(spark, wh):
    cat = Catalog(spark, wh)
    cat.create_namespace("default")
    t = cat.create_table("default.t", "k bigint, a string", properties=MOR)
    _insert(t, spark, 0, 100, "k", "concat('a', k) AS a")
    _insert(t, spark, 100, 200, "k", "concat('a', k) AS a")
    return t


def test_pushed_erase_reads_projected_columns_and_builds_no_frame(
    spark, tmp_path, monkeypatch
):
    """A predicate the row filter translates is matched in pyarrow: no
    Spark job, no createDataFrame, and each candidate file is read for
    the predicate's column only."""
    t = _erase_table(spark, str(tmp_path / "wh"))
    frames, reads = [], []
    real_frame = spark.createDataFrame
    real_visible = lake_datasource._visible_table

    def frame_spy(*args, **kwargs):
        frames.append(1)
        return real_frame(*args, **kwargs)

    def visible_spy(path, *args, **kwargs):
        reads.append((path, kwargs.get("columns")))
        return real_visible(path, *args, **kwargs)

    monkeypatch.setattr(spark, "createDataFrame", frame_spy)
    monkeypatch.setattr(lake_datasource, "_visible_table", visible_spy)
    snap = jobless(spark, lambda: t.delete("k = 150"))
    assert snap is not None and frames == []
    (candidate,) = [
        e.file_path
        for e in snap.data_files()
        if e.min_values["k"] <= 150 <= e.max_values["k"]
    ]
    assert reads == [(candidate, {"k"})]
    # a second erase reads through the first one's DV, still projected
    reads.clear()
    jobless(spark, lambda: t.delete("k IN (151, 152) OR k = 150"))
    assert reads == [(candidate, {"k"})] and frames == []
    assert sorted(r["k"] for r in t.read().collect()) == [
        k for k in range(200) if k not in (150, 151, 152)
    ]


def test_declined_erase_matches_the_pushed_erase(spark, tmp_path, monkeypatch):
    """A predicate the row filter declines is matched by Spark's
    positioned executor read; it writes the same rows and manifests as
    the pushed erase."""
    pushed = _erase_table(spark, str(tmp_path / "a"))
    declined = _erase_table(spark, str(tmp_path / "b"))
    frames = []
    real_frame = spark.createDataFrame

    def frame_spy(*args, **kwargs):
        frames.append(1)
        return real_frame(*args, **kwargs)

    monkeypatch.setattr(spark, "createDataFrame", frame_spy)
    pushed.delete("k = 150 OR a = 'a7'")
    assert frames == []
    declined.delete("k + 0 = 150 OR a = 'a7'")
    assert _rows(pushed.read()) == _rows(declined.read())
    assert _manifests(pushed) == _manifests(declined)


def test_schema_parse_is_memoised_per_timestamp_type(spark, tmp_path, monkeypatch):
    """LakeTable.schema() gives the answer of Spark's DDL parse, which
    reads spark.sql.timestampType from the session active in the JVM, and
    parses each (DDL, timestamp type) pair once."""
    from pyspark.sql import types as T

    from demo_iceberg_permanent_delete_spark.lake import table as table_mod

    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("default")
    t = cat.create_table("default.t", "k bigint, ts timestamp")
    ddl = t.metadata.schema_ddl
    ntz = spark.newSession()
    ntz.conf.set("spark.sql.timestampType", "TIMESTAMP_NTZ")
    on_ntz = LakeTable(ntz, t.metadata)
    parses = []
    real = T._parse_datatype_string

    def spy(s):
        parses.append(s)
        return real(s)

    table_mod._schema_json.cache_clear()
    monkeypatch.setattr(T, "_parse_datatype_string", spy)
    jvm_session = spark._jvm.SparkSession
    answers = {}
    for name, active in (("ltz", spark), ("ntz", ntz)):
        jvm_session.setActiveSession(active._jsparkSession)
        try:
            want = real(ddl)
            for handle in (t, on_ntz, t):
                got = handle.schema()
                assert got == want
                got.fields.clear()  # a fresh object per call
            answers[name] = want
        finally:
            jvm_session.setActiveSession(spark._jsparkSession)
    assert answers["ltz"]["ts"].dataType == T.TimestampType()
    assert answers["ntz"]["ts"].dataType == T.TimestampNTZType()
    assert parses == [ddl, ddl]


def test_facade_lookup_hands_spark_only_the_matches(spark, tmp_path, monkeypatch):
    """A lookup whose WHERE the row filter translates is filtered in
    pyarrow: its collect() hands Spark nothing, and composing the frame
    ships the matching row as the LocalRelation, not the candidate
    file's 100. A predicate it declines still hands over the whole
    candidate file."""
    eng = LakeEngine(spark, str(tmp_path / "wh"))
    _erase_table(spark, str(tmp_path / "wh"))
    sizes = []
    real_frame = spark.createDataFrame

    def frame_spy(data, *args, **kwargs):
        sizes.append(data.num_rows)
        return real_frame(data, *args, **kwargs)

    monkeypatch.setattr(spark, "createDataFrame", frame_spy)
    df = eng.sql("SELECT a FROM default.t WHERE k = 151")
    rows = jobless(spark, df.collect)
    assert [r["a"] for r in rows] == ["a151"] and sizes == []
    assert [r["a"] for r in df.filter("a IS NOT NULL").collect()] == ["a151"]
    assert sizes == [1]
    rows = eng.sql("SELECT a FROM default.t WHERE k + 0 = 151 AND k >= 100").collect()
    assert [r["a"] for r in rows] == ["a151"] and sizes == [1, 100]
