"""Regression tests for the round-1 ADVICE findings: unsound timestamp
pruning (isoformat 'T' vs SQL space literals), UPDATE's chained-withColumn
assignment semantics, naive identifier substitution in the SQL facade, and
SQL-escaped quotes in prunable literals."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from tests.conftest import one_part
from demo_iceberg_permanent_delete_spark.lake import Catalog
from demo_iceberg_permanent_delete_spark.lake.metadata import ManifestEntry
from demo_iceberg_permanent_delete_spark.lake.pruning import candidate_files
from demo_iceberg_permanent_delete_spark.lake.sql import LakeEngine


def _ts_table(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("default")
    t = cat.create_table("default.ts_t", "id bigint, ts timestamp")
    rows = [
        (i, dt.datetime(2024, 6, 5, 12, 0, 0) + dt.timedelta(minutes=i))
        for i in range(10)
    ]
    t.insert(one_part(spark, rows, "id bigint, ts timestamp"))
    return t


def test_timestamp_pruning_space_literal_is_sound(spark, tmp_path):
    """Manifest stats store timestamps as isoformat ('T' separator); SQL
    literals use a space. Pruning must still keep files containing matches
    (was: lexicographic compare pruned them, so DELETE/UPDATE silently
    skipped rows)."""
    t = _ts_table(spark, tmp_path)
    entries = t.metadata.current_snapshot().data_files()
    assert len(entries) == 1
    # same-day bounds, space-separator literals — all must keep the file
    assert len(candidate_files(entries, "ts = '2024-06-05 12:00:00'")) == 1
    assert len(candidate_files(entries, "ts <= '2024-06-05 23:59:59'")) == 1
    assert len(candidate_files(entries, "ts >= '2024-06-05 00:00:00'")) == 1
    assert (
        len(candidate_files(entries, "ts BETWEEN '2024-06-05 00:00:00' AND '2024-06-05 23:59:59'"))
        == 1
    )
    # typed literal form too
    assert len(candidate_files(entries, "ts = TIMESTAMP '2024-06-05 12:00:00'")) == 1
    # and a provably-out-of-range literal still prunes
    assert len(candidate_files(entries, "ts > '2024-06-06 00:00:00'")) == 0

    # end-to-end: DELETE through the pruned path actually deletes
    snap = t.delete("ts = TIMESTAMP '2024-06-05 12:00:00'")
    assert snap is not None
    assert t.read().count() == 9


def test_date_literal_against_timestamp_bounds(spark, tmp_path):
    t = _ts_table(spark, tmp_path)
    entries = t.metadata.current_snapshot().data_files()
    # date-only literal coerces to midnight, like Spark's cast
    assert len(candidate_files(entries, "ts >= '2024-06-05'")) == 1
    assert len(candidate_files(entries, "ts < '2024-06-05'")) == 0


def test_escaped_quote_literal_not_mangled():
    e = ManifestEntry(
        file_path="f",
        content=0,
        record_count=1,
        file_size_in_bytes=1,
        min_values={"name": "it's"},
        max_values={"name": "it's"},
    )
    # 'it''s' is SQL for it's — must match the bounds, not prune
    assert len(candidate_files([e], "name = 'it''s'")) == 1
    assert len(candidate_files([e], "name = 'zzz'")) == 0


def test_update_multi_column_uses_pre_update_row(spark, tmp_path):
    """UPDATE SET email=NULL, name=NULL WHERE email='x@a.com' must null BOTH
    columns (was: first assignment nulled email, making the predicate false
    for the name assignment — PII silently retained)."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("default")
    t = cat.create_table("default.pii", "case_id string, email string, name string")
    t.insert(
        spark.createDataFrame(
            [("c1", "x@a.com", "Alice"), ("c2", "y@b.com", "Bob")],
            "case_id string, email string, name string",
        )
    )
    snap = t.update({"email": None, "name": None}, "email = 'x@a.com'")
    assert snap is not None
    rows = {r["case_id"]: r for r in t.read().collect()}
    assert rows["c1"]["email"] is None and rows["c1"]["name"] is None
    assert rows["c2"]["email"] == "y@b.com" and rows["c2"]["name"] == "Bob"


def test_update_swap_assignments(spark, tmp_path):
    """Assignment RHS referencing other assigned columns sees pre-update
    values (SQL semantics): a = b, b = a swaps."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("default")
    t = cat.create_table("default.swap", "k bigint, a string, b string")
    t.insert(spark.createDataFrame([(1, "left", "right")], "k bigint, a string, b string"))
    t.update({"a": F.col("b"), "b": F.col("a")}, "k = 1")
    row = t.read().first()
    assert row["a"] == "right" and row["b"] == "left"


def test_sql_select_identifier_rewrite_prefix_safe(spark, tmp_path):
    """default.pii must not be substituted inside default.pii_data, nor
    inside string literals."""
    engine = LakeEngine(spark, str(tmp_path / "wh"))
    engine.sql("CREATE NAMESPACE IF NOT EXISTS default")
    engine.sql("CREATE TABLE default.pii (k bigint) USING iceberg")
    engine.sql("CREATE TABLE default.pii_data (k bigint) USING iceberg")
    engine.sql("INSERT INTO default.pii VALUES (1)")
    engine.sql("INSERT INTO default.pii_data VALUES (10), (20)")

    assert engine.sql("SELECT count(*) AS n FROM default.pii_data").first()["n"] == 2
    assert engine.sql("SELECT count(*) AS n FROM demo.default.pii").first()["n"] == 1
    # literal containing a table name survives untouched
    row = engine.sql("SELECT 'default.pii' AS s, k FROM default.pii_data ORDER BY k").first()
    assert row["s"] == "default.pii" and row["k"] == 10
    # metadata suffix on the longer name resolves to the right table
    assert engine.sql("SELECT count(*) AS n FROM default.pii_data.snapshots").first()["n"] == 1


# ---------------------------------------------------------------------------
# Round-2 ADVICE: drop_column popped the rename chain, so a later
# add_column under the pre-rename name resolved against old files'
# physical column — resurrecting supposedly-removed PII. Retired physical
# names now live in a persistent tombstone set.
# ---------------------------------------------------------------------------
def test_drop_column_keeps_rename_tombstones(spark, tmp_path):
    import pytest

    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("default")
    t = cat.create_table("default.pii_evo", "k bigint, email string")
    t.insert(
        spark.createDataFrame([(1, "secret@a.com")], "k bigint, email string")
    )
    t.rename_column("email", "contact_email")
    t.drop_column("contact_email")
    # the ADVICE attack sequence: re-adding the original physical name
    # must fail — old files still physically contain 'email'
    with pytest.raises(ValueError, match="retired physical name"):
        t.add_column("email", "string")
    # the post-rename physical name is equally tombstoned
    with pytest.raises(ValueError, match="retired physical name"):
        t.add_column("contact_email", "string")
    # renaming another column ONTO a tombstoned name is the same hole
    t.add_column("note", "string")
    with pytest.raises(ValueError, match="already in use"):
        t.rename_column("note", "email")


def test_drop_then_readd_same_name_blocked_when_files_exist(spark, tmp_path):
    """Even without renames: files written before DROP COLUMN physically
    keep the column, and by-name resolution would resurrect the values on
    a same-name re-add."""
    import pytest

    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("default")
    t = cat.create_table("default.pii_readd", "k bigint, ssn string")
    t.insert(spark.createDataFrame([(1, "123-45-6789")], "k bigint, ssn string"))
    t.drop_column("ssn")
    with pytest.raises(ValueError, match="retired physical name"):
        t.add_column("ssn", "string")
    # tombstones survive a metadata reload (persisted, not in-memory state)
    t.refresh()
    with pytest.raises(ValueError, match="retired physical name"):
        t.add_column("ssn", "string")


def test_drop_then_readd_allowed_on_fileless_table(spark, tmp_path):
    """No data files → no physical column anywhere → reuse is safe (the
    common fix-a-typo DDL flow on a fresh table must not be bricked)."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("default")
    t = cat.create_table("default.fresh", "k bigint, emial string")
    t.drop_column("emial")
    t.add_column("email", "string")
    assert [f.name for f in t.schema().fields] == ["k", "email"]


def test_drop_purge_fork_guard_is_transitive(spark, tmp_path):
    """Round-9 advisor finding: a fork-of-a-fork's entries reference the
    ORIGINAL table's files, but its 'forked-from' names the INTERMEDIATE
    fork — after the intermediate is dropped (without purge), purging the
    original must STILL be refused, or the grandchild dangles."""
    import pytest

    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("default")
    t = cat.create_table("default.orig", "k bigint, v string")
    t.insert(one_part(spark, [(1, "a"), (2, "b")], "k bigint, v string"))
    cat.snapshot_table("default.orig", "default.fork1")
    cat.snapshot_table("default.fork1", "default.fork2")
    cat.drop_table("default.fork1")  # intermediate gone from the registry
    with pytest.raises(ValueError, match="zero-copy fork"):
        cat.drop_table("default.orig", purge=True)
    # the grandchild still reads the original's files
    assert cat.load_table("default.fork2").read().count() == 2
    # dropping the grandchild unblocks the purge
    cat.drop_table("default.fork2")
    cat.drop_table("default.orig", purge=True)
    assert "default.orig" not in cat.list_tables()


def test_ref_suffix_falls_through_to_column(spark, tmp_path):
    """Round-9 advisor finding: a column genuinely named tag_x / branch_x
    must not be parsed as a ref read when no such ref exists. A real
    missing ref still fails loudly."""
    import pytest

    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE default")
    eng.sql("CREATE TABLE default.evt (k BIGINT, tag_id STRING) USING iceberg")
    eng.sql("INSERT INTO default.evt VALUES (1, 'x'), (2, 'y')")
    # fully-qualified column named tag_id: must plan as the column,
    # requalified to the rewritten view, not raise 'unknown tag'
    got = eng.sql(
        "SELECT k, tag_id FROM default.evt WHERE default.evt.tag_id = 'x'"
    )
    assert [(r["k"], r["tag_id"]) for r in got.collect()] == [(1, "x")]
    # a genuinely missing ref (no same-named column) still raises
    with pytest.raises(ValueError, match="unknown tag"):
        eng.sql("SELECT * FROM default.evt.tag_nope")


def test_insert_select_allows_any_omitted_column(spark, tmp_path):
    """Round-9 advisor finding: INSERT INTO t SELECT … and the
    column-list VALUES form must agree on which columns may be omitted —
    any column may be, write defaults materialize, the rest read NULL."""
    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE default")
    eng.sql(
        "CREATE TABLE default.wd (k BIGINT, a STRING, b DOUBLE) USING iceberg"
    )
    eng.sql("ALTER TABLE default.wd ALTER COLUMN a SET DEFAULT 'dflt'")
    # omit a (write default) AND b (no default at all) — both allowed
    eng.sql("INSERT INTO default.wd SELECT 1 AS k")
    rows = eng.sql("SELECT * FROM default.wd").collect()
    assert [(r["k"], r["a"], r["b"]) for r in rows] == [(1, "dflt", None)]
    # dropped write default → omission still allowed, reads NULL
    eng.sql("ALTER TABLE default.wd ALTER COLUMN a DROP DEFAULT")
    eng.sql("INSERT INTO default.wd SELECT 2 AS k")
    rows = {r["k"]: (r["a"], r["b"]) for r in eng.sql("SELECT * FROM default.wd").collect()}
    assert rows[2] == (None, None)


def test_micros_guard_is_per_session(spark):
    """Round-11 advisor: with process-global depth, a second session
    entering while the first held the guard never got the conf set on
    ITS OWN session (silently emitting statless INT96 files). The
    streaming shuffle-partition override had the same process-global
    state: a second session asking for its own value was refused and
    never got the conf. Both guards key depth/prior per session."""
    from demo_iceberg_permanent_delete_spark.lake.datafiles import (
        _micros_timestamps,
    )
    from demo_iceberg_permanent_delete_spark.streaming.pipelines import (
        _shuffle_partitions,
    )

    key = "spark.sql.parquet.outputTimestampType"
    other = spark.newSession()
    spark.conf.unset(key)
    other.conf.unset(key)
    with _micros_timestamps(spark):
        assert spark.conf.get(key) == "TIMESTAMP_MICROS"
        with _micros_timestamps(other):
            assert other.conf.get(key) == "TIMESTAMP_MICROS", (
                "second session must get its own override"
            )
        assert other.conf.get(key, None) is None
        assert spark.conf.get(key) == "TIMESTAMP_MICROS"
    assert spark.conf.get(key, None) is None

    key = "spark.sql.shuffle.partitions"
    before, other_before = spark.conf.get(key), other.conf.get(key)
    with _shuffle_partitions(spark, "7"):
        with _shuffle_partitions(other, "9"):
            assert other.conf.get(key) == "9", (
                "second session must get its own override"
            )
            assert spark.conf.get(key) == "7"
        assert other.conf.get(key) == other_before
        assert spark.conf.get(key) == "7"
    assert spark.conf.get(key) == before


def test_shuffle_override_refuses_conflicting_overlap(spark):
    """Round-11 advisor: overlapping run_available_now* overrides must
    not race the set/restore; a conflicting concurrent value raises, and
    the refused call leaves the holder's override in place (it used to
    release a hold it never took, restoring the conf under the holder)."""
    import pytest as _pytest

    from demo_iceberg_permanent_delete_spark.streaming.pipelines import (
        _shuffle_partitions,
        run_available_now_many,
    )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    _shuffle_partitions.enter(spark, "7")
    try:
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        _shuffle_partitions.enter(spark, "7")  # same value refcounts
        _shuffle_partitions.leave(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        with _pytest.raises(RuntimeError, match="different"):
            _shuffle_partitions.enter(spark, "9")
        with _pytest.raises(RuntimeError, match="different"):
            run_available_now_many(
                [spark.readStream.format("rate").load()], state_partitions=9
            )
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        _shuffle_partitions.leave(spark)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
