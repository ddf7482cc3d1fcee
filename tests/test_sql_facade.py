"""Replay of the reference notebook's full PII-deletion script THROUGH THE
SQL SURFACE (notebooks/iceberg_pii_deletion_demo.py §§1-7): every statement
below is shaped exactly like the one the reference issues, so a reference
user could run their workflow against LakeEngine unchanged."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from demo_iceberg_permanent_delete_spark.lake import SnapshotNotFoundError, UnsafeOperationError
from tests.conftest import jobless
from demo_iceberg_permanent_delete_spark.lake import datafiles
from demo_iceberg_permanent_delete_spark.lake.sql import LakeEngine
from demo_iceberg_permanent_delete_spark.sources import lake_datasource

TABLE = "demo.default.pii_data"

PII_DDL = """
CREATE TABLE demo.default.pii_data (
    case_id STRING,
    first_name STRING,
    email_address STRING,
    key_nm STRING,
    secure_txt STRING,
    secure_key STRING,
    update_date DATE
) USING iceberg
"""

INSERT = """
INSERT INTO demo.default.pii_data VALUES
    ('case-1', 'Alice', 'alice@example.com', 'k1', 'secret-1', 'sk1', DATE('2023-01-01')),
    ('case-2', 'Bob',   'bob@example.com',   'k2', 'secret-2', 'sk2', DATE('2023-01-02')),
    ('case-3', 'Cara',  'cara@example.com',  'k3', 'secret-3', 'sk3', DATE('2023-01-03'))
"""


@pytest.fixture
def engine(spark, tmp_path):
    eng = LakeEngine(spark, str(tmp_path / "warehouse"))
    eng.sql("DROP TABLE IF EXISTS demo.default.pii_data")
    eng.sql("CREATE NAMESPACE IF NOT EXISTS demo.default")
    eng.sql(PII_DDL)
    eng.sql(INSERT)
    eng.sql("""
        ALTER TABLE demo.default.pii_data SET TBLPROPERTIES (
            'write.delete.mode' = 'merge-on-read',
            'write.update.mode' = 'copy-on-write'
        )
    """)
    return eng


def test_full_pii_lifecycle_via_sql(engine, spark):
    # -- §2: MOR delete (reference :175-180) --------------------------------
    pre_delete_snapshot = engine.table(TABLE).metadata.current_snapshot_id
    engine.sql("DELETE FROM demo.default.pii_data WHERE case_id = 'case-2'")

    live = engine.sql("SELECT case_id FROM demo.default.pii_data ORDER BY case_id")
    assert [r["case_id"] for r in live.collect()] == ["case-1", "case-3"]

    # .files metadata relation shows position-delete files (reference :205-216)
    deletes = engine.sql(
        "SELECT COUNT(*) AS n FROM demo.default.pii_data.files WHERE content IN (1, 2)"
    )
    assert deletes.first()["n"] >= 1

    # the PII physically persists in the data files (cleanup_utils.py:133-202)
    data_files = [
        e.file_path
        for e in engine.table(TABLE).metadata.current_snapshot().data_files()
    ]
    raw = spark.read.parquet(*data_files)
    assert raw.filter(F.col("case_id") == "case-2").count() == 1

    # -- §3: COW update nulls PII in place (reference :228-235) -------------
    engine.sql("""
        UPDATE demo.default.pii_data
        SET first_name = NULL, email_address = NULL, secure_txt = NULL
        WHERE case_id = 'case-1'
    """)
    row = engine.sql(
        "SELECT * FROM demo.default.pii_data WHERE case_id = 'case-1'"
    ).first()
    assert row["first_name"] is None and row["secure_txt"] is None
    assert row["key_nm"] == "k1"

    # -- §4: time travel to the pre-delete snapshot (reference :261) --------
    back = engine.read_table(TABLE, snapshot_id=pre_delete_snapshot)
    assert back.filter(F.col("case_id") == "case-2").count() == 1

    # -- §5: expire_snapshots blocks time travel (reference :289-315) -------
    cutoff = engine.sql("SELECT current_timestamp() AS ts").first()["ts"]
    engine.sql(
        f"CALL demo.system.expire_snapshots('default.pii_data', TIMESTAMP '{cutoff}')"
    )
    history = engine.sql(
        "SELECT COUNT(*) AS n FROM demo.default.pii_data.history"
    )
    assert history.first()["n"] == 1
    with pytest.raises(SnapshotNotFoundError):
        engine.read_table(TABLE, snapshot_id=pre_delete_snapshot).collect()

    # -- §6: orphan cleanup — safety window refuses a future cutoff
    #    (reference :343-358 EXPECTS this failure), Action path allows it ---
    with pytest.raises(UnsafeOperationError):
        engine.sql("""
            CALL demo.system.remove_orphan_files(
                table => 'default.pii_data',
                older_than => TIMESTAMP '2100-01-01 00:00:00'
            )
        """)
    removed = engine.table(TABLE).remove_orphan_files(
        older_than=cutoff, enforce_safety=False, dry_run=True
    )
    # no DATA file is orphaned; expired snapshots' delta manifests may be
    # listed for metadata GC (kept on disk for stale readers until here)
    assert [p for p in removed if "/data/" in p] == []

    # -- §7: rewrite makes the deletes physical (reference :421-466) --------
    stats = engine.sql("""
        CALL demo.system.rewrite_data_files(
            table => 'default.pii_data',
            options => map('rewrite-all', 'true',
                           'target-file-size-bytes', '134217728')
        )
    """).first()
    assert stats["removed_delete_files_count"] >= 1
    engine.sql(
        "CALL demo.system.rewrite_position_delete_files(table => 'default.pii_data')"
    )
    post = engine.sql(
        "SELECT COUNT(*) AS n FROM demo.default.pii_data.files WHERE content IN (1, 2)"
    )
    assert post.first()["n"] == 0

    # the strongest check (SURVEY §5): NO parquet file under the table's
    # data dir contains the purged case — the PII is physically gone.
    import glob
    import os

    t = engine.table(TABLE)
    engine.sql(f"""
        CALL demo.system.expire_snapshots(
            'default.pii_data',
            TIMESTAMP '{engine.sql("SELECT current_timestamp() AS ts").first()["ts"]}'
        )
    """)
    # "immediate" cleanup = year-2100 cutoff, the cleanup_utils.py:58 trick
    t.remove_orphan_files(older_than=4102444800000, enforce_safety=False)
    leftover = glob.glob(os.path.join(t.data_dir, "*.parquet"))
    assert leftover, "table should still have data files"
    assert spark.read.parquet(*leftover).filter(F.col("case_id") == "case-2").count() == 0
    final = engine.sql("SELECT case_id FROM demo.default.pii_data ORDER BY case_id")
    assert [r["case_id"] for r in final.collect()] == ["case-1", "case-3"]


def test_metadata_sql_runs_reference_shaped_summary(engine):
    """The reference's flagship CTE summary shape (file_summary_utils.py:
    45-105) over our metadata views, issued as one SQL string."""
    out = engine.sql("""
        WITH snaps AS (
            SELECT snapshot_id, committed_at
            FROM demo.default.pii_data.snapshots
            WHERE manifest_list IS NOT NULL
        ),
        entries AS (
            SELECT e.snapshot_id,
                   e.data_file.file_path AS file_path,
                   e.data_file.content AS content
            FROM demo.default.pii_data.all_entries e
            WHERE e.status != 2
        )
        SELECT
            CASE en.content
                WHEN 0 THEN 'data'
                WHEN 1 THEN 'position_deletes'
                ELSE 'equality_deletes'
            END AS file_type,
            date_trunc('minute', MIN(s.committed_at)) AS created_minute,
            COUNT(*) AS files_in_catalog
        FROM entries en
        LEFT JOIN snaps s USING (snapshot_id)
        GROUP BY en.content
        ORDER BY file_type
    """)
    rows = {r["file_type"]: r["files_in_catalog"] for r in out.collect()}
    assert rows.get("data", 0) >= 1


def test_drop_table_via_sql(engine):
    engine.sql("DROP TABLE IF EXISTS demo.default.pii_data PURGE")
    assert not engine.catalog.table_exists("default.pii_data")


def test_rollback_via_call(engine):
    snap_before = engine.table(TABLE).metadata.current_snapshot_id
    engine.sql("DELETE FROM demo.default.pii_data WHERE case_id = 'case-2'")
    out = engine.sql(
        f"CALL demo.system.rollback_to_snapshot('default.pii_data', {snap_before})"
    ).first()
    assert out["current_snapshot_id"] == snap_before
    live = engine.sql("SELECT case_id FROM demo.default.pii_data ORDER BY case_id")
    assert [r["case_id"] for r in live.collect()] == ["case-1", "case-2", "case-3"]


def test_create_partitioned_table_via_sql(engine):
    engine.sql("""
        CREATE TABLE demo.default.events_parted (
            user_id BIGINT,
            day STRING,
            n BIGINT
        ) USING iceberg
        PARTITIONED BY (day)
        TBLPROPERTIES ('write.distribution.partitions' = '4')
    """)
    t = engine.table("demo.default.events_parted")
    assert t.metadata.partition_by == ["day"]
    assert t.properties["write.distribution.partitions"] == "4"


def test_alter_add_drop_column_via_sql(engine):
    engine.sql("ALTER TABLE demo.default.pii_data ADD COLUMN region string")
    out = engine.sql("SELECT case_id, region FROM demo.default.pii_data")
    assert all(r["region"] is None for r in out.collect())
    engine.sql("ALTER TABLE demo.default.pii_data DROP COLUMN region")
    assert "region" not in engine.sql("SELECT * FROM demo.default.pii_data").columns


def test_merge_into_via_sql(engine, spark):
    # case-2 updated in place (assignment referencing the source alias),
    # case-9 inserted; case-1/3 untouched.
    spark.createDataFrame(
        [
            ("case-2", "Bobby", "bobby@example.com", "k2", "new-2", "sk2", "2023-02-01"),
            ("case-9", "Zoe", "zoe@example.com", "k9", "secret-9", "sk9", "2023-02-02"),
        ],
        "case_id string, first_name string, email_address string, key_nm string,"
        " secure_txt string, secure_key string, update_date string",
    ).withColumn("update_date", F.col("update_date").cast("date")).createOrReplaceTempView(
        "pii_source"
    )
    engine.sql("""
        MERGE INTO demo.default.pii_data t
        USING pii_source s
        ON t.case_id = s.case_id
        WHEN MATCHED THEN UPDATE SET first_name = s.first_name, secure_txt = s.secure_txt
        WHEN NOT MATCHED THEN INSERT *
    """)
    rows = {
        r["case_id"]: (r["first_name"], r["secure_txt"], r["email_address"])
        for r in engine.sql("SELECT * FROM demo.default.pii_data").collect()
    }
    assert set(rows) == {"case-1", "case-2", "case-3", "case-9"}
    # updated columns changed, unassigned column kept the target value
    assert rows["case-2"] == ("Bobby", "new-2", "bob@example.com")
    assert rows["case-9"][0] == "Zoe"


def test_merge_when_matched_delete_and_cardinality(engine, spark):
    from demo_iceberg_permanent_delete_spark.lake.errors import MergeCardinalityError

    t = engine.table(TABLE)
    src = spark.createDataFrame([("case-1",)], "case_id string")
    t.merge(src, ["case_id"], when_matched="delete", insert_unmatched=False)
    left = sorted(r["case_id"] for r in t.read().select("case_id").collect())
    assert left == ["case-2", "case-3"]

    dup = spark.createDataFrame([("case-2",), ("case-2",)], "case_id string")
    with pytest.raises(MergeCardinalityError):
        t.merge(dup, ["case_id"], when_matched="delete", insert_unmatched=False)


def test_merge_not_matched_by_source_delete_full_sync(engine, spark):
    # mirror the source: case-2 updated, case-9 inserted, case-1/3 DELETED
    spark.createDataFrame(
        [
            ("case-2", "Bobby", "bobby@example.com", "k2", "new-2", "sk2", "2023-02-01"),
            ("case-9", "Zoe", "zoe@example.com", "k9", "secret-9", "sk9", "2023-02-02"),
        ],
        "case_id string, first_name string, email_address string, key_nm string,"
        " secure_txt string, secure_key string, update_date string",
    ).withColumn("update_date", F.col("update_date").cast("date")).createOrReplaceTempView(
        "sync_source"
    )
    engine.sql("""
        MERGE INTO demo.default.pii_data t
        USING sync_source s
        ON t.case_id = s.case_id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE THEN DELETE
    """)
    rows = {
        r["case_id"]: r["first_name"]
        for r in engine.sql("SELECT * FROM demo.default.pii_data").collect()
    }
    assert rows == {"case-2": "Bobby", "case-9": "Zoe"}


def test_merge_not_matched_by_source_update(engine, spark):
    # tombstone target rows missing from the source; matched rows untouched
    t = engine.table(TABLE)
    src = spark.createDataFrame([("case-2",)], "case_id string")
    t.merge(
        src,
        ["case_id"],
        when_matched="ignore",
        insert_unmatched=False,
        when_not_matched_by_source="update",
        not_matched_by_source_assignments={"first_name": "concat('gone:', t.first_name)"},
    )
    rows = {
        r["case_id"]: r["first_name"] for r in t.read().collect()
    }
    assert rows == {"case-1": "gone:Alice", "case-2": "Bob", "case-3": "gone:Cara"}


def test_merge_by_source_noop_when_source_covers_target(engine, spark):
    t = engine.table(TABLE)
    before = t.metadata.current_snapshot().snapshot_id
    src = t.read().select("case_id")
    snap = t.merge(
        src,
        ["case_id"],
        when_matched="ignore",
        insert_unmatched=False,
        when_not_matched_by_source="delete",
    )
    assert snap is None  # nothing matched the by-source branch: no commit
    assert t.metadata.current_snapshot().snapshot_id == before


def test_ctas_and_insert_select(engine, spark):
    # CTAS from a lake-table SELECT: schema inferred, data landed
    engine.sql(
        "CREATE TABLE demo.default.pii_copy AS "
        "SELECT case_id, email_address FROM demo.default.pii_data "
        "WHERE case_id != 'case-3'"
    )
    t = engine.table("default.pii_copy")
    assert [f.name for f in t.schema().fields] == ["case_id", "email_address"]
    assert t.read().count() == 2

    # INSERT INTO ... SELECT appends through the same rewrite machinery,
    # aligning columns by name (source order shuffled on purpose)
    engine.sql(
        "INSERT INTO demo.default.pii_copy "
        "SELECT email_address, case_id FROM demo.default.pii_data "
        "WHERE case_id = 'case-3'"
    )
    rows = {
        r["case_id"]: r["email_address"]
        for r in engine.sql("SELECT * FROM demo.default.pii_copy").collect()
    }
    assert rows == {
        "case-1": "alice@example.com",
        "case-2": "bob@example.com",
        "case-3": "cara@example.com",
    }
    # the CTAS table is a real lake table: snapshots + time travel work
    hist = engine.sql("SELECT * FROM demo.default.pii_copy.history").count()
    assert hist == 2

    # an omitted column is allowed — it reads back NULL, matching the
    # column-list VALUES form (round-9 advisor finding: the two INSERT
    # surfaces used to disagree on which columns may be omitted)
    engine.sql(
        "INSERT INTO demo.default.pii_copy SELECT case_id FROM demo.default.pii_data"
    )
    nulls = engine.sql(
        "SELECT count(*) AS n FROM demo.default.pii_copy WHERE email_address IS NULL"
    ).collect()[0]["n"]
    assert nulls == 3


def test_ctas_partitioned(engine, spark):
    engine.sql(
        "CREATE TABLE demo.default.pii_part PARTITIONED BY (case_id) AS "
        "SELECT case_id, update_date FROM demo.default.pii_data"
    )
    t = engine.table("default.pii_part")
    assert t.metadata.partition_by == ["case_id"]
    assert t.read().count() == 3


def test_show_and_describe_statements(engine):
    tbls = {
        (r["namespace"], r["tableName"]) for r in engine.sql("SHOW TABLES").collect()
    }
    assert ("default", "pii_data") in tbls
    assert engine.sql("SHOW TABLES IN demo.default").count() == len(
        [t for t in tbls if t[0] == "default"]
    )

    desc = {r["col_name"]: r["data_type"] for r in engine.sql("DESCRIBE TABLE demo.default.pii_data").collect()}
    assert desc["case_id"] == "string"
    assert desc["update_date"] == "date"

    props = {r["key"]: r["value"] for r in engine.sql("SHOW TBLPROPERTIES demo.default.pii_data").collect()}
    assert props["write.delete.mode"] == "merge-on-read"


def test_select_caches_metadata_until_commit(spark, tmp_path, monkeypatch):
    """Round-5 brief item 3: N facade SELECTs against an unchanged table
    parse its metadata ONCE (staleness probed by one directory listing,
    TableMetadata.latest_version) and compute its scan estimate once per
    distinct predicate; any commit invalidates both caches."""
    from demo_iceberg_permanent_delete_spark.lake import metadata as md
    from demo_iceberg_permanent_delete_spark.lake import planner as pl

    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE IF NOT EXISTS default")
    eng.sql("CREATE TABLE default.cachet (k bigint, v bigint) USING iceberg")
    eng.table("default.cachet").insert(
        spark.range(100).selectExpr("id AS k", "id AS v")
    )

    loads = {"n": 0}
    real_load = md.TableMetadata.load.__func__

    def spy_load(cls, location):
        loads["n"] += 1
        return real_load(cls, location)

    monkeypatch.setattr(
        md.TableMetadata, "load", classmethod(spy_load)
    )
    estimates = {"n": 0}
    real_est = pl.scan_estimate

    def spy_est(table, predicate=None):
        estimates["n"] += 1
        return real_est(table, predicate)

    monkeypatch.setattr(pl, "scan_estimate", spy_est)

    # unfiltered count(*) takes the metadata-aggregate fast path: ONE
    # load through the same version-checked cache, NO scan estimate
    # (there is no scan)
    for _ in range(4):
        assert eng.sql("SELECT count(*) AS n FROM default.cachet").collect()[
            0
        ]["n"] == 100
    assert loads["n"] == 1, f"expected 1 metadata load, saw {loads['n']}"
    assert estimates["n"] == 0, estimates["n"]

    # a filtered count takes the general path: one estimate per distinct
    # predicate, still no metadata reload
    eng.sql("SELECT count(*) AS n FROM default.cachet WHERE k < 10").collect()
    eng.sql("SELECT count(*) AS n FROM default.cachet WHERE k < 10").collect()
    assert loads["n"] == 1
    assert estimates["n"] == 1

    # a commit bumps the on-disk version → both caches invalidate
    eng.sql("INSERT INTO default.cachet VALUES (200, 200)")
    row = eng.sql(
        "SELECT count(*) AS n FROM default.cachet"
    ).collect()[0]
    assert row["n"] == 101
    assert loads["n"] >= 2, "commit must invalidate the metadata cache"
    eng.sql("SELECT count(*) AS n FROM default.cachet WHERE k < 10").collect()
    assert estimates["n"] >= 2, "commit must invalidate the estimate cache"


def test_drop_purge_recreate_same_name_not_served_from_cache(spark, tmp_path):
    """Review finding (round 5): DROP PURGE + CREATE of the same name
    reuses the deterministic location and can reach the same metadata
    version — the SELECT cache must not serve the dropped table's
    DataFrame (identity is pinned by the metadata file's inode/mtime)."""
    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE IF NOT EXISTS default")
    eng.sql("CREATE TABLE default.reborn (a bigint) USING iceberg")
    eng.table("default.reborn").insert(spark.range(5).selectExpr("id AS a"))
    assert eng.sql("SELECT count(*) AS n FROM default.reborn").collect()[0][
        "n"
    ] == 5

    eng.sql("DROP TABLE default.reborn PURGE")
    eng.sql("CREATE TABLE default.reborn (b string) USING iceberg")
    eng.table("default.reborn").insert(
        spark.createDataFrame([("x",), ("y",)], "b string")
    )
    df = eng.sql("SELECT b FROM default.reborn")
    assert df.columns == ["b"]
    assert {r["b"] for r in df.collect()} == {"x", "y"}


def _days_table(spark, tmp_path):
    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE IF NOT EXISTS default")
    eng.sql(
        "CREATE TABLE default.days (day string, v bigint) USING iceberg"
    )
    t = eng.table("default.days")
    for d in range(6):
        t.insert(
            spark.range(50).selectExpr(f"'d{d}' AS day", "id AS v")
        )
    return eng, t


def test_select_registers_manifest_pruned_scan(spark, tmp_path, monkeypatch):
    """A facade SELECT whose WHERE provably scopes one table's scan
    registers the manifest-PRUNED read (Iceberg scan planning), so files
    whose min/max can't match are never opened — visible as fewer input
    files — while results stay identical to the full-scan equivalent.
    Budget 0: the executor scan, whose plan lists its input files (the
    driver-read twin is the next test)."""
    monkeypatch.setattr(datafiles, "DRIVER_MAX_ROWS", 0)
    eng, t = _days_table(spark, tmp_path)

    filtered = eng.sql(
        "SELECT sum(v) AS s FROM default.days WHERE day = 'd2'"
    )
    n_filtered = len(
        {f for f in filtered.inputFiles() if f.endswith(".parquet")}
    )
    full = eng.sql("SELECT sum(v) AS s FROM default.days")
    n_full = len({f for f in full.inputFiles() if f.endswith(".parquet")})
    assert n_filtered < n_full, (n_filtered, n_full)
    assert n_filtered >= 1
    assert filtered.collect()[0]["s"] == sum(range(50))
    assert full.collect()[0]["s"] == 6 * sum(range(50))

    # MOR deletes still apply on the pruned scan
    t.set_properties({"write.delete.mode": "merge-on-read"})
    t.delete("day = 'd2' AND v < 10")
    filtered2 = eng.sql(
        "SELECT sum(v) AS s FROM default.days WHERE day = 'd2'"
    )
    assert filtered2.collect()[0]["s"] == sum(range(10, 50))


def test_select_driver_scan_reads_candidate_files(spark, tmp_path, monkeypatch):
    """Within the driver budget the scoped SELECT's pruned scan is read on
    the driver by the shared per-file reader: it is handed exactly the
    candidate file, the statement runs no Spark job, and MOR deletes
    still apply."""
    eng, t = _days_table(spark, tmp_path)
    read = []
    real = lake_datasource.read_entries_arrow

    def spy(meta, data_entries, *args, **kwargs):
        read.append([e.file_path for e in data_entries])
        return real(meta, data_entries, *args, **kwargs)

    monkeypatch.setattr(lake_datasource, "read_entries_arrow", spy)
    q = "SELECT v FROM default.days WHERE day = 'd2'"
    want = [
        e.file_path
        for e in t.metadata.current_snapshot().data_files()
        if e.min_values["day"] == "d2"
    ]
    assert sorted(r["v"] for r in jobless(spark, lambda: eng.sql(q).collect())) == list(
        range(50)
    )
    assert read == [want]
    t.set_properties({"write.delete.mode": "merge-on-read"})
    t.delete("day = 'd2' AND v < 10")
    assert sorted(r["v"] for r in jobless(spark, lambda: eng.sql(q).collect())) == list(
        range(10, 50)
    )
    assert read[-1] == want


def test_metadata_views_register_once_per_version(spark, tmp_path, monkeypatch):
    """Metadata views pay a driver-side build (manifest walk +
    createDataFrame) per registration; consecutive statements against an
    unchanged table reuse the registered view, and a commit re-registers."""
    from demo_iceberg_permanent_delete_spark.lake.table import LakeTable

    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE IF NOT EXISTS default")
    eng.sql("CREATE TABLE default.mv (id bigint) USING iceberg")
    eng.table("default.mv").insert(spark.range(4).selectExpr("id"))

    calls = {"n": 0}
    real = LakeTable.register_metadata_views

    def spy(self, prefix=None, views=None):
        calls["n"] += 1
        return real(self, prefix=prefix, views=views)

    monkeypatch.setattr(LakeTable, "register_metadata_views", spy)
    q = "SELECT count(*) AS n FROM demo.default.mv.files"
    assert eng.sql(q).collect()[0]["n"] >= 1
    eng.sql(q).collect()
    eng.sql(q).collect()
    assert calls["n"] == 1, calls["n"]
    eng.sql("INSERT INTO default.mv VALUES (99)")
    files_after = eng.sql(q).collect()[0]["n"]
    assert calls["n"] == 2, calls["n"]
    assert files_after >= 2


def test_nondeterministic_where_is_evaluated_exactly_once(spark, tmp_path):
    """Review finding (round 5, second pass): registering t.scan(pred)
    WITH its final row filter would draw a non-deterministic predicate
    (rand()) twice — once inside the view, once in the statement's WHERE
    — halving the expected selectivity. The facade registers the
    prune-only superset, so rand() < 0.5 over 4000 rows must keep ~2000
    (double application would keep ~1000; P(>1600) under double
    application is astronomically small)."""
    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE IF NOT EXISTS default")
    eng.sql("CREATE TABLE default.nd (v bigint) USING iceberg")
    eng.table("default.nd").insert(spark.range(4000).selectExpr("id AS v"))
    n = eng.sql(
        "SELECT count(*) AS n FROM default.nd WHERE rand() < 0.5"
    ).collect()[0]["n"]
    assert 1600 < n < 2400, n


def test_scan_prune_only_returns_candidate_superset(spark, tmp_path):
    """scan(pred, prune_only=True) prunes files but never filters rows:
    rows from surviving files that don't match the predicate remain."""
    from demo_iceberg_permanent_delete_spark.lake import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("default")
    t = cat.create_table("default.po", "day string, v bigint")
    for d in range(3):
        # one file per day so the v-range stats never sub-split a day
        t.insert(
            spark.range(10).coalesce(1).selectExpr(f"'d{d}' AS day", "id AS v")
        )
    pruned = t.scan("day = 'd1' AND v < 5", prune_only=True)
    # file-level: only d1's file survives; row-level: v >= 5 rows remain
    assert pruned.count() == 10
    assert {r["day"] for r in pruned.collect()} == {"d1"}
    filtered = t.scan("day = 'd1' AND v < 5")
    assert filtered.count() == 5


def test_call_ancestors_of_and_register_table(spark, tmp_path):
    """Iceberg's system.ancestors_of (ancestry chain, newest first) and
    register_table (attach an existing table's metadata to the catalog
    without copying anything)."""
    from demo_iceberg_permanent_delete_spark.lake.sql import LakeEngine

    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE IF NOT EXISTS demo.default")
    eng.sql("CREATE TABLE demo.default.anc (k BIGINT) USING iceberg")
    for k in (1, 2, 3):
        eng.sql(f"INSERT INTO demo.default.anc VALUES ({k})")
    t = eng.table("demo.default.anc")
    ids = [s.snapshot_id for s in t.metadata.snapshots]
    rows = eng.sql("CALL demo.system.ancestors_of('demo.default.anc')").collect()
    assert [r["snapshot_id"] for r in rows] == list(reversed(ids))
    assert all(r["timestamp"] is not None for r in rows)
    # pinned start: ancestry of the SECOND snapshot
    rows = eng.sql(
        f"CALL demo.system.ancestors_of('demo.default.anc', {ids[1]})"
    ).collect()
    assert [r["snapshot_id"] for r in rows] == [ids[1], ids[0]]

    # register the same table's metadata under a NEW catalog name: no
    # copy, instantly queryable, snapshots intact
    row = eng.sql(
        "CALL demo.system.register_table('demo.default.anc2', "
        f"'{t.metadata.location}')"
    ).collect()[0]
    assert row["current_snapshot_id"] == t.metadata.current_snapshot_id
    assert row["total_records_count"] == 3
    assert eng.sql("SELECT k FROM demo.default.anc2").count() == 3
    import pytest as _pytest

    with _pytest.raises(Exception, match="already exists"):
        eng.sql(
            "CALL demo.system.register_table('demo.default.anc2', "
            f"'{t.metadata.location}')"
        )


def test_call_snapshot_zero_copy_fork(spark, tmp_path):
    """Iceberg's snapshot procedure: a zero-copy fork referencing the
    source's files in place; commits diverge; gc.enabled=false refuses
    file-deleting maintenance and DROP PURGE on the fork; lineage and
    equality-delete ordering carry across."""
    import datetime as dt

    import pytest as _pytest

    from demo_iceberg_permanent_delete_spark.lake.sql import LakeEngine

    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE IF NOT EXISTS demo.default")
    eng.sql("CREATE TABLE demo.default.src (k BIGINT, v STRING) USING iceberg")
    eng.sql("INSERT INTO demo.default.src VALUES (1, 'a'), (2, 'b')")
    src = eng.table("demo.default.src")
    src.equality_delete(spark.createDataFrame([(1,)], "k bigint"))

    row = eng.sql(
        "CALL demo.system.snapshot('demo.default.src', 'demo.default.fork')"
    ).collect()[0]
    assert row["imported_files_count"] >= 2  # data + eq-delete entries
    fork = eng.table("demo.default.fork")
    # same visible rows (eq-delete ordering carried via sequence numbers)
    assert {r["k"] for r in fork.read().collect()} == {2}
    # no bytes copied: the fork's entries point into the source's dir
    assert all(
        e.file_path.startswith(src.metadata.location)
        for e in fork.metadata.current_snapshot().manifest
    )
    # divergence: a write to the fork doesn't touch the source
    eng.sql("INSERT INTO demo.default.fork VALUES (9, 'z')")
    assert {r["k"] for r in eng.table("demo.default.fork").read().collect()} == {2, 9}
    assert {r["k"] for r in eng.table("demo.default.src").read().collect()} == {2}
    # lineage ids stay unique across the fork boundary
    ids = [
        r["_row_id"]
        for r in eng.table("demo.default.fork").read(lineage=True).collect()
    ]
    assert len(ids) == len(set(ids))

    # gc.enabled=false: file-deleting maintenance refused on the fork
    fork.refresh()
    assert fork.properties["gc.enabled"] == "false"
    with _pytest.raises(ValueError, match="gc.enabled"):
        fork.expire_snapshots(older_than=dt.datetime(2100, 1, 1))
    with _pytest.raises(ValueError, match="gc.enabled"):
        fork.remove_orphan_files()
    with _pytest.raises(ValueError, match="gc.enabled"):
        eng.catalog.drop_table("default.fork", purge=True, if_exists=False)
    # plain drop (no purge) is fine, and the source's files survive
    eng.catalog.drop_table("default.fork", if_exists=False)
    assert {r["k"] for r in eng.table("demo.default.src").read().collect()} == {2}


def test_catalog_views_create_replace_drop(spark, tmp_path):
    """Iceberg catalog views: CREATE [OR REPLACE] VIEW stores versioned
    SQL in the registry; SELECTs expand it (views on views compose);
    DROP VIEW / SHOW VIEWS; a broken definition fails at CREATE time."""
    import pytest as _pytest

    from demo_iceberg_permanent_delete_spark.lake.sql import LakeEngine

    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE IF NOT EXISTS demo.default")
    eng.sql("CREATE TABLE demo.default.base (k BIGINT, v STRING) USING iceberg")
    eng.sql("INSERT INTO demo.default.base VALUES (1, 'a'), (2, 'b'), (3, 'c')")

    eng.sql(
        "CREATE VIEW demo.default.small AS "
        "SELECT k, v FROM demo.default.base WHERE k < 3"
    )
    assert eng.sql("SELECT * FROM demo.default.small").count() == 2
    # view on view
    eng.sql(
        "CREATE VIEW demo.default.tiny AS "
        "SELECT k FROM demo.default.small WHERE k = 1"
    )
    assert [r["k"] for r in eng.sql("SELECT * FROM demo.default.tiny").collect()] == [1]
    # a view reflects NEW table data at query time (stored SQL, not rows)
    eng.sql("INSERT INTO demo.default.base VALUES (0, 'z')")
    assert eng.sql("SELECT * FROM demo.default.small").count() == 3

    # REPLACE bumps the version history
    eng.sql(
        "CREATE OR REPLACE VIEW demo.default.small AS "
        "SELECT k, v FROM demo.default.base WHERE k >= 3"
    )
    assert eng.sql("SELECT * FROM demo.default.small").count() == 1
    entry = eng.catalog.view_entry("default.small")
    assert len(entry["versions"]) == 2

    assert eng.sql("SHOW VIEWS").count() == 2
    assert [r["view_name"] for r in eng.sql("SHOW VIEWS IN demo.default").collect()] == [
        "default.small",
        "default.tiny",
    ]
    eng.sql("DROP VIEW demo.default.tiny")
    assert eng.sql("SHOW VIEWS").count() == 1

    # duplicate without REPLACE, broken body, name collisions
    with _pytest.raises(Exception, match="already exists"):
        eng.sql(
            "CREATE VIEW demo.default.small AS SELECT 1 AS one"
        )
    with _pytest.raises(Exception):
        eng.sql(
            "CREATE VIEW demo.default.bad AS SELECT nope FROM demo.default.base"
        )
    assert eng.catalog.view_entry("default.bad") is None
    with _pytest.raises(Exception, match="is a table"):
        eng.sql("CREATE VIEW demo.default.base AS SELECT 1 AS one")


def test_call_migrate_bare_parquet_directory(spark, tmp_path):
    """migrate: infer the schema from a bare parquet directory, create
    the table, and register the files in place — zero copy; a failed
    registration leaves no phantom table behind."""
    import os as _os

    import pytest as _pytest

    from tests.conftest import one_part
    from demo_iceberg_permanent_delete_spark.lake.sql import LakeEngine

    src = str(tmp_path / "raw")
    one_part(
        spark, [(1, "a"), (2, "b")], "id bigint, v string"
    ).write.mode("overwrite").parquet(src)

    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE IF NOT EXISTS demo.default")
    row = eng.sql(
        f"CALL demo.system.migrate('{src}', 'demo.default.migrated')"
    ).collect()[0]
    assert row["migrated_files_count"] >= 1
    got = eng.sql("SELECT id, v FROM demo.default.migrated").collect()
    assert sorted((r["id"], r["v"]) for r in got) == [(1, "a"), (2, "b")]
    # zero copy: the registered entries point at the source directory
    t = eng.table("demo.default.migrated")
    assert all(
        e.file_path.startswith(src)
        for e in t.metadata.current_snapshot().data_files()
    )
    # failure path: empty dir → add_files raises → no phantom table
    empty = str(tmp_path / "empty")
    _os.makedirs(empty)
    with _pytest.raises(Exception):
        eng.catalog.migrate("default.phantom", empty)
    assert "default.phantom" not in eng.catalog.list_tables()


def test_review_fixes_purge_twin_shadowing_main_and_literals(spark, tmp_path):
    """Round-9 review findings: (a) PURGE on a register_table twin is
    refused (shared location — rmtree would destroy the original);
    (b) a table cannot be created under a view's name; (c) 'main'
    resolves everywhere a ref name is accepted; (d) ref-suffix text
    inside string literals is never rewritten or ref-checked."""
    import pytest as _pytest

    from demo_iceberg_permanent_delete_spark.lake.sql import LakeEngine

    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE IF NOT EXISTS demo.default")
    eng.sql("CREATE TABLE demo.default.orig (k BIGINT) USING iceberg")
    eng.sql("INSERT INTO demo.default.orig VALUES (1)")
    t = eng.table("demo.default.orig")

    # (a) purge refused on either name while the location is shared
    eng.catalog.register_table("default.twin", t.metadata.location)
    with _pytest.raises(ValueError, match="location shared"):
        eng.catalog.drop_table("default.twin", purge=True, if_exists=False)
    with _pytest.raises(ValueError, match="location shared"):
        eng.catalog.drop_table("default.orig", purge=True, if_exists=False)
    eng.catalog.drop_table("default.twin", if_exists=False)  # plain drop ok
    assert eng.sql("SELECT * FROM demo.default.orig").count() == 1

    # (b) view-name collision refused at CREATE TABLE (both directions)
    eng.sql("CREATE VIEW demo.default.vw AS SELECT 1 AS one")
    with _pytest.raises(Exception, match="is a view"):
        eng.sql("CREATE TABLE demo.default.vw (k BIGINT) USING iceberg")

    # (c) 'main' accepted as a branch name on every surface
    assert (
        eng.sql("SELECT * FROM demo.default.orig.branch_main").count() == 1
    )
    from demo_iceberg_permanent_delete_spark.sources.lake_datasource import (
        register,
    )

    register(spark)
    assert (
        spark.read.format("lakehouse")
        .option("location", t.metadata.location)
        .option("branch", "main")
        .load()
        .count()
        == 1
    )

    # (d) ref-suffix text inside a literal is data, not grammar
    got = eng.sql(
        "SELECT k FROM demo.default.orig "
        "WHERE 'demo.default.orig.tag_v9' != ''"
    )
    assert got.count() == 1


def test_review3_purge_fork_source_literals_and_empty_main(spark, tmp_path):
    """Third review pass: (a) purging a fork's SOURCE is refused while
    the fork lives (its entries point INSIDE the source's directory);
    (b) travel-clause text inside a string literal is data, not grammar;
    (c) branch_main on an empty table reads empty instead of raising —
    matching the DataSource branch option."""
    import pytest as _pytest

    from demo_iceberg_permanent_delete_spark.lake.sql import LakeEngine

    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE IF NOT EXISTS demo.default")
    eng.sql("CREATE TABLE demo.default.src (k BIGINT) USING iceberg")
    eng.sql("INSERT INTO demo.default.src VALUES (1)")
    eng.sql("CALL demo.system.snapshot('demo.default.src', 'demo.default.fk')")

    # (a) source purge refused while the fork references its files
    with _pytest.raises(ValueError, match="zero-copy fork"):
        eng.catalog.drop_table("default.src", purge=True, if_exists=False)
    eng.catalog.drop_table("default.fk", if_exists=False)  # fork gone →
    eng.catalog.drop_table("default.src", purge=True, if_exists=False)

    # (b) a literal containing travel grammar is neither resolved nor
    # mangled (the clause names a snapshot that does not exist)
    eng.sql("CREATE TABLE demo.default.lit (note STRING) USING iceberg")
    eng.sql("INSERT INTO demo.default.lit VALUES ('x')")
    got = eng.sql(
        "SELECT note FROM demo.default.lit "
        "WHERE note != 'demo.default.lit VERSION AS OF 999'"
    ).collect()
    assert [r["note"] for r in got] == ["x"]

    # (c) branch_main on an empty table
    eng.sql("CREATE TABLE demo.default.emp (k BIGINT) USING iceberg")
    assert eng.sql("SELECT * FROM demo.default.emp.branch_main").count() == 0


def test_truncate_and_show_create_table(spark, tmp_path):
    """TRUNCATE TABLE is one metadata-only commit (no file deletion —
    time travel still reads the pre-truncate state until expiry);
    SHOW CREATE TABLE reconstructs schema + partition spec + properties."""
    from demo_iceberg_permanent_delete_spark.lake.sql import LakeEngine

    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE IF NOT EXISTS demo.default")
    eng.sql(
        "CREATE TABLE demo.default.tr (k BIGINT, d DATE) USING iceberg "
        "PARTITIONED BY (days(d)) "
        "TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')"
    )
    eng.sql("INSERT INTO demo.default.tr VALUES (1, DATE '2024-01-01')")
    t = eng.table("demo.default.tr")
    pre = t.metadata.current_snapshot_id
    n_files = len(t.metadata.current_snapshot().data_files())
    assert n_files >= 1

    row = eng.sql("TRUNCATE TABLE demo.default.tr").collect()[0]
    assert row["status"] == "truncated"
    t.refresh()
    assert eng.sql("SELECT * FROM demo.default.tr").count() == 0
    # metadata-only: the old files still exist and time travel reads them
    assert t.read(snapshot_id=pre).count() == 1
    assert not t.metadata.current_snapshot().manifest
    # the table keeps working after truncate
    eng.sql("INSERT INTO demo.default.tr VALUES (2, DATE '2024-01-02')")
    assert eng.sql("SELECT k FROM demo.default.tr").collect()[0]["k"] == 2

    stmt = eng.sql("SHOW CREATE TABLE demo.default.tr").collect()[0][
        "createtab_stmt"
    ]
    assert "CREATE TABLE demo.default.tr" in stmt
    assert "k BIGINT" in stmt and "d DATE" in stmt
    assert "PARTITIONED BY (days(d))" in stmt
    assert "'write.delete.mode' = 'merge-on-read'" in stmt


def test_show_create_view_and_view_versions(spark, tmp_path):
    """SHOW CREATE VIEW reconstructs runnable DDL; SHOW VIEW VERSIONS
    surfaces X66's stored history — REPLACE bumps it, current flagged
    last (round-9 judge gap: the history had no query surface)."""
    import pytest as _pytest

    from demo_iceberg_permanent_delete_spark.lake.sql import LakeEngine

    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE demo.default")
    eng.sql("CREATE TABLE demo.default.base (k BIGINT, v STRING) USING iceberg")
    eng.sql("INSERT INTO demo.default.base VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    eng.sql(
        "CREATE VIEW demo.default.small AS "
        "SELECT k, v FROM demo.default.base WHERE k < 3"
    )
    ddl = eng.sql("SHOW CREATE VIEW demo.default.small").collect()[0][
        "createtab_stmt"
    ]
    assert ddl.startswith("CREATE VIEW demo.default.small AS")
    # reconstruction round-trips: replay the DDL (renamed) and the copy
    # answers the same rows
    eng.sql(ddl.replace("demo.default.small", "demo.default.small2", 1))
    a = sorted(tuple(r) for r in eng.sql("SELECT * FROM demo.default.small").collect())
    b = sorted(tuple(r) for r in eng.sql("SELECT * FROM demo.default.small2").collect())
    assert a == b and len(a) == 2

    vers = eng.sql("SHOW VIEW VERSIONS demo.default.small").collect()
    assert [r["version"] for r in vers] == [1]
    assert vers[0]["is_current"] and "k < 3" in vers[0]["sql"]

    eng.sql(
        "CREATE OR REPLACE VIEW demo.default.small AS "
        "SELECT k, v FROM demo.default.base WHERE k >= 3"
    )
    vers = eng.sql("SHOW VIEW VERSIONS demo.default.small").collect()
    assert [(r["version"], r["is_current"]) for r in vers] == [
        (1, False),
        (2, True),
    ]
    assert "k < 3" in vers[0]["sql"] and "k >= 3" in vers[1]["sql"]
    # SHOW CREATE VIEW reflects the replacement
    ddl2 = eng.sql("SHOW CREATE VIEW demo.default.small").collect()[0][0]
    assert "k >= 3" in ddl2

    with _pytest.raises(Exception, match="not found"):
        eng.sql("SHOW CREATE VIEW demo.default.nope")
    with _pytest.raises(Exception, match="not found"):
        eng.sql("SHOW VIEW VERSIONS demo.default.nope")


def test_wap_id_staging_and_publish_changes(spark, tmp_path):
    """Iceberg's branch-less WAP: with spark.wap.id set, INSERTs stage
    unpublished (wap.id stamped in the snapshot summary, no pointer
    move); CALL publish_changes cherry-picks by id. spark.wap.branch
    routes INSERTs to a branch. Both confs together are rejected."""
    import pytest as _pytest

    from demo_iceberg_permanent_delete_spark.lake.sql import LakeEngine

    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE demo.default")
    eng.sql("CREATE TABLE demo.default.w (k BIGINT, v STRING) USING iceberg")
    eng.sql("INSERT INTO demo.default.w VALUES (1, 'a')")
    try:
        spark.conf.set("spark.wap.id", "audit-123")
        eng.sql("INSERT INTO demo.default.w VALUES (2, 'b')")
        # staged: invisible to reads, stamped in the summary
        assert eng.sql("SELECT * FROM demo.default.w").count() == 1
        t = eng.table("default.w")
        staged = [
            s for s in t.metadata.snapshots if s.summary.get("wap.id") == "audit-123"
        ]
        assert len(staged) == 1
        assert t.metadata.current_snapshot_id != staged[0].snapshot_id
        # both confs together rejected (Iceberg's SparkWriteConf rule)
        spark.conf.set("spark.wap.branch", "nope")
        with _pytest.raises(ValueError, match="both"):
            eng.sql("INSERT INTO demo.default.w VALUES (9, 'x')")
        spark.conf.unset("spark.wap.branch")
        spark.conf.unset("spark.wap.id")
        # publish: cherry-pick by wap id
        got = eng.sql(
            "CALL demo.system.publish_changes(table => 'default.w', wap_id => 'audit-123')"
        ).collect()[0]
        assert got["source_snapshot_id"] == staged[0].snapshot_id
        rows = {r["k"]: r["v"] for r in eng.sql("SELECT * FROM demo.default.w").collect()}
        assert rows == {1: "a", 2: "b"}
        with _pytest.raises(ValueError, match="no snapshot"):
            eng.sql("CALL demo.system.publish_changes('default.w', 'missing')")
        # spark.wap.branch routes the INSERT onto the branch
        eng.sql("ALTER TABLE default.w CREATE BRANCH audit")
        spark.conf.set("spark.wap.branch", "audit")
        eng.sql("INSERT INTO demo.default.w VALUES (3, 'c')")
        spark.conf.unset("spark.wap.branch")
        assert eng.sql("SELECT * FROM demo.default.w").count() == 2
        assert eng.sql("SELECT * FROM demo.default.w.branch_audit").count() == 3
    finally:
        for c in ("spark.wap.id", "spark.wap.branch"):
            try:
                spark.conf.unset(c)
            except Exception:
                pass


def test_call_branch_scoped_maintenance(spark, tmp_path):
    """CALL rewrite_data_files/compact with branch => compacts the branch
    head (replace commit on the branch, ref advanced, main untouched)."""
    from demo_iceberg_permanent_delete_spark.lake.sql import LakeEngine

    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE demo.default")
    eng.sql("CREATE TABLE demo.default.bm (k BIGINT, v STRING) USING iceberg")
    eng.sql("INSERT INTO demo.default.bm VALUES (1, 'a'), (2, 'b')")
    eng.sql("ALTER TABLE default.bm CREATE BRANCH ingest")
    t = eng.table("default.bm")
    # accumulate on the branch: two upsert-eq commits
    from tests.conftest import one_part

    t.upsert(one_part(spark, [(2, "B"), (3, "c")], "k bigint, v string"),
             on=["k"], branch="ingest")
    t = eng.table("default.bm")
    t.upsert(one_part(spark, [(3, "C")], "k bigint, v string"),
             on=["k"], branch="ingest")
    main_head = eng.table("default.bm").metadata.current_snapshot_id
    got = eng.sql(
        "CALL demo.system.rewrite_data_files(table => 'default.bm', branch => 'ingest')"
    ).collect()[0]
    assert got["rewritten_data_files_count"] >= 1
    t = eng.table("default.bm")
    assert t.metadata.current_snapshot_id == main_head, "main untouched"
    head = t.metadata.snapshot_by_id(t.resolve_ref("ingest"))
    assert head.operation == "replace"
    assert not head.delete_files(), "eq-deletes folded on the branch"
    # branch content correct after the fold; publishable
    rows = {r["k"]: r["v"] for r in t.read(ref="ingest").collect()}
    assert rows == {1: "a", 2: "B", 3: "C"}
    t.fast_forward("main", t.resolve_ref("ingest"))
    assert {r["k"]: r["v"] for r in t.read().collect()} == rows


def test_branch_dml_suffix_and_conf(spark, tmp_path):
    """Iceberg branch DML: INSERT/UPDATE/DELETE against t.branch_<name>
    target the branch (plan against its head, only the ref advances);
    spark.wap.branch routes bare-name DML the same way; wap.id staging
    of a DELETE commits UNPUBLISHED (Iceberg stageOnly — round-10 judge
    item lifted the INSERT-only refusal); publish via fast_forward."""
    from demo_iceberg_permanent_delete_spark.lake.sql import LakeEngine

    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE demo.default")
    eng.sql(
        "CREATE TABLE demo.default.d (k BIGINT, v STRING) USING iceberg "
        "TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')"
    )
    eng.sql("INSERT INTO demo.default.d VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    eng.sql("ALTER TABLE default.d CREATE BRANCH audit")
    main_head = eng.table("default.d").metadata.current_snapshot_id

    # suffix-targeted DML: all three statements stage on the branch
    eng.sql("INSERT INTO demo.default.d.branch_audit VALUES (4, 'd')")
    eng.sql("UPDATE default.d.branch_audit SET v = 'B' WHERE k = 2")
    eng.sql("DELETE FROM default.d.branch_audit WHERE k = 1")
    t = eng.table("default.d")
    assert t.metadata.current_snapshot_id == main_head, "main untouched"
    assert {r["k"]: r["v"] for r in t.read().collect()} == {1: "a", 2: "b", 3: "c"}
    branch_rows = {r["k"]: r["v"] for r in t.read(ref="audit").collect()}
    assert branch_rows == {2: "B", 3: "c", 4: "d"}
    # MOR on the branch: the delete/update wrote delete files there
    head = t.metadata.snapshot_by_id(t.resolve_ref("audit"))
    assert head.delete_files(), "branch MOR DML must carry delete files"

    # conf-routed DML (bare names under spark.wap.branch)
    try:
        spark.conf.set("spark.wap.branch", "audit")
        eng.sql("DELETE FROM demo.default.d WHERE k = 3")
        eng.sql("UPDATE demo.default.d SET v = 'D' WHERE k = 4")
    finally:
        spark.conf.unset("spark.wap.branch")
    t = eng.table("default.d")
    assert t.read().count() == 3, "main still untouched"
    assert {r["k"]: r["v"] for r in t.read(ref="audit").collect()} == {
        2: "B",
        4: "D",
    }

    # wap.id now STAGES a DELETE (unpublished, invisible on main, id
    # stamped in the summary) instead of refusing it
    try:
        spark.conf.set("spark.wap.id", "z1")
        eng.sql("DELETE FROM demo.default.d WHERE k = 2")
    finally:
        spark.conf.unset("spark.wap.id")
    t = eng.table("default.d")
    assert t.read().count() == 3, "staged delete invisible on main"
    staged = [s for s in t.metadata.snapshots if s.summary.get("wap.id") == "z1"]
    assert len(staged) == 1 and staged[0].delete_files()

    # publish the audited state
    t.fast_forward("main", t.resolve_ref("audit"))
    assert {r["k"]: r["v"] for r in t.read().collect()} == {2: "B", 4: "D"}


def test_wap_review_guards_and_branch_main(spark, tmp_path):
    """Review fixes: MERGE and TRUNCATE must not silently bypass the WAP
    session confs; branch 'main' is the implicit main branch for writes
    (t.branch_main / spark.wap.branch='main' target the table itself);
    INSERT SELECT rejects columns the table doesn't have."""
    import pytest as _pytest

    from demo_iceberg_permanent_delete_spark.lake.sql import LakeEngine

    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE demo.default")
    eng.sql("CREATE TABLE demo.default.g (k BIGINT, v STRING) USING iceberg")
    eng.sql("INSERT INTO demo.default.g VALUES (1, 'a')")

    # branch_main writes ARE main writes (read path already treated them so)
    eng.sql("INSERT INTO demo.default.g.branch_main VALUES (2, 'b')")
    assert eng.sql("SELECT * FROM demo.default.g").count() == 2
    try:
        spark.conf.set("spark.wap.branch", "main")
        eng.sql("DELETE FROM demo.default.g WHERE k = 2")
    finally:
        spark.conf.unset("spark.wap.branch")
    assert eng.sql("SELECT * FROM demo.default.g").count() == 1
    t = eng.table("default.g")
    t.truncate(branch="main")
    assert eng.sql("SELECT * FROM demo.default.g").count() == 0
    eng.sql("INSERT INTO demo.default.g VALUES (1, 'a'), (2, 'b')")

    # MERGE routes to the conf branch like every other DML (it plans the
    # read-modify-write against the branch head)
    eng.sql("ALTER TABLE default.g CREATE BRANCH audit")
    try:
        spark.conf.set("spark.wap.branch", "audit")
        eng.sql(
            "MERGE INTO demo.default.g t USING (SELECT 1 AS k, 'z' AS v) s "
            "ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v"
        )
    finally:
        spark.conf.unset("spark.wap.branch")
    t = eng.table("default.g")
    assert {r["k"]: r["v"] for r in t.read().collect()} == {1: "a", 2: "b"}
    assert {r["k"]: r["v"] for r in t.read(ref="audit").collect()} == {
        1: "z",
        2: "b",
    }
    eng.sql("ALTER TABLE default.g DROP BRANCH audit")
    # wap.id stages TRUNCATE and MERGE too (distinct ids — publish_changes
    # publishes by id): both invisible until cherry-picked
    try:
        spark.conf.set("spark.wap.id", "w9")
        eng.sql("TRUNCATE TABLE demo.default.g")
        spark.conf.set("spark.wap.id", "w10")
        eng.sql(
            "MERGE INTO demo.default.g g USING (SELECT 1 AS k, 'z' AS v) s "
            "ON g.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v"
        )
    finally:
        spark.conf.unset("spark.wap.id")
    assert {r["k"]: r["v"] for r in eng.sql("SELECT * FROM demo.default.g").collect()} == {
        1: "a",
        2: "b",
    }, "both staged writes invisible on main"
    eng.sql("CALL demo.system.publish_changes('default.g', 'w10')")
    assert {r["k"]: r["v"] for r in eng.sql("SELECT * FROM demo.default.g").collect()} == {
        1: "z",
        2: "b",
    }, "published staged MERGE lands; staged TRUNCATE stays unpublished"

    # TRUNCATE of a branch via the suffix: main untouched
    eng.sql("ALTER TABLE default.g CREATE BRANCH b1")
    eng.sql("TRUNCATE TABLE demo.default.g.branch_b1")
    t = eng.table("default.g")
    assert t.read().count() == 2
    assert t.read(ref="b1").count() == 0

    # INSERT SELECT with a column the table doesn't have is a hard error
    with _pytest.raises(ValueError, match="not in the table"):
        eng.sql("INSERT INTO demo.default.g SELECT 1 AS k, 'x' AS nope")


def test_alter_table_rename_to(spark, tmp_path):
    """ALTER TABLE … RENAME TO: a pure registry move (files and metadata
    untouched), new name queryable with history intact, old name gone,
    collisions with tables and views refused, RENAME COLUMN unaffected."""
    import pytest as _pytest

    from demo_iceberg_permanent_delete_spark.lake.sql import LakeEngine

    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE demo.default")
    eng.sql("CREATE TABLE demo.default.a (k BIGINT, v STRING) USING iceberg")
    eng.sql("INSERT INTO demo.default.a VALUES (1, 'x'), (2, 'y')")
    loc_before = eng.table("default.a").metadata.location

    eng.sql("ALTER TABLE demo.default.a RENAME TO demo.default.b")
    t = eng.table("default.b")
    assert t.metadata.location == loc_before, "rename must not move files"
    assert eng.sql("SELECT * FROM demo.default.b").count() == 2
    assert eng.sql("SELECT * FROM demo.default.b.history").count() == 1
    assert "default.a" not in eng.catalog.list_tables()
    with _pytest.raises(Exception, match="not found"):
        eng.catalog.load_table("default.a")

    # collision checks: existing table, existing view, missing namespace
    eng.sql("CREATE TABLE demo.default.c (k BIGINT) USING iceberg")
    with _pytest.raises(Exception, match="already exists"):
        eng.sql("ALTER TABLE demo.default.b RENAME TO demo.default.c")
    eng.sql("CREATE VIEW demo.default.vv AS SELECT 1 AS one")
    with _pytest.raises(Exception, match="is a view"):
        eng.sql("ALTER TABLE demo.default.b RENAME TO demo.default.vv")
    with _pytest.raises(Exception, match="does not exist"):
        eng.sql("ALTER TABLE demo.default.b RENAME TO demo.nope.b")

    # the RENAME COLUMN grammar still routes correctly next to RENAME TO
    eng.sql("ALTER TABLE demo.default.b RENAME COLUMN v TO w")
    assert [f.name for f in eng.table("default.b").schema().fields] == ["k", "w"]


def test_wap_id_stages_all_dml(spark, tmp_path):
    """spark.wap.id stages ANY snapshot-producing DML (Iceberg's stageOnly
    semantics — the INSERT-only refusal was the last WAP asymmetry): a
    GDPR DELETE staged under wap.id is invisible on main while the raw
    data files still hold every row (the audit window the reference's PII
    story is built on), CALL publish_changes lands it — including onto a
    main that DIVERGED since the stage (cherry-pick) — and the
    conf-conflict rules are unchanged."""
    import pytest as _pytest

    from demo_iceberg_permanent_delete_spark.lake.sql import LakeEngine

    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE demo.default")
    eng.sql(
        "CREATE TABLE demo.default.pii (k BIGINT, email STRING) USING iceberg "
        "TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')"
    )
    eng.sql(
        "INSERT INTO demo.default.pii VALUES "
        "(1, 'a@x.io'), (2, 'b@x.io'), (3, 'c@x.io'), (4, 'd@x.io')"
    )
    t = eng.table("default.pii")
    head_before = t.metadata.current_snapshot_id

    # stage the GDPR delete
    try:
        spark.conf.set("spark.wap.id", "gdpr-1")
        eng.sql("DELETE FROM demo.default.pii WHERE k = 1")
    finally:
        spark.conf.unset("spark.wap.id")
    t = eng.table("default.pii")
    assert t.metadata.current_snapshot_id == head_before, "pointer unmoved"
    assert t.read().count() == 4, "staged delete invisible on main"
    staged = [
        s for s in t.metadata.snapshots if s.summary.get("wap.id") == "gdpr-1"
    ]
    assert len(staged) == 1
    assert staged[0].parent_id == head_before
    # the audit: the staged snapshot already reads without the row …
    assert t.read(snapshot_id=staged[0].snapshot_id).count() == 3
    # … while the raw data files physically retain it (MOR: the staged
    # commit added only a delete file)
    data_paths = [e.file_path for e in staged[0].data_files()]
    raw = spark.read.parquet(*data_paths)
    assert raw.filter("k = 1").count() == 1, "raw files keep the PII row"

    # main diverges between stage and publish — publish must cherry-pick
    eng.sql("INSERT INTO demo.default.pii VALUES (5, 'e@x.io')")
    eng.sql("CALL demo.system.publish_changes('default.pii', 'gdpr-1')")
    t = eng.table("default.pii")
    assert sorted(r["k"] for r in t.read().collect()) == [2, 3, 4, 5]

    # staged COW UPDATE, published in order
    eng.sql(
        "ALTER TABLE default.pii SET TBLPROPERTIES "
        "('write.update.mode' = 'copy-on-write')"
    )
    try:
        spark.conf.set("spark.wap.id", "fix-2")
        eng.sql("UPDATE demo.default.pii SET email = 'redacted' WHERE k = 2")
    finally:
        spark.conf.unset("spark.wap.id")
    t = eng.table("default.pii")
    assert t.read().filter("email = 'redacted'").count() == 0, "staged"
    eng.sql("CALL demo.system.publish_changes('default.pii', 'fix-2')")
    assert (
        eng.table("default.pii").read().filter("email = 'redacted'").count() == 1
    )

    # conflict rules unchanged: both confs, and suffix + wap.id
    try:
        spark.conf.set("spark.wap.id", "x")
        spark.conf.set("spark.wap.branch", "b")
        with _pytest.raises(ValueError, match="cannot set both"):
            eng.sql("DELETE FROM demo.default.pii WHERE k = 2")
    finally:
        spark.conf.unset("spark.wap.branch")
        spark.conf.unset("spark.wap.id")
    eng.sql("ALTER TABLE default.pii CREATE BRANCH b")
    try:
        spark.conf.set("spark.wap.id", "x")
        with _pytest.raises(ValueError, match="cannot set both"):
            eng.sql("DELETE FROM demo.default.pii.branch_b WHERE k = 2")
    finally:
        spark.conf.unset("spark.wap.id")

    # table-API mutual exclusion mirrors the facade
    with _pytest.raises(ValueError, match="cannot set both"):
        eng.table("default.pii").delete("k = 2", branch="b", wap_id="x")
    with _pytest.raises(ValueError, match="cannot set both"):
        eng.table("default.pii").truncate(branch="b", wap_id="x")


def test_merge_with_schema_evolution(spark, tmp_path):
    """MERGE WITH SCHEMA EVOLUTION (Spark 4 / Iceberg grammar): source-only
    columns are auto-ADDed before the merge plans — rows in pre-existing
    files read NULL for them. Without the clause a star action over a
    wider source is REJECTED (it used to silently drop the extra columns);
    explicit assignments may always reference a wider source."""
    import pytest as _pytest

    from demo_iceberg_permanent_delete_spark.lake.sql import LakeEngine

    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE demo.default")
    eng.sql("CREATE TABLE demo.default.m (k BIGINT, v STRING) USING iceberg")
    eng.sql("INSERT INTO demo.default.m VALUES (1, 'a'), (2, 'b')")
    src = (
        "SELECT 2 AS k, 'B' AS v, 'upd' AS note "
        "UNION ALL SELECT 3, 'c', 'new'"
    )

    # star action over a wider source without the clause: hard error
    with _pytest.raises(ValueError, match="WITH SCHEMA EVOLUTION"):
        eng.sql(
            f"MERGE INTO demo.default.m t USING ({src}) s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )
    t = eng.table("default.m")
    assert [f.name for f in t.schema().fields] == ["k", "v"], "no phantom add"
    assert {r["k"]: r["v"] for r in t.read().collect()} == {1: "a", 2: "b"}

    # explicit assignments may reference the wider source without evolving
    eng.sql(
        f"MERGE INTO demo.default.m t USING ({src}) s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.note"
    )
    t = eng.table("default.m")
    assert [f.name for f in t.schema().fields] == ["k", "v"]
    assert {r["k"]: r["v"] for r in t.read().collect()} == {1: "a", 2: "upd"}

    # a bad merge key fails BEFORE any evolution commits (review finding)
    with _pytest.raises(ValueError, match="merge keys"):
        eng.sql(
            f"MERGE WITH SCHEMA EVOLUTION INTO demo.default.m t USING ({src}) s "
            "ON t.nope = s.nope WHEN MATCHED THEN UPDATE SET *"
        )
    assert [f.name for f in eng.table("default.m").schema().fields] == ["k", "v"]

    # WITH SCHEMA EVOLUTION: note is auto-added, star actions resolve
    eng.sql(
        f"MERGE WITH SCHEMA EVOLUTION INTO demo.default.m t USING ({src}) s "
        "ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    t = eng.table("default.m")
    assert [f.name for f in t.schema().fields] == ["k", "v", "note"]
    rows = {r["k"]: (r["v"], r["note"]) for r in t.read().collect()}
    assert rows == {
        1: ("a", None),  # pre-evolution file reads NULL for the new column
        2: ("B", "upd"),
        3: ("c", "new"),
    }


def test_alter_view(spark, tmp_path):
    """ALTER VIEW: AS bumps the version history (same validation as
    CREATE, view must exist), RENAME TO follows the table-rename collision
    matrix, SET/UNSET TBLPROPERTIES round-trip through SHOW TBLPROPERTIES;
    ALTER TABLE UNSET TBLPROPERTIES rides the same grammar."""
    import pytest as _pytest

    from demo_iceberg_permanent_delete_spark.lake.sql import LakeEngine

    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE demo.default")
    eng.sql("CREATE TABLE demo.default.t (k BIGINT, v STRING) USING iceberg")
    eng.sql("INSERT INTO demo.default.t VALUES (1, 'a'), (2, 'b')")
    eng.sql("CREATE VIEW demo.default.w AS SELECT k FROM default.t")

    # AS: new body, version bump visible in SHOW VIEW VERSIONS
    eng.sql("ALTER VIEW demo.default.w AS SELECT k, v FROM default.t")
    assert eng.sql("SELECT * FROM demo.default.w").columns == ["k", "v"]
    vers = eng.sql("SHOW VIEW VERSIONS default.w").collect()
    assert [r["version"] for r in vers] == [1, 2]
    assert vers[-1]["is_current"] and "v FROM" in vers[-1]["sql"]
    # a broken body fails and does NOT bump the history
    with _pytest.raises(Exception):
        eng.sql("ALTER VIEW demo.default.w AS SELECT nope FROM default.t")
    assert eng.sql("SHOW VIEW VERSIONS default.w").count() == 2
    # ALTER of a missing view is an error (CREATE OR REPLACE is the upsert)
    with _pytest.raises(Exception, match="not found"):
        eng.sql("ALTER VIEW demo.default.missing AS SELECT 1 AS one")

    # SET / UNSET TBLPROPERTIES
    eng.sql(
        "ALTER VIEW demo.default.w SET TBLPROPERTIES ('comment' = 'c1', 'x' = '1')"
    )
    props = {
        r["key"]: r["value"]
        for r in eng.sql("SHOW TBLPROPERTIES demo.default.w").collect()
    }
    assert props == {"comment": "c1", "x": "1"}
    eng.sql("ALTER VIEW demo.default.w UNSET TBLPROPERTIES ('x', 'missing')")
    props = {
        r["key"]: r["value"]
        for r in eng.sql("SHOW TBLPROPERTIES demo.default.w").collect()
    }
    assert props == {"comment": "c1"}

    # RENAME TO: collision matrix matches tables
    eng.sql("CREATE VIEW demo.default.w2 AS SELECT 1 AS one")
    with _pytest.raises(Exception, match="is a view"):
        eng.sql("ALTER VIEW demo.default.w RENAME TO demo.default.w2")
    with _pytest.raises(Exception, match="already exists"):
        eng.sql("ALTER VIEW demo.default.w RENAME TO demo.default.t")
    with _pytest.raises(Exception, match="does not exist"):
        eng.sql("ALTER VIEW demo.default.w RENAME TO demo.nope.w")
    eng.sql("ALTER VIEW demo.default.w RENAME TO demo.default.w3")
    assert eng.sql("SELECT * FROM demo.default.w3").count() == 2
    assert "default.w" not in eng.catalog.list_views()
    # history (and properties) travel with the rename
    assert eng.sql("SHOW VIEW VERSIONS default.w3").count() == 2

    # ALTER TABLE UNSET TBLPROPERTIES
    eng.sql("ALTER TABLE default.t SET TBLPROPERTIES ('a' = '1', 'b' = '2')")
    eng.sql("ALTER TABLE default.t UNSET TBLPROPERTIES ('a', 'ghost')")
    props = {
        r["key"]: r["value"]
        for r in eng.sql("SHOW TBLPROPERTIES demo.default.t").collect()
    }
    assert props.get("b") == "2" and "a" not in props


def test_publish_changes_conflict_validation(spark, tmp_path):
    """Review finding: cherry-picking a staged REWRITE delta onto a main
    that compacted the same files must refuse (CommitConflictError) —
    silently replaying it would resurrect GDPR-deleted rows and
    double-count carried survivors; a stale staged position-delete whose
    targets were rewritten must refuse too. Append stages stay
    publishable across any divergence."""
    import pytest as _pytest

    from demo_iceberg_permanent_delete_spark.lake.errors import (
        CommitConflictError,
    )
    from demo_iceberg_permanent_delete_spark.lake.sql import LakeEngine

    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE demo.default")
    eng.sql("CREATE TABLE demo.default.c (k BIGINT, v STRING) USING iceberg")
    eng.sql("INSERT INTO demo.default.c VALUES (1, 'a'), (2, 'b'), (3, 'c')")

    # staged COW DELETE, then main compacts the same files
    try:
        spark.conf.set("spark.wap.id", "d1")
        eng.sql("DELETE FROM demo.default.c WHERE k = 2")
    finally:
        spark.conf.unset("spark.wap.id")
    eng.sql("INSERT INTO demo.default.c VALUES (4, 'd')")
    # the 3-row INSERT lands in one file per task (host-dependent), and
    # compact() leaves fewer than min_input_files small files alone: 2
    # makes it rewrite d1's base file on any host (the second INSERT
    # guarantees at least 2 files)
    eng.table("default.c").compact(min_input_files=2)
    with _pytest.raises(CommitConflictError, match="no longer live"):
        eng.sql("CALL demo.system.publish_changes('default.c', 'd1')")
    t = eng.table("default.c")
    assert t.read().count() == 4, "refused publish must not mutate main"

    # staged MOR DELETE whose DV targets get compacted away: refused too
    eng.sql(
        "ALTER TABLE default.c SET TBLPROPERTIES "
        "('write.delete.mode' = 'merge-on-read')"
    )
    try:
        spark.conf.set("spark.wap.id", "d2")
        eng.sql("DELETE FROM demo.default.c WHERE k = 3")
    finally:
        spark.conf.unset("spark.wap.id")
    # a COW delete on main rewrites the file d2's DV points at (compact
    # would no-op on a single file and leave the targets live)
    eng.sql(
        "ALTER TABLE default.c SET TBLPROPERTIES "
        "('write.delete.mode' = 'copy-on-write')"
    )
    eng.sql("DELETE FROM demo.default.c WHERE k = 1")
    with _pytest.raises(CommitConflictError, match="position-delete"):
        eng.sql("CALL demo.system.publish_changes('default.c', 'd2')")

    # an APPEND stage still publishes across arbitrary divergence
    try:
        spark.conf.set("spark.wap.id", "a1")
        eng.sql("INSERT INTO demo.default.c VALUES (9, 'z')")
    finally:
        spark.conf.unset("spark.wap.id")
    eng.sql("DELETE FROM demo.default.c WHERE k = 4")  # diverge main again
    eng.sql("CALL demo.system.publish_changes('default.c', 'a1')")
    assert eng.table("default.c").read().filter("k = 9").count() == 1


def test_count_star_metadata_pushdown(spark, tmp_path):
    """Iceberg aggregate-pushdown parity: an unfiltered SELECT COUNT(*)
    answers from manifest record counts — no parquet scan in the plan.
    Any delete file, filter, suffix, or view falls back to the general
    path, and the fast answer always equals the slow one."""
    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE IF NOT EXISTS demo.default")
    eng.sql("CREATE TABLE demo.default.ct (id bigint, v string) USING iceberg")

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # empty table: zero, still metadata-only
    df = eng.sql("SELECT COUNT(*) FROM demo.default.ct")
    assert df.collect()[0][0] == 0 and df.columns == ["count(1)"]
    assert "parquet" not in plan(df).lower()

    eng.sql("INSERT INTO demo.default.ct VALUES (1,'a'), (2,'b'), (3,'c')")
    df = eng.sql("SELECT COUNT(*) FROM demo.default.ct")
    assert df.collect()[0][0] == 3
    assert "parquet" not in plan(df).lower()
    # alias + bare-name spellings
    assert eng.sql("SELECT COUNT(*) AS n FROM default.ct").collect()[0]["n"] == 3

    # COW delete rewrites files: counts stay manifest-exact
    eng.sql("DELETE FROM demo.default.ct WHERE id = 1")
    df = eng.sql("SELECT COUNT(*) FROM demo.default.ct")
    assert df.collect()[0][0] == 2
    assert "parquet" not in plan(df).lower()

    # MOR deletes mask rows inside files -> MUST fall back (and be right)
    eng.sql(
        "ALTER TABLE demo.default.ct SET TBLPROPERTIES "
        "('write.delete.mode'='merge-on-read')"
    )
    eng.sql("DELETE FROM demo.default.ct WHERE id = 2")
    df = eng.sql("SELECT COUNT(*) FROM demo.default.ct")
    assert df.collect()[0][0] == 1
    assert "parquet" in plan(df).lower()

    # filters and metadata relations never hit the fast path
    assert (
        eng.sql("SELECT COUNT(*) FROM demo.default.ct WHERE id = 3").collect()[0][0]
        == 1
    )
    files = eng.sql("SELECT COUNT(*) FROM demo.default.ct.files").collect()[0][0]
    assert files >= 2  # data + delete entries, counted via the relation

    # views expand through the general path
    eng.sql("CREATE VIEW demo.default.ctv AS SELECT * FROM demo.default.ct")
    assert eng.sql("SELECT COUNT(*) FROM demo.default.ctv").collect()[0][0] == 1

    # TRUNCATE: metadata-only empty snapshot, fast path gives 0
    eng.sql("TRUNCATE TABLE demo.default.ct")
    df = eng.sql("SELECT COUNT(*) FROM demo.default.ct")
    assert df.collect()[0][0] == 0
    assert "parquet" not in plan(df).lower()


def test_min_max_count_metadata_pushdown(spark, tmp_path):
    """The generalized aggregate pushdown: COUNT(col) from null counts,
    MIN/MAX from exact manifest bounds (int/date/timestamp; strings are
    truncated and floats NaN-unsafe so they fall back), equal to the
    general path in every case."""
    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE IF NOT EXISTS demo.default")
    eng.sql(
        "CREATE TABLE demo.default.ag (id bigint, d date, ts timestamp, "
        "s string, f double) USING iceberg"
    )
    eng.sql(
        "INSERT INTO demo.default.ag VALUES "
        "(5, date'2024-06-05', timestamp'2024-06-05 10:00:00', 'abc', 1.5), "
        "(1, date'2024-01-01', timestamp'2024-01-01 00:00:00', 'zzz', 2.5), "
        "(NULL, NULL, NULL, NULL, NULL)"
    )
    eng.sql(
        "INSERT INTO demo.default.ag VALUES "
        "(9, date'2025-12-31', timestamp'2025-12-31 23:59:59', 'mm', 0.5)"
    )

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    q = (
        "SELECT COUNT(*), COUNT(id), MIN(id), MAX(id), MIN(d), "
        "MAX(ts) AS mts, COUNT(s) FROM demo.default.ag"
    )
    fast = eng.sql(q)
    assert "parquet" not in plan(fast).lower(), "must answer from manifests"
    # byte-identical to the general path (WHERE TRUE defeats the regex)
    assert fast.collect() == eng.sql(q + " WHERE TRUE").collect()
    assert fast.columns == [
        "count(1)", "count(id)", "min(id)", "max(id)", "min(d)", "mts",
        "count(s)",
    ]

    # decimals push too: pyarrow can't decode INT64-backed decimal
    # stats, so the harvest decodes the raw unscaled values
    eng.sql(
        "CREATE TABLE demo.default.dc (x decimal(10,2)) USING iceberg"
    )
    eng.sql("INSERT INTO demo.default.dc VALUES (10.25), (9.75), (100.00)")
    df = eng.sql("SELECT MIN(x), MAX(x) FROM demo.default.dc")
    assert "parquet" not in plan(df).lower()
    from decimal import Decimal

    assert df.collect()[0] == (Decimal("9.75"), Decimal("100.00"))

    # strings (truncated bounds) and floats (NaN ordering) fall back —
    # and still give the right answer
    for expr, want in (("MIN(s)", "abc"), ("MAX(f)", 2.5)):
        df = eng.sql(f"SELECT {expr} AS x FROM demo.default.ag")
        assert "parquet" in plan(df).lower()
        assert df.collect()[0]["x"] == want

    # an all-null column: NULL min/max, zero count, still metadata-only
    eng.sql("CREATE TABLE demo.default.an (x bigint, y bigint) USING iceberg")
    eng.sql("INSERT INTO demo.default.an VALUES (1, NULL), (2, NULL)")
    df = eng.sql("SELECT MIN(y), MAX(y), COUNT(y) FROM demo.default.an")
    assert "parquet" not in plan(df).lower()
    assert df.collect()[0] == (None, None, 0)

    # a rename makes old stats unreachable by the new name: fall back
    eng.sql("ALTER TABLE demo.default.ag RENAME COLUMN id TO ident")
    df = eng.sql("SELECT COUNT(ident) FROM demo.default.ag")
    assert "parquet" in plan(df).lower()
    assert df.collect()[0][0] == 3

    # an initial default falsifies footer stats for pre-add rows: fall back
    eng.sql("ALTER TABLE demo.default.ag ADD COLUMN w bigint DEFAULT 7")
    df = eng.sql("SELECT COUNT(w), MIN(w) FROM demo.default.ag")
    assert "parquet" in plan(df).lower()
    assert df.collect()[0] == (4, 7)

    # MOR deletes gate everything
    eng.sql(
        "ALTER TABLE demo.default.an SET TBLPROPERTIES "
        "('write.delete.mode'='merge-on-read')"
    )
    eng.sql("DELETE FROM demo.default.an WHERE x = 1")
    df = eng.sql("SELECT MIN(x), COUNT(*) FROM demo.default.an")
    assert "parquet" in plan(df).lower()
    assert df.collect()[0] == (2, 1)


def test_wap_branch_routes_reads(spark, tmp_path):
    """Iceberg WAP read routing: under spark.wap.branch the session's
    bare-name READS serve the branch head too (the audit session sees
    its own staged data), falling back to main before the branch's
    first write; explicit pins (AS OF, ref suffixes) still win; a tag
    name errors like the write side; 'main' is the table itself."""
    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE IF NOT EXISTS demo.default")
    eng.sql("CREATE TABLE demo.default.r (k bigint, v string) USING iceberg")
    eng.sql("INSERT INTO demo.default.r VALUES (1, 'a')")
    eng.sql("ALTER TABLE default.r CREATE TAG t0")
    import pytest as _pytest

    try:
        # branch not created yet: reads fall back to main
        spark.conf.set("spark.wap.branch", "audit")
        assert eng.sql("SELECT COUNT(*) AS n FROM demo.default.r").collect()[0]["n"] == 1
        # create the branch (X75: branch writes need an existing branch)
        # and stage a row on it; session reads now see the staged row...
        eng.sql("ALTER TABLE default.r CREATE BRANCH audit")
        eng.sql("INSERT INTO demo.default.r VALUES (2, 'staged')")
        got = sorted(r["k"] for r in eng.sql("SELECT * FROM demo.default.r").collect())
        assert got == [1, 2]
        assert eng.read_table("default.r").count() == 2
        # ...and COUNT(*) (via the general path) agrees
        assert eng.sql("SELECT COUNT(*) AS n FROM demo.default.r").collect()[0]["n"] == 2
        # main itself is untouched
        spark.conf.unset("spark.wap.branch")
        assert eng.sql("SELECT COUNT(*) AS n FROM demo.default.r").collect()[0]["n"] == 1
        spark.conf.set("spark.wap.branch", "audit")
        # explicit pins win over the session branch
        assert eng.sql(
            "SELECT COUNT(*) AS n FROM demo.default.r VERSION AS OF 't0'"
        ).collect()[0]["n"] == 1
        assert eng.read_table("default.r", ref="t0").count() == 1
        # 'main' routes to the table; a tag name errors like the write side
        spark.conf.set("spark.wap.branch", "main")
        assert eng.sql("SELECT COUNT(*) AS n FROM demo.default.r").collect()[0]["n"] == 1
        spark.conf.set("spark.wap.branch", "t0")
        with _pytest.raises(ValueError, match="names a tag"):
            eng.sql("SELECT * FROM demo.default.r").collect()
    finally:
        try:
            spark.conf.unset("spark.wap.branch")
        except Exception:
            pass


def test_metadata_table_time_travel(spark, tmp_path):
    """Iceberg metadata-table travel: t.files/.partitions/.history
    VERSION|TIMESTAMP AS OF serve the pinned snapshot's state (the
    travel picks the snapshot, not an old metadata.json); the API form
    is meta_at, with the same one-pin rule as read()."""
    import pytest as _pytest

    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE IF NOT EXISTS demo.default")
    eng.sql("CREATE TABLE demo.default.mt (k bigint) USING iceberg")
    eng.sql("INSERT INTO demo.default.mt VALUES (1)")
    t = eng.table("default.mt")
    v1 = t.metadata.current_snapshot_id
    eng.sql("ALTER TABLE default.mt CREATE TAG first")
    eng.sql("INSERT INTO demo.default.mt VALUES (2), (3)")

    files_then = eng.sql(
        f"SELECT COUNT(*) AS n FROM demo.default.mt.files VERSION AS OF {v1}"
    ).collect()[0]["n"]
    files_now = eng.sql(
        "SELECT COUNT(*) AS n FROM demo.default.mt.files"
    ).collect()[0]["n"]
    assert files_then < files_now
    # ref literal + partitions travel: record_count as of the tag
    n = eng.sql(
        "SELECT SUM(record_count) AS n FROM demo.default.mt.partitions "
        "VERSION AS OF 'first'"
    ).collect()[0]["n"]
    assert n == 1
    # history lists every snapshot (table-level document), but the
    # ancestry flag is computed against the PIN
    h = {
        r["snapshot_id"]: r["is_current_ancestor"]
        for r in eng.sql(
            f"SELECT * FROM demo.default.mt.history VERSION AS OF {v1}"
        ).collect()
    }
    assert h[v1] is True
    assert sum(1 for v in h.values() if v) == 1  # the later commit isn't
    # API form + guards
    t.refresh()  # the handle predates the facade's second INSERT
    assert t.meta_at("files", snapshot_id=v1).count() == files_then
    assert t.meta_at("files").count() == files_now
    with _pytest.raises(ValueError, match="only one of"):
        t.meta_at("files", snapshot_id=v1, ref="first")
    with _pytest.raises(Exception):
        t.meta_at("files", snapshot_id=123456789)


def test_namespace_ddl(spark, tmp_path):
    """DROP NAMESPACE [IF EXISTS] [CASCADE|RESTRICT] + SHOW NAMESPACES:
    RESTRICT (default) refuses a non-empty namespace naming its
    contents; CASCADE drops views then tables (non-purge) then the
    namespace."""
    import pytest as _pytest

    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE IF NOT EXISTS demo.a")
    eng.sql("CREATE DATABASE IF NOT EXISTS demo.b")  # synonym spelling
    assert [r["namespace"] for r in eng.sql("SHOW NAMESPACES").collect()] == [
        "a",
        "b",
    ]
    eng.sql("CREATE TABLE demo.a.t1 (k bigint) USING iceberg")
    eng.sql("INSERT INTO demo.a.t1 VALUES (1)")
    eng.sql("CREATE VIEW demo.a.v1 AS SELECT * FROM demo.a.t1")

    with _pytest.raises(Exception, match="not empty"):
        eng.sql("DROP NAMESPACE demo.a")
    out = eng.sql("DROP NAMESPACE demo.a CASCADE").collect()[0]
    assert out["dropped_tables"] == 1 and out["dropped_views"] == 1
    assert [r["namespace"] for r in eng.sql("SHOW NAMESPACES").collect()] == ["b"]
    # empty namespace drops under RESTRICT; IF EXISTS absorbs a re-drop
    eng.sql("DROP SCHEMA demo.b RESTRICT")
    eng.sql("DROP DATABASE IF EXISTS demo.b")
    with _pytest.raises(Exception, match="not found"):
        eng.sql("DROP NAMESPACE demo.b")
    assert eng.sql("SHOW NAMESPACES").count() == 0


def test_add_drop_columns_multi(spark, tmp_path):
    """Spark's multi-column ADD COLUMNS (…) / DROP COLUMNS (…): the
    whole list validates before any change (a malformed or duplicate
    list changes nothing); nested types with commas and angle brackets
    parse; the single-column spellings keep working."""
    import pytest as _pytest

    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE IF NOT EXISTS demo.default")
    eng.sql("CREATE TABLE demo.default.mc (id bigint) USING iceberg")
    eng.sql("INSERT INTO demo.default.mc VALUES (1)")
    eng.sql(
        "ALTER TABLE demo.default.mc ADD COLUMNS ("
        "a int, b string DEFAULT 'x,y', d decimal(10,2), "
        "s struct<u:int,v:string>, m map<string,int>)"
    )
    t = eng.table("default.mc")
    assert [f.name for f in t.schema().fields] == ["id", "a", "b", "d", "s", "m"]
    # pre-add row reads the default for b, NULL elsewhere
    row = t.read().first()
    assert row["b"] == "x,y" and row["a"] is None and row["s"] is None

    # a bad list changes nothing (duplicate against live schema)
    with _pytest.raises(ValueError, match="already exists"):
        eng.sql("ALTER TABLE demo.default.mc ADD COLUMNS (z int, a int)")
    with _pytest.raises(ValueError, match="already exists"):
        eng.sql("ALTER TABLE demo.default.mc ADD COLUMNS (z int, z string)")
    t.refresh()
    assert "z" not in [f.name for f in t.schema().fields]

    eng.sql("ALTER TABLE demo.default.mc DROP COLUMNS (a, m)")
    t.refresh()
    assert [f.name for f in t.schema().fields] == ["id", "b", "d", "s"]
    with _pytest.raises(ValueError, match="no such column"):
        eng.sql("ALTER TABLE demo.default.mc DROP COLUMNS (b, nope)")
    t.refresh()
    assert "b" in [f.name for f in t.schema().fields]  # nothing dropped

    # single spellings unchanged (unparenthesized + parenthesized-single)
    eng.sql("ALTER TABLE demo.default.mc ADD COLUMN w bigint DEFAULT 7")
    eng.sql("ALTER TABLE demo.default.mc ADD COLUMNS (w2 bigint)")
    eng.sql("ALTER TABLE demo.default.mc DROP COLUMN w2")
    t.refresh()
    assert t.read().first()["w"] == 7


def test_review_fixes_ddl_atomicity_and_namespaces(spark, tmp_path):
    """Third-review regressions: multi-column DDL is ONE staged commit
    (tombstone/identifier/last-column refusals anywhere leave nothing
    changed); DROP NAMESPACE sees child namespaces; bare CREATE
    NAMESPACE errors on a duplicate; quoted decimal predicates don't
    mis-prune against the tagged decimal bounds."""
    import pytest as _pytest

    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE IF NOT EXISTS demo.default")
    with _pytest.raises(Exception, match="already exists"):
        eng.sql("CREATE NAMESPACE demo.default")

    # ADD COLUMNS: a tombstoned name mid-list changes nothing
    eng.sql("CREATE TABLE demo.default.at (id bigint, email string) USING iceberg")
    eng.sql("INSERT INTO demo.default.at VALUES (1, 'e')")
    eng.sql("ALTER TABLE demo.default.at DROP COLUMN email")
    t = eng.table("default.at")
    v_before = t.metadata.version
    with _pytest.raises(ValueError, match="retired"):
        eng.sql("ALTER TABLE demo.default.at ADD COLUMNS (a int, email string)")
    t.refresh()
    assert [f.name for f in t.schema().fields] == ["id"]
    assert t.metadata.version == v_before  # truly zero commits
    # a bad DEFAULT cast mid-list changes nothing either
    with _pytest.raises(Exception):
        eng.sql(
            "ALTER TABLE demo.default.at ADD COLUMNS (a int, b bigint DEFAULT 'oops')"
        )
    t.refresh()
    assert [f.name for f in t.schema().fields] == ["id"]

    # DROP COLUMNS: identifier-field refusal leaves everything in place
    eng.sql("ALTER TABLE demo.default.at ADD COLUMNS (a int, b int)")
    eng.sql("ALTER TABLE demo.default.at SET IDENTIFIER FIELDS id")
    with _pytest.raises(ValueError, match="identifier field"):
        eng.sql("ALTER TABLE demo.default.at DROP COLUMNS (a, id)")
    t.refresh()
    assert [f.name for f in t.schema().fields] == ["id", "a", "b"]

    # DROP NAMESPACE sees nested children
    eng.sql("CREATE NAMESPACE IF NOT EXISTS demo.p")
    eng.sql("CREATE NAMESPACE IF NOT EXISTS demo.p.q")
    eng.sql("CREATE TABLE demo.p.q.t1 (k bigint) USING iceberg")
    with _pytest.raises(Exception, match="child namespaces"):
        eng.sql("DROP NAMESPACE demo.p")
    out = eng.sql("DROP NAMESPACE demo.p CASCADE").collect()[0]
    assert out["dropped_namespaces"] == 2 and out["dropped_tables"] == 1
    names = [r["namespace"] for r in eng.sql("SHOW NAMESPACES").collect()]
    assert "p" not in names and "p.q" not in names

    # quoted decimal predicate: the tagged bounds never string-compare,
    # so the matching file survives pruning
    eng.sql("CREATE TABLE demo.default.dq (x decimal(10,2)) USING iceberg")
    eng.sql("INSERT INTO demo.default.dq VALUES (9.75)")
    eng.sql("INSERT INTO demo.default.dq VALUES (10.50), (100.00)")
    got = eng.sql("SELECT * FROM demo.default.dq WHERE x = '10.50'").collect()
    assert [str(r["x"]) for r in got] == ["10.50"]


# ------------------------------------------------- point-lookup fast path
_LOOKUP_MOR = {
    "write.delete.mode": "merge-on-read",
    "write.update.mode": "merge-on-read",
}


def _lookup_tables(spark, tmp_path):
    """Two tables with the same history, one per delete layout (deletion
    vectors, position-delete files): an int column widened to bigint, a
    renamed column, a column added with an initial default, NULLs,
    double/decimal/date columns, row deletes and an equality delete."""
    eng = LakeEngine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE NAMESPACE IF NOT EXISTS default")
    for name, dv in (("dv", "true"), ("pos", "false")):
        t = eng.catalog.create_table(
            f"default.{name}",
            "k int, a string, n bigint, f double, p decimal(10,2), dt date",
            properties={**_LOOKUP_MOR, "write.delete.vector.enabled": dv},
        )
        t.insert(
            spark.range(0, 40, numPartitions=1).selectExpr(
                "cast(id AS int) AS k",
                "CASE WHEN id % 6 = 0 THEN NULL ELSE concat('a', id % 5) END AS a",
                "CASE WHEN id % 4 = 0 THEN NULL ELSE id * 10 END AS n",
                "id / 4 AS f",
                "cast(id * 1.25 AS decimal(10,2)) AS p",
                "date_add(DATE'2024-01-01', cast(id AS int)) AS dt",
            )
        )
        t.alter_column_type("k", "bigint")
        t.rename_column("a", "b")
        t.add_column("d", "int", default=7)
        t.insert(
            spark.range(40, 80, numPartitions=1).selectExpr(
                "id AS k",
                "CASE WHEN id % 6 = 0 THEN NULL ELSE concat('a', id % 5) END AS b",
                "id * 10 AS n",
                "id / 4 AS f",
                "cast(id * 1.25 AS decimal(10,2)) AS p",
                "date_add(DATE'2024-01-01', cast(id AS int)) AS dt",
                "cast(id % 3 AS int) AS d",
            )
        )
        t.delete("k % 7 = 0")
        t.equality_delete(spark.range(10, 13).selectExpr("id AS k"), ["k"])
    eng.catalog.create_table("default.empty", "k bigint, b string")
    return eng


_FAST = [
    "SELECT * FROM default.{t} WHERE k = 5",
    "SELECT d, k FROM default.{t} WHERE k >= 30 AND k < 50",
    "SELECT b, n FROM default.{t} WHERE b = 'a1'",
    "SELECT k, n, b FROM default.{t} WHERE b IS NULL OR n IS NULL",
    "SELECT k FROM default.{t} WHERE k IN (10, 11, 13, 14, 21, 22)",
    "SELECT n, b, p FROM demo.default.{t} WHERE d = 7 AND k BETWEEN 35 AND 38",
    "SELECT dt, f FROM default.{t} WHERE d = 1 OR b = 'a3'",
    "select k,b from default.{t}\n where k < 3",
    "SELECT k FROM default.{t} WHERE k = 999",
    "SELECT * FROM default.empty WHERE k = 1",
]


def _spy_point_lookup(monkeypatch):
    """Records whether each facade statement took the fast path."""
    taken = []
    real = LakeEngine._point_lookup

    def spy(self, *args):
        out = real(self, *args)
        taken.append(out is not None)
        return out

    monkeypatch.setattr(LakeEngine, "_point_lookup", spy)
    return taken


def _answer(df):
    return (
        [(f.name, f.dataType, f.nullable) for f in df.schema.fields],
        [tuple(r) for r in df.collect()],
    )


@pytest.mark.parametrize("budget", [None, 0], ids=["default", "budget0"])
def test_point_lookup_matches_the_view_path(spark, tmp_path, monkeypatch, budget):
    """Each fast-path statement returns the rows (in order), column names,
    types and nullability of the same statement forced through the
    temp-view + spark.sql path; at budget 0 the scan is the executor
    read, projected after its filter."""
    eng = _lookup_tables(spark, tmp_path)
    if budget is not None:
        monkeypatch.setattr(datafiles, "DRIVER_MAX_ROWS", budget)
    taken = _spy_point_lookup(monkeypatch)
    for q in _FAST:
        for t in ("dv", "pos"):
            stmt = q.format(t=t)
            fast = _answer(eng.sql(stmt))
            assert taken[-1], stmt
            with monkeypatch.context() as m:
                m.setattr(LakeEngine, "_point_lookup", lambda *a: None)
                slow = _answer(eng.sql(stmt))
            assert fast == slow, stmt
    assert eng.sql("SELECT k FROM default.dv WHERE k IN (10, 11, 13, 14)").collect() == [
        (13,)
    ]


_DECLINED = [
    "SELECT DISTINCT b FROM default.dv WHERE k < 20",
    "SELECT k AS x FROM default.dv WHERE k = 1",
    "SELECT k FROM default.dv WHERE k < 20 LIMIT 3",
    "SELECT k FROM default.dv WHERE k < 20 ORDER BY k DESC",
    "SELECT b FROM default.dv WHERE k < 20 GROUP BY b",
    "SELECT k FROM default.dv WHERE k = 1 UNION SELECT k FROM default.dv WHERE k = 2",
    "SELECT k FROM default.dv WHERE k = 1 ORDER BY n",
    "SELECT k FROM default.dv WHERE b = 'a1' ORDER BY 'b'",
    "SELECT K FROM default.dv WHERE k = 1",
    "SELECT k FROM default.dv WHERE K = 1",
    "SELECT k, k FROM default.dv WHERE k = 1",
    "SELECT k FROM default.v WHERE k = 1",
    "SELECT operation FROM default.dv.snapshots WHERE operation = 'append'",
    "SELECT k FROM default.dv VERSION AS OF {sid} WHERE k = 1",
    "SELECT k FROM default.dv WHERE f > 1.5",
    "SELECT k FROM default.dv WHERE p = 2.50",
    "SELECT k FROM default.dv WHERE dt >= DATE'2024-01-05'",
    "SELECT k FROM default.dv WHERE dt >= '2024-01-05'",
    "SELECT k FROM default.dv WHERE NOT k = 1",
    "SELECT k FROM default.dv WHERE abs(k) = 1",
    "SELECT k FROM default.dv WHERE k + 1 = 2",
    "SELECT k FROM default.dv WHERE k = '1'",
    "SELECT count(*) FROM default.dv WHERE k = 1",
    "SELECT k FROM default.dv t WHERE k = 1",
]


def test_point_lookup_declines_other_shapes(spark, tmp_path, monkeypatch):
    """Every other statement shape, column spelling, relation or
    predicate falls through to the view path unchanged, and an unknown
    column still raises Spark's AnalysisException."""
    from pyspark.errors import AnalysisException

    eng = _lookup_tables(spark, tmp_path)
    eng.sql("CREATE VIEW default.v AS SELECT k, b FROM default.dv")
    sid = eng.table("default.dv").metadata.snapshots[1].snapshot_id
    taken = _spy_point_lookup(monkeypatch)
    for q in _DECLINED:
        eng.sql(q.format(sid=sid)).collect()
        assert taken == [False], q
        taken.clear()
    for q in (
        "SELECT _row_id FROM default.dv WHERE k = 1",
        "SELECT _last_updated_sequence_number FROM default.dv WHERE k = 1",
        "SELECT nope FROM default.dv WHERE k = 1",
        "SELECT k FROM default.dv WHERE nope = 1",
    ):
        with pytest.raises(AnalysisException):
            eng.sql(q).collect()
        assert taken == [False], q
        taken.clear()
    spark.conf.set("spark.wap.branch", "audit")
    try:
        assert eng.sql("SELECT b FROM default.dv WHERE k = 1").collect() == [("a1",)]
    finally:
        spark.conf.unset("spark.wap.branch")
    assert taken == [False]


def test_point_lookup_is_one_projected_scan(spark, tmp_path, monkeypatch):
    """A fast-path lookup starts no Spark job, compiles no codegen class,
    registers no temp view, runs no spark.sql and no scan estimate, and
    reads each candidate file for the projected and predicate columns
    only. The table is read from catalog.json once per statement."""
    from pyspark.sql import DataFrame

    from demo_iceberg_permanent_delete_spark.lake import planner
    from demo_iceberg_permanent_delete_spark.lake.catalog import Catalog

    eng = _lookup_tables(spark, tmp_path)
    eng.sql("SELECT n FROM default.dv WHERE k = 33").collect()  # warm
    compiled = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    )
    calls = []
    reads = []

    def banned(what):
        def spy(*args, **kwargs):
            calls.append(what)
            raise AssertionError(what)

        return spy

    monkeypatch.setattr(DataFrame, "createOrReplaceTempView", banned("view"))
    monkeypatch.setattr(spark, "sql", banned("spark.sql"))
    monkeypatch.setattr(planner, "scan_estimate", banned("scan_estimate"))
    real_read = lake_datasource.read_entries_arrow

    def read_spy(*args, **kwargs):
        reads.append(kwargs["columns"])
        return real_read(*args, **kwargs)

    monkeypatch.setattr(lake_datasource, "read_entries_arrow", read_spy)
    registry_reads = []
    real_registry = Catalog._read_registry

    def registry_spy(self):
        registry_reads.append(1)
        return real_registry(self)

    monkeypatch.setattr(Catalog, "_read_registry", registry_spy)
    before = compiled.getCount()
    for k, want in ((34, [(340,)]), (51, [(510,)]), (56, [])):
        rows = jobless(
            spark, lambda k=k: eng.sql(f"SELECT n FROM default.dv WHERE k = {k}").collect()
        )
        assert rows == want
    assert compiled.getCount() == before
    assert calls == []
    assert reads == [{"n", "k"}] * 3
    assert len(registry_reads) == 3


def test_point_lookup_collect_stays_on_the_driver(spark, tmp_path, monkeypatch):
    """A fast-path lookup plus collect() never ships its rows to the JVM:
    at most 3 py4j calls (spark.wap.branch, read once per statement, and
    the session's spark.sql.timestampType, which LakeTable.schema() parses
    the stored DDL under: SQLConf.get and getConfString), no Spark job and
    no codegen compile, on both delete layouts and for a miss."""
    from py4j.clientserver import JavaClient

    eng = _lookup_tables(spark, tmp_path)
    eng.sql("SELECT n FROM default.dv WHERE k = 33").collect()  # warm
    compiled = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    )
    sent = []
    real = JavaClient.send_command

    def spy(self, command, *args, **kwargs):
        if not command.startswith("m\nd\n"):  # a GC'd proxy's release
            sent.append(command)
        return real(self, command, *args, **kwargs)

    before = compiled.getCount()
    for stmt, want in (
        ("SELECT n, k FROM default.dv WHERE k = 34", [(340, 34)]),
        ("SELECT * FROM default.pos WHERE k = 51", None),
        ("SELECT n FROM default.dv WHERE k = 56", []),
    ):
        def lookup(stmt=stmt):
            with monkeypatch.context() as m:
                m.setattr(JavaClient, "send_command", spy)
                return eng.sql(stmt).collect()

        sent.clear()
        rows = jobless(spark, lookup)
        assert len(sent) <= 3, (stmt, sent)
        assert want is None and len(rows) == 1 or [tuple(r) for r in rows] == want
    assert compiled.getCount() == before
