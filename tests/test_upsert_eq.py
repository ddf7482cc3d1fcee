"""Equality-delete streaming upsert (LakeTable.upsert +
stream_into_lake mode='upsert-eq') — Iceberg's Flink-writer upsert
pattern: per micro-batch ONE add-only commit carrying an equality-delete
file on the merge keys plus the batch's data files. O(batch) write cost
vs MERGE's read-modify-write; differential-tested against MERGE mode per
the round-8 brief."""

from __future__ import annotations

import os

import pytest

from tests.conftest import one_part
from demo_iceberg_permanent_delete_spark.lake import Catalog, datafiles
from demo_iceberg_permanent_delete_spark.lake.metadata import (
    CONTENT_DATA,
    CONTENT_EQUALITY_DELETES,
)
from demo_iceberg_permanent_delete_spark.streaming.pipelines import (
    LAST_BATCH_PROP,
    read_event_stream,
    stream_into_lake,
)

DDL = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def _write_events_file(spark, path: str, rows: list[tuple], mtime: float) -> None:
    # (event_id, ts_seconds, user_id, event_type, value) — seconds scale
    # to nanos so ts survives the source's nanos→micros normalization
    df = one_part(
        spark,
        [(e, ts * 1_000_000_000, u, et, v, "{}") for e, ts, u, et, v in rows],
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string",
    )
    df.write.mode("overwrite").parquet(path)
    for f in os.listdir(path):
        os.utime(os.path.join(path, f), (mtime, mtime))


BATCHES = [
    # batch 0: initial inserts
    [(1, 10, 10, "view", 1.0), (2, 11, 11, "click", 2.0), (3, 12, 12, "view", 3.0)],
    # batch 1: update 2, insert 4 (key collision with batch 0)
    [(2, 20, 11, "click", 20.0), (4, 21, 13, "buy", 4.0)],
    # batch 2: update 1 AND 4, re-update 2 (collisions with both batches)
    [(1, 30, 10, "view", 100.0), (4, 31, 13, "buy", 40.0), (2, 32, 11, "x", 200.0)],
]


def _run(spark, tmp_path, mode: str, name: str) -> tuple:
    src = str(tmp_path / f"src_{name}")
    os.makedirs(src)
    for i, rows in enumerate(BATCHES):
        _write_events_file(
            spark, os.path.join(src, f"b{i}"), rows, 1000 * (i + 1)
        )
    cat = Catalog(spark, str(tmp_path / f"wh_{name}"))
    cat.create_namespace("default")
    t = cat.create_table(f"default.{name}", DDL)
    # maxFilesPerTrigger=1 → three true micro-batches in one run
    stream_into_lake(
        read_event_stream(spark, os.path.join(src, "*", "*.parquet"), 1),
        t,
        mode=mode,
        merge_keys=["event_id"],
        order_col="ts",
        checkpoint=str(tmp_path / f"ck_{name}"),
    )
    return cat, cat.load_table(f"default.{name}")


def _state(t) -> list[tuple]:
    return sorted(
        (r["event_id"], r["user_id"], r["event_type"], r["value"])
        for r in t.read().collect()
    )


def test_upsert_eq_differential_vs_merge(spark, tmp_path):
    """Same multi-batch stream with key collisions through both sinks:
    eq-upsert final table state ≡ MERGE-upsert final table state."""
    _, t_merge = _run(spark, tmp_path, "upsert", "m")
    _, t_eq = _run(spark, tmp_path, "upsert-eq", "e")
    expected = [
        (1, 10, "view", 100.0),
        (2, 11, "x", 200.0),
        (3, 12, "view", 3.0),
        (4, 13, "buy", 40.0),
    ]
    assert _state(t_merge) == expected
    assert _state(t_eq) == expected
    # the eq path is add-only: batches 1 and 2 each carry one eq-delete
    # file (batch 0 hit the empty-table fast path — nothing to mask)
    head = t_eq.metadata.current_snapshot()
    eq_files = [
        e for e in head.manifest if e.content == CONTENT_EQUALITY_DELETES
    ]
    assert len(eq_files) == 2
    assert all(e.equality_columns == ["event_id"] for e in eq_files)
    # every data file ever written is still live (no COW rewrite happened)
    assert all(
        s.operation in ("append", "overwrite")
        for s in t_eq.metadata.snapshots
    )
    assert t_eq.properties[LAST_BATCH_PROP].endswith(":2")


def test_upsert_eq_crash_replay_exactly_once(spark, tmp_path):
    """Re-running the same checkpoint with no new data commits nothing;
    new data under the same checkpoint lands exactly once."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_events_file(
        spark, os.path.join(src, "b0"), BATCHES[0], 1000
    )
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("default")
    t = cat.create_table("default.rep", DDL)
    glob = os.path.join(src, "*", "*.parquet")
    ckpt = str(tmp_path / "ck")
    kw = dict(mode="upsert-eq", merge_keys=["event_id"], order_col="ts")

    stream_into_lake(read_event_stream(spark, glob), t, checkpoint=ckpt, **kw)
    t = cat.load_table("default.rep")
    n_snaps = len(t.metadata.snapshots)
    assert t.read().count() == 3

    # idempotent replay: same checkpoint, no new files → no new snapshot
    stream_into_lake(read_event_stream(spark, glob), t, checkpoint=ckpt, **kw)
    t = cat.load_table("default.rep")
    assert len(t.metadata.snapshots) == n_snaps

    # new file resumes from the checkpoint: exactly the delta lands
    _write_events_file(spark, os.path.join(src, "b1"), BATCHES[1], 2000)
    stream_into_lake(read_event_stream(spark, glob), t, checkpoint=ckpt, **kw)
    t = cat.load_table("default.rep")
    assert {r["event_id"]: r["value"] for r in t.read().collect()} == {
        1: 1.0,
        2: 20.0,
        3: 3.0,
        4: 4.0,
    }
    assert t.properties[LAST_BATCH_PROP].endswith(":1")


def test_upsert_eq_compact_purges_eq_deletes(spark, tmp_path):
    """compact() folds the accumulated eq-deletes physically: same rows
    before and after, zero eq-delete files after."""
    _, t = _run(spark, tmp_path, "upsert-eq", "cp")
    before = _state(t)
    stats = t.compact()
    assert stats["full_rewrite"] is True  # eq-deletes force the rewrite
    t.refresh()
    head = t.metadata.current_snapshot()
    assert not [
        e for e in head.manifest if e.content == CONTENT_EQUALITY_DELETES
    ]
    assert _state(t) == before


def test_upsert_eq_batch_dedup_latest_wins(spark, tmp_path):
    """One micro-batch carrying several rows for a key keeps only the
    greatest order_col row — same rule as MERGE mode (without the dedup
    BOTH rows would survive the same-sequence delete)."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_events_file(
        spark,
        os.path.join(src, "b0"),
        [(1, 10, 10, "old", 1.0), (1, 20, 10, "new", 2.0), (2, 11, 11, "x", 9.0)],
        1000,
    )
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("default")
    t = cat.create_table("default.dd", DDL)
    stream_into_lake(
        read_event_stream(spark, os.path.join(src, "*", "*.parquet")),
        t,
        mode="upsert-eq",
        merge_keys=["event_id"],
        order_col="ts",
        checkpoint=str(tmp_path / "ck"),
    )
    t = cat.load_table("default.dd")
    rows = {r["event_id"]: r["event_type"] for r in t.read().collect()}
    assert rows == {1: "new", 2: "x"}


def test_table_upsert_unit_semantics(spark, tmp_path, monkeypatch):
    """Direct LakeTable.upsert: the commit's own data files survive its
    own eq-delete (same sequence number — strict < rule); older rows with
    matching keys are masked; unknown key columns are rejected; the
    empty-table first batch writes no delete file. The default driver
    budget derives the eq-delete keys with pyarrow; budget 0 takes the
    Spark read-distinct path: same rows, files and manifests."""
    for budget in (datafiles.DRIVER_MAX_ROWS, 0):
        monkeypatch.setattr(datafiles, "DRIVER_MAX_ROWS", budget)
        cat = Catalog(spark, str(tmp_path / f"wh{budget}"))
        cat.create_namespace("default")
        t = cat.create_table("default.u", "k bigint, v string")

        s1 = t.upsert(one_part(spark, [(1, "a"), (2, "b")], "k long, v string"), on=["k"])
        assert s1.operation == "overwrite"
        # empty-table fast path: no eq-delete entry in the first commit
        assert all(e.content == CONTENT_DATA for e in s1.manifest)

        s2 = t.upsert(one_part(spark, [(2, "B"), (3, "c")], "k long, v string"), on=["k"])
        eq = [e for e in s2.manifest if e.content == CONTENT_EQUALITY_DELETES]
        assert len(eq) == 1 and eq[0].equality_columns == ["k"]
        assert eq[0].record_count == 2  # the batch's distinct keys
        # both files of commit 2 share its sequence number
        assert all(
            e.sequence_number == s2.sequence_number
            for e in s2.manifest
            if e.added_snapshot_id == s2.snapshot_id
        )
        assert sorted((r["k"], r["v"]) for r in t.read().collect()) == [
            (1, "a"),
            (2, "B"),
            (3, "c"),
        ]
        # time travel: the pre-upsert snapshot still reads the old value
        assert sorted(
            (r["k"], r["v"]) for r in t.read(snapshot_id=s1.snapshot_id).collect()
        ) == [(1, "a"), (2, "b")]

        with pytest.raises(ValueError, match="not in table schema"):
            t.upsert(one_part(spark, [(1, "z")], "k long, v string"), on=["nope"])


def test_upsert_eq_changes_feed(spark, tmp_path):
    """CDC parity: an upsert commit emits DELETE for the masked
    parent-visible rows and INSERT for the batch rows."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("default")
    t = cat.create_table("default.cdc", "k bigint, v string")
    s1 = t.upsert(one_part(spark, [(1, "a"), (2, "b")], "k long, v string"), on=["k"])
    s2 = t.upsert(one_part(spark, [(2, "B")], "k long, v string"), on=["k"])
    rows = sorted(
        (r["_change_type"], r["k"], r["v"])
        for r in t.changes(
            start_snapshot_id=s1.snapshot_id, end_snapshot_id=s2.snapshot_id
        ).collect()
    )
    assert rows == [("DELETE", 2, "b"), ("INSERT", 2, "B")]


# ---------------------------------------------------- identifier fields
def test_identifier_fields_default_upsert_keys(spark, tmp_path):
    """SET IDENTIFIER FIELDS declares the row-identity key; upsert() and
    the streaming sink default their merge keys from it (Flink's upsert
    writer reads identifier fields the same way)."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("default")
    t = cat.create_table("default.idf", "k bigint, v string")
    with pytest.raises(ValueError, match="IDENTIFIER FIELDS"):
        t.upsert(one_part(spark, [(1, "a")], "k long, v string"))
    t.set_identifier_fields(["k"])
    t.upsert(one_part(spark, [(1, "a"), (2, "b")], "k long, v string"))
    t.upsert(one_part(spark, [(2, "B")], "k long, v string"))
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == [
        (1, "a"),
        (2, "B"),
    ]
    # rename carries the declaration; dropping an identifier field is
    # refused (Iceberg's rule — silent identity weakening corrupts
    # consumers defaulting their keys from it). Fold + expire the
    # eq-delete history first: renaming a retained equality key is
    # separately refused.
    import datetime as dt

    t.rewrite_data_files()
    t.expire_snapshots(older_than=dt.datetime(2100, 1, 1), retain_last=1)
    t.rename_column("k", "id")
    assert t.metadata.identifier_fields == ["id"]
    with pytest.raises(ValueError, match="identifier field"):
        t.drop_column("id")
    with pytest.raises(ValueError, match="not in table schema"):
        t.set_identifier_fields(["nope"])
    # reload persistence
    assert (
        Catalog(spark, str(tmp_path / "wh"))
        .load_table("default.idf")
        .metadata.identifier_fields
        == ["id"]
    )


def test_sql_identifier_fields_and_streaming_default_keys(spark, tmp_path):
    from demo_iceberg_permanent_delete_spark.lake.sql import LakeEngine

    eng = LakeEngine(spark, str(tmp_path / "wh_sql"))
    eng.sql("CREATE NAMESPACE IF NOT EXISTS demo.default")
    eng.sql(f"CREATE TABLE demo.default.sidf ({DDL}) USING iceberg")
    eng.sql("ALTER TABLE demo.default.sidf SET IDENTIFIER FIELDS event_id")
    t = eng.table("demo.default.sidf")
    assert t.metadata.identifier_fields == ["event_id"]
    desc = {
        r["col_name"]: r["data_type"]
        for r in eng.sql("DESCRIBE TABLE demo.default.sidf").collect()
    }
    assert desc["# Identifier fields"] == "event_id"

    # streaming upsert-eq with NO merge_keys: the identifier fields rule
    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_events_file(spark, os.path.join(src, "b0"), BATCHES[0], 1000)
    _write_events_file(spark, os.path.join(src, "b1"), BATCHES[1], 2000)
    stream_into_lake(
        read_event_stream(spark, os.path.join(src, "*", "*.parquet"), 1),
        t,
        mode="upsert-eq",
        order_col="ts",
        checkpoint=str(tmp_path / "ck"),
    )
    t = eng.table("demo.default.sidf")
    assert {r["event_id"]: r["value"] for r in t.read().collect()} == {
        1: 1.0,
        2: 20.0,
        3: 3.0,
        4: 4.0,
    }

    eng.sql("ALTER TABLE demo.default.sidf DROP IDENTIFIER FIELDS")
    t.refresh()
    assert t.metadata.identifier_fields == []


def test_compact_every_batches_bounds_eq_delete_accumulation(
    spark, tmp_path
):
    """compact_every_batches=N runs compaction inline after every N
    committed batches: eq-delete accumulation stays bounded inside the
    sink, final state unchanged, and the replace snapshots it commits
    don't disturb the exactly-once marker."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, rows in enumerate(BATCHES):
        _write_events_file(spark, os.path.join(src, f"b{i}"), rows, 1000 * (i + 1))
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("default")
    t = cat.create_table("default.mw", DDL)
    stream_into_lake(
        read_event_stream(spark, os.path.join(src, "*", "*.parquet"), 1),
        t,
        mode="upsert-eq",
        merge_keys=["event_id"],
        order_col="ts",
        checkpoint=str(tmp_path / "ck"),
        compact_every_batches=2,
    )
    t = cat.load_table("default.mw")
    assert _state(t) == [
        (1, 10, "view", 100.0),
        (2, 11, "x", 200.0),
        (3, 12, "view", 3.0),
        (4, 13, "buy", 40.0),
    ]
    # batch 1: no delete file (empty table); batch 2's was folded by the
    # inline compaction; only batch 3's survives at the head
    head = t.metadata.current_snapshot()
    eq = [e for e in head.manifest if e.content == CONTENT_EQUALITY_DELETES]
    assert len(eq) == 1
    assert any(s.operation == "replace" for s in t.metadata.snapshots)
    assert t.properties[LAST_BATCH_PROP].endswith(":2")
    with pytest.raises(ValueError, match="compact_every_batches"):
        stream_into_lake(
            read_event_stream(spark, os.path.join(src, "*", "*.parquet")),
            t,
            mode="append",
            compact_every_batches=0,
        )


def test_stream_into_lake_branch_ingest_wap(spark, tmp_path):
    """Streaming WAP: append-mode ingest to a branch accumulates commits
    invisible to main until fast_forward publishes; the exactly-once
    marker rides the branch commits; non-append branch ingest rejected."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_events_file(spark, os.path.join(src, "b0"), BATCHES[0], 1000)
    _write_events_file(spark, os.path.join(src, "b1"), BATCHES[1], 2000)
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("default")
    t = cat.create_table("default.wap", DDL)
    t.insert(
        one_part(spark, [(99, None, 9, "seed", 0.0, "{}")], DDL)
    )
    t.create_branch("audit")
    stream_into_lake(
        read_event_stream(spark, os.path.join(src, "*", "*.parquet"), 1),
        t,
        mode="append",
        branch="audit",
        checkpoint=str(tmp_path / "ck"),
    )
    t = cat.load_table("default.wap")
    assert t.read().count() == 1  # main untouched by the stream
    assert t.read(ref="audit").count() == 1 + 5  # seed + both batches
    assert t.properties[LAST_BATCH_PROP].endswith(":1")
    t.fast_forward("main", t.resolve_ref("audit"))  # publish
    assert t.read().count() == 6

    import pytest as _pytest

    # an unknown branch still fails loudly (mode='upsert' on a branch is
    # now supported — see test_stream_merge_upsert_on_branch)
    with _pytest.raises(KeyError, match="unknown branch"):
        stream_into_lake(
            read_event_stream(spark, os.path.join(src, "*", "*.parquet")),
            t,
            mode="upsert-eq",
            merge_keys=["event_id"],
            branch="nope",
        )


def test_stream_into_lake_branch_upsert_eq_wap(spark, tmp_path):
    """Streaming WAP × upsert-eq (round-9 brief item 3): eq-delete upsert
    commits stage on the branch (main untouched), fast_forward publishes,
    and the published state is IDENTICAL to the same stream upserted
    straight into main. Replay across the publish boundary is
    exactly-once (the marker rides the shared metadata document)."""
    # reference run: same batches upserted directly into main
    _, t_main = _run(spark, tmp_path, "upsert-eq", "direct")

    src = str(tmp_path / "src_wap")
    os.makedirs(src)
    for i, rows in enumerate(BATCHES):
        _write_events_file(spark, os.path.join(src, f"b{i}"), rows, 1000 * (i + 1))
    cat = Catalog(spark, str(tmp_path / "wh_wap"))
    cat.create_namespace("default")
    t = cat.create_table("default.wapu", DDL)
    t.truncate()  # a branch needs a snapshot to reference (empty is fine)
    t.create_branch("audit")
    ck = str(tmp_path / "ck_wap")
    stream_into_lake(
        read_event_stream(spark, os.path.join(src, "*", "*.parquet"), 1),
        t,
        mode="upsert-eq",
        merge_keys=["event_id"],
        order_col="ts",
        branch="audit",
        checkpoint=ck,
    )
    t = cat.load_table("default.wapu")
    assert t.read().count() == 0, "main untouched before publish"
    assert t.read(ref="audit").count() == 4
    # the branch head chain carries one eq-upsert commit per batch
    assert t.properties[LAST_BATCH_PROP].endswith(":2")
    t.fast_forward("main", t.resolve_ref("audit"))  # publish
    assert _state(t.refresh()) == _state(t_main)
    # replay across the publish boundary: rerunning the SAME checkpoint
    # re-offers the batches; the marker (in the shared metadata document,
    # not the branch) skips them all — no duplicate commits
    n_snaps = len(t.metadata.snapshots)
    stream_into_lake(
        read_event_stream(spark, os.path.join(src, "*", "*.parquet"), 1),
        t,
        mode="upsert-eq",
        merge_keys=["event_id"],
        order_col="ts",
        branch="audit",
        checkpoint=ck,
    )
    t = cat.load_table("default.wapu")
    assert len(t.metadata.snapshots) == n_snaps
    assert _state(t) == _state(t_main)


def test_upsert_keys_from_written_files(spark, tmp_path):
    """The eq-delete key set is derived from the batch's WRITTEN data
    files, not a re-evaluation of the incoming plan (round-9 advisor
    finding): a non-deterministic source must not leave stale duplicates
    unmasked."""
    from pyspark.sql import functions as F

    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("default")
    t = cat.create_table("default.nd", "k bigint, v double")
    t.insert(one_part(spark, [(1, 1.0), (2, 2.0), (3, 3.0)], "k long, v double"))
    # a plan whose key values CHANGE on re-evaluation: rand() picks k
    nd = (
        spark.range(1)
        .select(
            (F.floor(F.rand() * 3) + 1).cast("long").alias("k"),
            F.lit(99.0).alias("v"),
        )
    )
    # several rounds drive the regression probability to ~1 (each
    # re-evaluation mismatch leaves a duplicate key behind)
    for _ in range(5):
        t.upsert(nd, on=["k"])
        rows = t.read().collect()
        assert len(rows) == 3, (
            f"stale duplicate key survived: {sorted((r['k'], r['v']) for r in rows)}"
        )


def test_branch_compaction_cadence_bounds_branch_and_publishes(spark, tmp_path):
    """compact_every_batches composed with a branch ingest compacts the
    BRANCH head (round-9 advisor finding: compacting main never bounds
    the branch and its replace commit made the publish raise 'not a
    descendant'): eq-delete accumulation on the ingest branch stays
    bounded, main is untouched until fast_forward, and the published
    state equals the direct-to-main run."""
    _, t_main = _run(spark, tmp_path, "upsert-eq", "direct_bc")

    src = str(tmp_path / "src_bc")
    os.makedirs(src)
    for i, rows in enumerate(BATCHES):
        _write_events_file(spark, os.path.join(src, f"b{i}"), rows, 1000 * (i + 1))
    cat = Catalog(spark, str(tmp_path / "wh_bc"))
    cat.create_namespace("default")
    t = cat.create_table("default.bc", DDL)
    t.truncate()
    t.create_branch("audit")
    stream_into_lake(
        read_event_stream(spark, os.path.join(src, "*", "*.parquet"), 1),
        t,
        mode="upsert-eq",
        merge_keys=["event_id"],
        order_col="ts",
        branch="audit",
        checkpoint=str(tmp_path / "ck_bc"),
        compact_every_batches=2,
    )
    t = cat.load_table("default.bc")
    assert t.read().count() == 0, "main untouched before publish"
    # the cadence-2 compaction ran ON the branch: its head chain holds a
    # replace snapshot, and eq-delete files are bounded (batch 2's folded;
    # only batch 3's survives)
    head = t.metadata.snapshot_by_id(t.resolve_ref("audit"))
    eq = [e for e in head.manifest if e.content == CONTENT_EQUALITY_DELETES]
    assert len(eq) == 1
    ops = []
    walk = head
    while walk is not None:
        ops.append(walk.operation)
        walk = (
            t.metadata._maybe_snapshot(walk.parent_id)
            if walk.parent_id is not None
            else None
        )
    assert "replace" in ops, "compaction must have committed on the branch"
    t.fast_forward("main", t.resolve_ref("audit"))  # publish still works
    assert _state(t.refresh()) == _state(t_main)


def test_stream_merge_upsert_on_branch(spark, tmp_path):
    """mode='upsert' (MERGE) now stages on a branch too: the
    read-modify-write plans against the BRANCH head each batch; after
    fast_forward the state equals the direct-to-main MERGE run."""
    _, t_main = _run(spark, tmp_path, "upsert", "direct_m")

    src = str(tmp_path / "src_m")
    os.makedirs(src)
    for i, rows in enumerate(BATCHES):
        _write_events_file(spark, os.path.join(src, f"b{i}"), rows, 1000 * (i + 1))
    cat = Catalog(spark, str(tmp_path / "wh_m"))
    cat.create_namespace("default")
    t = cat.create_table("default.mb", DDL)
    t.truncate()
    t.create_branch("audit")
    stream_into_lake(
        read_event_stream(spark, os.path.join(src, "*", "*.parquet"), 1),
        t,
        mode="upsert",
        merge_keys=["event_id"],
        order_col="ts",
        branch="audit",
        checkpoint=str(tmp_path / "ck_m"),
    )
    t = cat.load_table("default.mb")
    assert t.read().count() == 0, "main untouched before publish"
    assert _state_ref(t, "audit") == _state(t_main)
    t.fast_forward("main", t.resolve_ref("audit"))
    assert _state(t.refresh()) == _state(t_main)


def _state_ref(t, ref) -> list[tuple]:
    return sorted(
        (r["event_id"], r["user_id"], r["event_type"], r["value"])
        for r in t.read(ref=ref).collect()
    )


def test_upsert_and_equality_delete_wap_id(spark, tmp_path):
    """X79 symmetry for the add-only writers: upsert(wap_id=) and
    equality_delete(wap_id=/branch=) stage/route like every other DML —
    invisible until published, branch+wap.id rejected."""
    import pytest

    from demo_iceberg_permanent_delete_spark.lake import Catalog

    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("default")
    t = cat.create_table("default.u", "k bigint, v string")
    t.insert(one_part(spark, [(1, "a"), (2, "b")], "k bigint, v string"))
    head = t.metadata.current_snapshot_id

    staged = t.upsert(
        one_part(spark, [(2, "B"), (3, "c")], "k bigint, v string"),
        on=["k"],
        wap_id="u1",
    )
    assert t.metadata.current_snapshot_id == head, "staged upsert moved main"
    assert staged.summary["wap.id"] == "u1"
    assert {r["k"]: r["v"] for r in t.read().collect()} == {1: "a", 2: "b"}
    t.cherrypick_snapshot(staged.snapshot_id)
    assert {r["k"]: r["v"] for r in t.read().collect()} == {
        1: "a",
        2: "B",
        3: "c",
    }

    # equality_delete: staged, then branch-targeted
    head = t.metadata.current_snapshot_id
    sd = t.equality_delete(one_part(spark, [(1,)], "k bigint"), ["k"], wap_id="e1")
    assert t.metadata.current_snapshot_id == head
    assert sd.summary["wap.id"] == "e1"
    assert t.read().count() == 3, "staged eq-delete invisible"
    t.cherrypick_snapshot(sd.snapshot_id)
    assert sorted(r["k"] for r in t.read().collect()) == [2, 3]

    t.create_branch("b")
    bd = t.equality_delete(one_part(spark, [(2,)], "k bigint"), ["k"], branch="b")
    assert bd is not None
    assert sorted(r["k"] for r in t.read().collect()) == [2, 3], "main untouched"
    assert sorted(r["k"] for r in t.read(ref="b").collect()) == [3]

    with pytest.raises(ValueError, match="cannot set both"):
        t.upsert(one_part(spark, [(9, "z")], "k bigint, v string"), on=["k"], branch="b", wap_id="x")
    with pytest.raises(ValueError, match="cannot set both"):
        t.equality_delete(one_part(spark, [(9,)], "k bigint"), ["k"], branch="b", wap_id="x")
