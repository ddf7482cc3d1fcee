"""Executor-backed metadata views (VERDICT r1 scale fix #2): past the size
gate, .files and .all_entries are computed from the JSONL delta manifests
by executors — same rows as the driver-local build, and the plan provably
scans the manifest files instead of a LocalRelation."""

from __future__ import annotations

import pytest

from tests.conftest import one_part
from demo_iceberg_permanent_delete_spark.lake import Catalog, datafiles

DDL = "k bigint, name string"


@pytest.fixture
def lifecycle_table(spark, tmp_path):
    """Insert ×3, MOR delete, COW-ish rewrite — several snapshots with
    adds AND removals so all three status codes appear in .all_entries."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.create_namespace("default")
    t = cat.create_table(
        "default.mv", DDL, properties={"write.delete.mode": "merge-on-read"}
    )
    for lo in (0, 10, 20):
        t.insert(
            one_part(spark, 
                [(lo + i, f"n{lo + i}") for i in range(5)], DDL
            )
        )
    t.delete("k = 11")
    t.rewrite_data_files()
    return t


def _collect(df, key):
    return sorted(map(str, df.collect()))


def test_distributed_views_match_local(lifecycle_table, monkeypatch):
    t = lifecycle_table
    local_files = _collect(t.meta("files"), "file_path")
    local_entries = _collect(t.meta("all_entries"), "data_file")
    assert any("status=2" in r for r in local_entries), "fixture lacks removals"

    monkeypatch.setattr(datafiles, "DRIVER_MAX_ROWS", 0)
    dist_files_df = t.meta("files")
    dist_entries_df = t.meta("all_entries")

    # the distributed plans really scan the JSONL manifests
    assert any("manifest-" in f for f in dist_files_df.inputFiles())
    assert any("manifest-" in f for f in dist_entries_df.inputFiles())

    assert _collect(dist_files_df, "file_path") == local_files
    assert _collect(dist_entries_df, "data_file") == local_entries


def test_distributed_views_after_expire(lifecycle_table, monkeypatch):
    """Post-expire, survivors resolve through a materialized base — both
    view strategies must still agree."""
    import datetime as dt

    t = lifecycle_table
    t.expire_snapshots(dt.datetime.now(dt.timezone.utc))
    local_files = _collect(t.meta("files"), "file_path")
    local_entries = _collect(t.meta("all_entries"), "data_file")

    monkeypatch.setattr(datafiles, "DRIVER_MAX_ROWS", 0)
    assert _collect(t.meta("files"), "file_path") == local_files
    assert _collect(t.meta("all_entries"), "data_file") == local_entries


def test_snapshots_view_exposes_summary(lifecycle_table):
    rows = lifecycle_table.meta("snapshots").collect()
    assert all(r["summary"] is not None for r in rows)
    appends = [r for r in rows if r["operation"] == "append"]
    assert appends and all(
        int(r["summary"]["added-files"]) >= 1 and "total-files" in r["summary"]
        for r in appends
    )
