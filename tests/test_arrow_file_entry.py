"""write_arrow_file builds each manifest entry from the table it wrote and
the footer pyarrow handed back, without reopening the file, and the
entry is the one a re-read of the file gives, field for field."""

from __future__ import annotations

import dataclasses
import datetime as dt
import os
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from demo_iceberg_permanent_delete_spark.lake import datafiles
from demo_iceberg_permanent_delete_spark.lake.metadata import (
    CONTENT_DATA,
    CONTENT_EQUALITY_DELETES,
    CONTENT_POSITION_DELETES,
)


def _dv(n_files: int) -> pa.Table:
    paths = [f"/wh/t/data/data-{i:03d}.parquet" for i in range(n_files)]
    positions = [[i, i + 3, i + 9] for i in range(n_files)]
    return pa.table(
        {
            "file_path": paths,
            "positions": pa.array(positions, pa.list_(pa.int64())),
            "cardinality": pa.array([3] * n_files, pa.int64()),
        }
    )


_CASES = {
    "dv": (_dv(3), CONTENT_POSITION_DELETES, "cardinality"),
    "dv_past_referenced_cap": (_dv(70), CONTENT_POSITION_DELETES, "cardinality"),
    "position_deletes": (
        pa.table(
            {
                "file_path": ["/wh/t/data/b.parquet", "/wh/t/data/a.parquet", None],
                "pos": pa.array([4, 1, 2], pa.int64()),
            }
        ),
        CONTENT_POSITION_DELETES,
        None,
    ),
    "equality_delete_keys": (
        pa.table({"k": pa.array([3, None, 1], pa.int64()), "b": ["x", "y", None]}),
        CONTENT_EQUALITY_DELETES,
        None,
    ),
    "data": (
        pa.table(
            {
                "id": pa.array([2, 1, None], pa.int64()),
                "price": pa.array(
                    [Decimal("10.50"), Decimal("9.75"), None], pa.decimal128(10, 2)
                ),
                "wide": pa.array([Decimal("1.5"), None, None], pa.decimal128(30, 1)),
                "text": ["a" * 40, "zzzzzzzzzzzzzzzzzzz" + "q", "\U0010ffff" * 20],
                "day": [dt.date(2024, 1, 2), dt.date(1969, 12, 31), None],
                "ts": pa.array(
                    [dt.datetime(2024, 1, 1, 12), None, dt.datetime(1999, 1, 1)],
                    pa.timestamp("us", tz="UTC"),
                ),
                "f": [float("nan"), -0.0, 1.5],
                "all_null": pa.array([None, None, None], pa.int32()),
                "_row_id": pa.array([0, 1, 2], pa.int64()),
            }
        ),
        CONTENT_DATA,
        None,
    ),
}


@pytest.mark.parametrize("case", sorted(_CASES))
def test_entry_equals_the_reread_entry(tmp_path, monkeypatch, case):
    table, content, record_count_from = _CASES[case]

    def reopened(*args, **kwargs):
        raise AssertionError("write_arrow_file reopened the file it wrote")

    with monkeypatch.context() as m:
        for name in ("read_table", "read_metadata", "read_schema", "ParquetFile"):
            m.setattr(pq, name, reopened)
        (entry,) = datafiles.write_arrow_file(
            table,
            str(tmp_path),
            content=content,
            record_count_from=record_count_from,
        )
    reread = datafiles._manifest_entry(entry.file_path, content, record_count_from)
    assert dataclasses.asdict(entry) == dataclasses.asdict(reread)
    if case == "dv":
        assert entry.record_count == 9
        assert len(entry.referenced_files) == 3
    if case == "dv_past_referenced_cap":
        assert entry.referenced_files == []
    if case == "data":
        assert entry.max_values["text"] != table.column("text")[1].as_py()
        assert entry.min_values["price"] == {"dec": "9.75"}


def test_zero_row_file_is_removed_either_way(tmp_path):
    """A zero-row file yields no entry and is removed, whether the entry
    is built from memory or from the file."""
    empty = pa.table({"k": pa.array([], pa.int64())})
    path = str(tmp_path / "empty.parquet")
    footer = []
    pq.write_table(empty, path, metadata_collector=footer)
    got = datafiles._manifest_entry(
        path, CONTENT_DATA, None, footer=footer[0], table=empty
    )
    assert got is None and not os.path.exists(path)
    pq.write_table(empty, path)
    assert datafiles._manifest_entry(path, CONTENT_DATA, None) is None
    assert not os.path.exists(path)
    assert datafiles.write_arrow_file(empty, str(tmp_path)) == []
    assert os.listdir(tmp_path) == []
