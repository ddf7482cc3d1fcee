"""Bounded (availableNow) runs pay only for what their input needs.

- An append-mode call whose every stateful operator emits on arrival
  (dedup, inner stream-stream join) runs without the trailing no-data
  batch; windows, timeouts and outer joins keep it.
- The registered streaming queries size their state partitions from the
  rows their source files declare; an explicit ``state_partitions`` wins.
- A run leaves no memory-sink view behind.
"""

from __future__ import annotations

import datetime as dt
import os
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMOKE
from demo_iceberg_permanent_delete_spark.operators.streaming_queries import (
    ROWS_PER_STATE_PARTITION,
    state_partitions_for,
)
from demo_iceberg_permanent_delete_spark.streaming.pipelines import (
    _no_data_batches,
    interval_join_stream,
    read_event_stream,
    run_available_now,
    run_available_now_many,
    stateful_session_stream,
    streaming_dedup,
    tumbling_count_stream,
)

BASE = dt.datetime(2024, 1, 1, 10, 0, 0)
NO_DATA_KEY = "spark.sql.streaming.noDataMicroBatches.enabled"


class _Progress:
    """Micro-batch progress per query, from a StreamingQueryListener."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.by_query: dict[str, list] = {}
        self.ended = 0
        cond = self.cond = threading.Condition()
        outer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with cond:
                    outer.by_query.setdefault(event.progress.name, []).append(
                        event.progress
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with cond:
                    outer.ended += 1
                    cond.notify_all()

        self.listener = Listener()
        spark.streams.addListener(self.listener)

    def batches(self, queries: int) -> list[int]:
        """Batch count of each query, once ``queries`` have terminated (the
        listener bus delivers a query's progress before its end)."""
        with self.cond:
            assert self.cond.wait_for(lambda: self.ended >= queries, timeout=30)
            return sorted(len(p) for p in self.by_query.values())


@pytest.fixture
def progress(spark):
    p = _Progress(spark)
    yield p
    spark.streams.removeListener(p.listener)


def _events_file(path: str, rows: list[tuple]) -> str:
    """One parquet file of events-shaped rows
    (event_id, minutes after BASE, user_id, event_type)."""
    ts = [BASE + dt.timedelta(minutes=m) for _e, m, _u, _t in rows]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        ),
        path,
    )
    return path


@pytest.fixture
def one_batch_events(tmp_path):
    """Single-file source: every bounded run reads it in one data batch.
    Final watermark = 10:50 (last event 11:00 minus the 10-minute delay)."""
    return _events_file(
        str(tmp_path / "events.parquet"),
        [
            (1, 0, 100, "purchase"),
            (2, 5, 100, "click"),
            (2, 5, 100, "click"),  # in-batch duplicate of event 2
            (3, 30, 200, "view"),
            (4, 31, 200, "view"),
            (5, 60, 400, "view"),
        ],
    )


def test_dedup_and_inner_join_run_one_batch_each(spark, one_batch_events, progress):
    path = one_batch_events
    dedup, pairs = run_available_now_many(
        [
            streaming_dedup(read_event_stream(spark, path)),
            interval_join_stream(
                read_event_stream(spark, path).filter("event_type = 'purchase'"),
                read_event_stream(spark, path),
            ),
        ],
        output_modes="append",
    )
    assert sorted(r["event_id"] for r in dedup.collect()) == [1, 2, 3, 4, 5]
    # the purchase at 10:00 pairs with both copies of the 10:05 click
    assert sorted((r["purchase_id"], r["click_id"]) for r in pairs.collect()) == [
        (1, 2),
        (1, 2),
    ]
    assert progress.batches(2) == [1, 1]
    assert spark.conf.get(NO_DATA_KEY, None) is None  # override released


def test_append_window_keeps_its_closing_batch(spark, one_batch_events, progress):
    out = run_available_now(
        tumbling_count_stream(read_event_stream(spark, one_batch_events)),
        output_mode="append",
    )
    rows = {(r["window_start"], r["event_type"]): r["n_events"] for r in out.collect()}
    # windows ending by the final watermark (10:50) are emitted by the
    # trailing batch; [11:00, 11:10) stays open
    assert rows == {
        (BASE, "purchase"): 1,
        (BASE, "click"): 2,
        (BASE + dt.timedelta(minutes=30), "view"): 2,
    }
    assert progress.batches(1) == [2]


def test_event_time_timeouts_still_fire(spark, one_batch_events, progress):
    out = run_available_now(
        stateful_session_stream(read_event_stream(spark, one_batch_events)),
        output_mode="append",
    )
    got = sorted((r["user_id"], r["n_events"]) for r in out.collect())
    # users 100 (timeout 10:15) and 200 (10:41) time out under the final
    # watermark 10:50; user 400 (11:10) stays open
    assert got == [(100, 3), (200, 2)]
    assert progress.batches(1) == [2]


def test_overlapping_call_waits_for_its_closing_batch(spark, one_batch_events):
    """A call that needs the trailing batch does not start under another
    call's "off": it waits for it to end."""
    out = {}

    def windows():
        out["rows"] = run_available_now(
            tumbling_count_stream(read_event_stream(spark, one_batch_events)),
            output_mode="append",
        ).count()

    _no_data_batches.enter(spark, "false")
    try:
        t = threading.Thread(target=windows)
        t.start()
        time.sleep(1.0)
        assert t.is_alive() and "rows" not in out
    finally:
        _no_data_batches.leave(spark)
    t.join(120)
    assert not t.is_alive()
    assert out["rows"] == 3


def test_bounded_run_leaves_no_sink_view(spark, one_batch_events):
    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = temp_views()
    frames = [
        run_available_now(streaming_dedup(read_event_stream(spark, one_batch_events)))
        for _ in range(3)
    ]
    assert temp_views() == before
    assert [f.count() for f in frames] == [5, 5, 5]


def _shuffle_partitions_used(progress) -> set[int]:
    with progress.cond:
        return {
            op.numShufflePartitions
            for ps in progress.by_query.values()
            for p in ps
            for op in p.stateOperators
        }


def test_registered_query_sizes_state_from_rows(spark, progress):
    from demo_iceberg_permanent_delete_spark import registry
    from demo_iceberg_permanent_delete_spark.sources.tables import table_path

    registry.all_queries()["streaming_session_windows"](spark, SF_SMOKE).count()
    progress.batches(1)
    assert _shuffle_partitions_used(progress) == {
        state_partitions_for(table_path(SF_SMOKE, "events"))
    }


def test_explicit_state_partitions_override_the_rule(spark, one_batch_events, progress):
    run_available_now(
        tumbling_count_stream(read_event_stream(spark, one_batch_events)),
        output_mode="complete",
        state_partitions=3,
    ).count()
    progress.batches(1)
    assert _shuffle_partitions_used(progress) == {3}


def _ids(n: int, start: int = 0) -> pa.Table:
    return pa.table({"event_id": pa.array(range(start, start + n), pa.int64())})


@pytest.mark.parametrize(
    "rows, want",
    [
        (0, 1),
        (1, 1),
        (ROWS_PER_STATE_PARTITION, 1),
        (ROWS_PER_STATE_PARTITION + 1, 2),
    ],
)
def test_state_partitions_follow_source_rows(tmp_path, rows, want):
    # a file
    single = str(tmp_path / "one.parquet")
    pq.write_table(_ids(rows), single)
    assert state_partitions_for(single) == want
    # a directory of two files, one nested
    d = tmp_path / "dir"
    os.makedirs(d / "sub")
    half = rows // 2
    pq.write_table(_ids(half), str(d / "a.parquet"))
    pq.write_table(_ids(rows - half, half), str(d / "sub" / "b.parquet"))
    assert state_partitions_for(str(d)) == want
    # a glob over the nested file and a sibling directory's
    os.makedirs(tmp_path / "dir2" / "sub")
    os.replace(d / "a.parquet", tmp_path / "dir2" / "sub" / "a.parquet")
    assert state_partitions_for(str(tmp_path / "dir*" / "*" / "*.parquet")) == want


def test_state_partitions_without_source_files(tmp_path):
    assert state_partitions_for(str(tmp_path / "missing" / "*.parquet")) == 1


def test_trailing_batch_rule_reads_the_plan(spark, one_batch_events):
    from pyspark.sql import functions as F

    from demo_iceberg_permanent_delete_spark.streaming.pipelines import (
        _emits_on_arrival,
        session_window_stream,
        user_profile_stream,
    )

    def events():
        return read_event_stream(spark, one_batch_events)

    def joined(how):
        a = events().withWatermark("ts", "10 minutes").alias("a")
        b = events().withWatermark("ts", "10 minutes").alias("b")
        cond = F.expr(
            "a.user_id = b.user_id AND b.ts BETWEEN a.ts AND a.ts + INTERVAL 1 MINUTE"
        )
        return a.join(b, cond, how)

    on_arrival = {
        "dedup": streaming_dedup(events()),
        "drop_duplicates": events().withWatermark("ts", "10 minutes").dropDuplicates(
            ["event_id", "ts"]
        ),
        "inner_join": joined("inner"),
        "union": events().unionByName(events()),
    }
    keeps_batch = {
        "left_outer_join": joined("left_outer"),
        "tumbling": tumbling_count_stream(events()),
        "session_window": session_window_stream(events()),
        "timeouts": stateful_session_stream(events()),
        "custom_state": user_profile_stream(events()),
    }
    assert {k: _emits_on_arrival(df) for k, df in on_arrival.items()} == dict.fromkeys(
        on_arrival, True
    )
    assert {k: _emits_on_arrival(df) for k, df in keeps_batch.items()} == dict.fromkeys(
        keeps_batch, False
    )
