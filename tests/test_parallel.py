"""Driver-side overlap primitives added in the round-11 optimization pass:
``parallel.run_concurrent``, ``streaming.run_available_now_many``, and the
refcounted TIMESTAMP_MICROS write guard that makes concurrent lake writes
safe in sessions that don't pin the conf themselves."""

import threading
import time

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from demo_iceberg_permanent_delete_spark.parallel import run_concurrent


def test_run_concurrent_results_in_input_order(spark):
    out = run_concurrent(lambda: "a", lambda: "b", lambda: "c")
    assert out == ["a", "b", "c"]


def test_run_concurrent_single_thunk_runs_inline(spark):
    tid = run_concurrent(lambda: threading.get_ident())
    assert tid == [threading.get_ident()]


def test_run_concurrent_propagates_exception_after_settling(spark):
    finished = []

    def slow_ok():
        time.sleep(0.2)
        finished.append(True)
        return 1

    def fast_fail():
        raise ValueError("boom")

    with pytest.raises(ValueError, match="boom"):
        run_concurrent(slow_ok, fast_fail)
    # the failing thunk must not have torn us out before the sibling
    # settled (its fixtures could still be in use)
    assert finished == [True]


def test_run_concurrent_actually_overlaps_spark_jobs(spark):
    def job():
        return spark.range(100_000).agg(F.sum("id")).collect()[0][0]

    t0 = time.perf_counter()
    a, b = run_concurrent(job, job)
    assert a == b == 99_999 * 100_000 // 2
    # no timing assertion (CI noise) — correctness of overlap is that
    # both jobs completed from sibling threads in one session
    assert time.perf_counter() - t0 < 60


def test_run_available_now_many_matches_sequential(spark, tmp_path):
    from demo_iceberg_permanent_delete_spark.streaming.pipelines import (
        run_available_now,
        run_available_now_many,
    )

    src = str(tmp_path / "src")
    spark.range(1000).withColumn(
        "ts", F.timestamp_micros(F.col("id") * 1_000_000)
    ).withColumn("k", F.col("id") % 7).write.parquet(src)

    def counts():
        return (
            spark.readStream.schema("id long, ts timestamp, k long")
            .parquet(src)
            .withWatermark("ts", "10 seconds")
            .groupBy("k")
            .count()
        )

    def sums():
        return (
            spark.readStream.schema("id long, ts timestamp, k long")
            .parquet(src)
            .withWatermark("ts", "10 seconds")
            .groupBy("k")
            .agg(F.sum("id").alias("s"))
        )

    before = spark.conf.get("spark.sql.shuffle.partitions")
    got_c, got_s = run_available_now_many(
        [counts(), sums()], output_modes="complete", state_partitions=2
    )
    # conf restored once every query terminated
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    want_c = run_available_now(
        counts(), output_mode="complete", state_partitions=2
    )
    want_s = run_available_now(
        sums(), output_mode="complete", state_partitions=2
    )
    assert sorted(map(tuple, got_c.collect())) == sorted(
        map(tuple, want_c.collect())
    )
    assert sorted(map(tuple, got_s.collect())) == sorted(
        map(tuple, want_s.collect())
    )


def test_micros_guard_concurrent_writes_in_unpinned_session(spark, tmp_path):
    """Two concurrent write_data_files in a session that does NOT pin
    outputTimestampType: both files must come out TIMESTAMP_MICROS (INT64,
    stats-bearing) and the conf must be back to unset afterwards — the old
    per-write set/restore raced exactly here and could emit INT96."""
    from demo_iceberg_permanent_delete_spark.lake.datafiles import (
        write_data_files,
    )

    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key, None)
    if prev is not None:
        spark.conf.unset(key)
    try:
        df = spark.range(100).withColumn(
            "ts", F.timestamp_micros(F.col("id") * 1_000_000)
        )
        dirs = [str(tmp_path / f"t{i}") for i in range(2)]
        entries = run_concurrent(
            *[lambda d=d: write_data_files(df, d) for d in dirs]
        )
        for es in entries:
            assert es, "write must produce entries"
            for e in es:
                arrow_type = pq.read_schema(e.file_path).field("ts").type
                assert str(arrow_type).startswith("timestamp[us"), str(
                    arrow_type
                )
                # micros carry footer stats: ts bounds must be harvested
                assert "ts" in e.min_values and "ts" in e.max_values
        assert spark.conf.get(key, None) is None, "guard leaked the conf"
    finally:
        if prev is not None:
            spark.conf.set(key, prev)


def test_session_conf_override_holds_under_thread_stress(spark):
    """Many threads entering and leaving one per-session override on two
    sessions, with a short switch interval: every holder sees the
    override on its own session, and the last one out restores it."""
    import sys

    from demo_iceberg_permanent_delete_spark.session import SessionConfOverride

    key = "spark.sql.parquet.compression.codec"
    override = SessionConfOverride(key)
    sessions = [spark, spark.newSession()]
    before = [s.conf.get(key, None) for s in sessions]
    wrong: list[str] = []

    def hold(session):
        for _ in range(20):
            with override(session, "zstd"):
                got = session.conf.get(key)
                if got != "zstd":
                    wrong.append(got)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=hold, args=(sessions[i % 2],))
            for i in range(8)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not wrong
    assert [s.conf.get(key, None) for s in sessions] == before
