"""Driver-contract entries for the streaming surface.

Each query runs a bounded ``availableNow`` pass of a streaming pipeline
over ``events.parquet`` and returns the sink contents. In a single-batch
bounded run the watermark drops nothing, so complete/append-mode outputs
are fully deterministic and DuckDB-oracle-checkable — a stronger gate than
rows-only. (The late-data/watermark semantics that CAN'T be expressed in
batch SQL are exercised in tests/test_streaming.py with multi-batch
triggers.)

At these sizes a bounded run's cost is fixed per micro-batch and per state
partition, not per row. Each query sizes its state partitions from the
rows its source files declare (:func:`state_partitions_for`), and the
append-mode composite runs without the trailing no-data batch, whose only
work would be evicting state (``run_available_now_many``).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from demo_iceberg_permanent_delete_spark.registry import query
from demo_iceberg_permanent_delete_spark.sources.tables import table_path
from demo_iceberg_permanent_delete_spark.streaming.pipelines import (
    interval_join_stream,
    probe_source,
    read_event_stream,
    run_available_now,
    run_available_now_many,
    session_window_stream,
    streaming_dedup,
    tumbling_count_stream,
    user_profile_stream,
)

ROWS_PER_STATE_PARTITION = 25_000


def state_partitions_for(path: str) -> int:
    """State partitions for a bounded run over ``path`` (a parquet file, a
    directory or a glob): one per ``ROWS_PER_STATE_PARTITION`` rows the
    source's footers declare, at least one.

    Each state partition costs a per-batch state-store commit (~50-200 ms
    of delta file + fsync), so many partitions of fixed overhead dwarf a
    small bounded state (32 → 8 partitions took the sf0.1 dedup from
    7.1 s to 1.9 s). ``applyInPandasWithState`` (the user-profile entry)
    pays a Python worker round trip per partition instead, which
    parallelizes, so it gains from more partitions on larger inputs. Two
    hand-tuned constants used to encode this: 4 for the JVM stateful
    operators and 8 for the profile operator (round-12 sweep: dedup +
    interval join 3.79 s at 8 → 2.57 s at 4, tumbling 1.03 → 0.89,
    session 1.21 → 1.10, user profiles 1.78 s at 8 vs 2.48 s at 4).

    The rule follows the input, not the host's core count. Sweep, warm,
    4-core host, trailing no-data batch already skipped for the dedup
    composite; wall/CPU s at 1/2/4/8 partitions:

    - sf0.01 (10k rows): dedup composite 1.76/2.24, 1.91/2.29, 2.17/2.87,
      2.86/4.30; user profiles 1.64/2.05, 1.35/2.19, 1.28/3.05, 1.90/4.80;
      session and tumbling windows cheapest at 1 (CPU 1.02 and 1.20).
    - sf0.1 (100k rows): dedup 3.01/4.76, 2.74/5.50, 2.99/6.29,
      3.43/6.37; user profiles 8.17/8.79, 4.91/9.43, 3.40/10.20,
      3.69/11.09; tumbling cheapest at 4 (1.31/2.11), session at 2-4.

    25k rows per partition gives 1 at sf0.01 and 4 at sf0.1. RocksDB was
    measured and still loses at this scale (4.27 s on the dedup
    composite, BASELINE.md). An unbounded production stream sizes its
    state partitions from state volume instead.
    """
    return max(1, math.ceil(probe_source(path).rows / ROWS_PER_STATE_PARTITION))


@query(
    "streaming_tumbling_counts",
    oracle="""
    SELECT
      -- CAST: DuckDB's to_timestamp is TIMESTAMPTZ, Spark windows are
      -- plain TIMESTAMP (same drift as tumbling_window_agg, CORRECTNESS_r01)
      CAST(to_timestamp((epoch_us(ts) // 600000000) * 600) AS TIMESTAMP) AS window_start,
      CAST(to_timestamp((epoch_us(ts) // 600000000) * 600 + 600) AS TIMESTAMP) AS window_end,
      event_type,
      count(*) AS n_events,
      CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = table_path(sf_dir, "events")
    return run_available_now(
        tumbling_count_stream(read_event_stream(spark, path)),
        output_mode="complete",
        state_partitions=state_partitions_for(path),
    )


@query(
    "streaming_session_windows",
    oracle="""
    WITH flagged AS (
      SELECT
        user_id, ts,
        CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
               OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 600000000
             THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ),
    numbered AS (
      SELECT *,
        -- BIGINT pin: DuckDB windowed sum(int) is HUGEINT (grouped away
        -- below, but pinned against future reshapes — CORRECTNESS_r01)
        CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY ts ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS session_seq
      FROM flagged
    )
    SELECT
      min(ts) AS session_start,
      -- session_window's end = last event time + gap
      max(ts) + INTERVAL 10 MINUTE AS session_end,
      user_id,
      count(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_seq
    """,
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = table_path(sf_dir, "events")
    return run_available_now(
        session_window_stream(read_event_stream(spark, path)),
        output_mode="complete",
        state_partitions=state_partitions_for(path),
    )


@query(
    "streaming_user_profiles",
    oracle="""
    WITH per_type AS (
      SELECT user_id, event_type, count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    prof AS (
      SELECT
        user_id,
        count(*) AS n_events,
        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
        min(ts) AS first_ts,
        max(ts) AS last_ts
      FROM events GROUP BY 1
    )
    SELECT p.user_id, p.n_events, p.total_value, p.first_ts, p.last_ts,
           count(*) AS n_types, max(t.c) AS top_type_count
    FROM prof p JOIN per_type t ON p.user_id = t.user_id
    GROUP BY 1, 2, 3, 4, 5
    """,
)
def streaming_user_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState, update mode): the
    per-user running profile. One bounded batch ⇒ each user emits exactly
    one row, equal to the batch aggregate the oracle computes."""
    path = table_path(sf_dir, "events")
    return run_available_now(
        user_profile_stream(read_event_stream(spark, path)),
        output_mode="update",
        state_partitions=state_partitions_for(path),
    )


@query(
    "streaming_dedup_events",
    oracle="""
    SELECT 'dedup' AS part, event_id, ts, user_id, event_type, value, props,
           CAST(NULL AS BIGINT) AS id2, CAST(NULL AS TIMESTAMP) AS ts2
    FROM (
      SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts) AS rn
      FROM events
    )
    WHERE rn = 1
    UNION ALL BY NAME
    SELECT 'ivjoin' AS part, p.event_id AS event_id, p.ts AS ts,
           p.user_id AS user_id, 'interval_pair' AS event_type,
           CAST(NULL AS DOUBLE) AS value, CAST(NULL AS VARCHAR) AS props,
           a.event_id AS id2, a.ts AS ts2
    FROM events p
    JOIN events a ON a.user_id = p.user_id
      AND epoch_us(a.ts) > epoch_us(p.ts)
      AND epoch_us(a.ts) <= epoch_us(p.ts) + 600000000
    WHERE p.event_type = 'purchase'
    """,
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite: streaming exact dedup + stream-stream interval join
    ('ivjoin' part — every same-user activity within 10 min after each
    purchase). Bounded single-batch runs, so both are deterministic and
    the oracle is the equivalent batch SQL.

    The two bounded queries share nothing but the source path, so they
    run CONCURRENTLY (run_available_now_many, guide §2.6): each streaming
    query schedules its micro-batch from its own thread, and overlapping
    them hides one side's fixed costs (state-store commits, sink writes)
    behind the other's compute — measured 3.9 s → ~2.6 s at sf0.1 with
    results identical by construction (separate checkpoints and sinks)."""
    path = table_path(sf_dir, "events")
    purchases = read_event_stream(spark, path).filter(
        F.col("event_type") == "purchase"
    )
    activity = read_event_stream(spark, path)
    dedup_sink, ivjoin_sink = run_available_now_many(
        [
            streaming_dedup(read_event_stream(spark, path)),
            interval_join_stream(purchases, activity),
        ],
        output_modes="append",
        state_partitions=state_partitions_for(path),
    )
    deduped = dedup_sink.select(
        F.lit("dedup").alias("part"),
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        "props",
        F.lit(None).cast("long").alias("id2"),
        F.lit(None).cast("timestamp").alias("ts2"),
    )
    pairs = ivjoin_sink.select(
        F.lit("ivjoin").alias("part"),
        F.col("purchase_id").alias("event_id"),
        F.col("p_ts").alias("ts"),
        "user_id",
        F.lit("interval_pair").alias("event_type"),
        F.lit(None).cast("double").alias("value"),
        F.lit(None).cast("string").alias("props"),
        F.col("click_id").alias("id2"),
        F.col("c_ts").alias("ts2"),
    )
    return deduped.unionByName(pairs)
