"""Streaming pipelines over event data (SURVEY.md §7 Phase 5, §2.8 X5).

Design: every pipeline is a *builder* taking a streaming DataFrame and
returning the transformed streaming DataFrame — identical code paths for a
bounded ``availableNow`` test run and an unbounded production run. The file
source + watermark + window/state operators are the Spark-native answer to
the reference's batch-only summary loop (file_summary_utils.py's
minute-bucket counts re-expressed as a live stream).

Scale notes (100 TB/day story):
- The file source scales by listing parallelism + maxFilesPerTrigger
  (bounded micro-batches, no unbounded memory).
- Watermarks bound all state: window aggregation state is dropped once the
  watermark passes the window end; dedup state once it passes the event
  time. Without them, 100 TB/day of keys would OOM the state store.
- ``session_window`` merges state per key; keys are user_ids (high
  cardinality) so state shards evenly across partitions; shuffle is
  hash(user_id) — same partitioning batch sessionization uses.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import tempfile
import uuid
from typing import NamedTuple

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from demo_iceberg_permanent_delete_spark.session import SessionConfOverride

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # raw nanos (see sources/tables.py)
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

# Same shape when the source files store ts as TIMESTAMP(MICROS) NTZ.
EVENT_SCHEMA_MICROS = T.StructType(
    [f if f.name != "ts" else T.StructField("ts", T.TimestampNTZType()) for f in EVENT_SCHEMA]
)


class SourceProbe(NamedTuple):
    ts_is_nanos: bool
    rows: int


def probe_source(path: str) -> SourceProbe:
    """Metadata-only probe of the parquet footers a file stream will read.

    ``ts_is_nanos``: is ``ts`` physical nanos? The streaming file source
    needs a declared schema up front; testdata has shipped with both
    TIMESTAMP(NANOS) (readable only as raw long under ``nanosAsLong``) and
    TIMESTAMP(MICROS). The first file's footer settles it.

    ``rows``: the row count all footers declare, what a bounded run of the
    source will feed its stateful operators (0 when nothing matches).
    """
    import glob as globmod

    import pyarrow.parquet as pq

    # a directory is read recursively; a file or a glob (the tests stream
    # `dir/*/*.parquet`) matches itself
    pattern = os.path.join(path, "**", "*.parquet") if os.path.isdir(path) else path
    footers = [pq.read_metadata(f) for f in sorted(globmod.glob(pattern, recursive=True))]
    if not footers:
        return SourceProbe(False, 0)
    schema = footers[0].schema.to_arrow_schema()
    ts_is_nanos = "ts" in schema.names and str(schema.field("ts").type) in (
        "timestamp[ns]",
        "int64",
    )
    return SourceProbe(ts_is_nanos, sum(f.num_rows for f in footers))


WATERMARK = "10 minutes"
WINDOW = "10 minutes"
SESSION_GAP = "10 minutes"


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of events.parquet-shaped data.

    ``ts`` has shipped as either parquet TIMESTAMP(NANOS) or
    TIMESTAMP(MICROS); the streaming source needs a declared schema, so
    probe the parquet footer (metadata-only) and declare ``ts`` as raw
    nanos long or as a timestamp accordingly — same normalization as the
    batch loader (sources/tables.py).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ts_is_nanos = probe_source(path).ts_is_nanos
    schema = EVENT_SCHEMA if ts_is_nanos else EVENT_SCHEMA_MICROS
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if os.path.isfile(path):
        # The file source derives basePath from a non-glob input path and
        # requires it to be a directory; wrapping the last character in a
        # one-character glob class makes the source treat the parent as
        # basePath while matching exactly this file.
        path = f"{path[:-1]}[{path[-1]}]"
    df = reader.parquet(path)
    if ts_is_nanos:
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_count_stream(events: DataFrame) -> DataFrame:
    """Watermarked tumbling-window counts per event_type (append mode:
    a window is emitted exactly once, when the watermark passes its end)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_count_stream(events: DataFrame) -> DataFrame:
    """Watermarked sliding (hopping) window counts: 10-minute windows every
    5 minutes, so each event lands in duration/slide = 2 windows. Append
    mode still emits each window exactly once when the watermark passes its
    end; state size is 2x the tumbling stream's for the same horizon —
    bounded the same way by the watermark."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW, "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def session_window_stream(events: DataFrame) -> DataFrame:
    """Watermarked session windows per user (gap-based, merging state)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def interval_join_stream(
    purchases: DataFrame, activity: DataFrame, window_minutes: int = 10
) -> DataFrame:
    """Watermarked stream-stream inner interval join: every (purchase,
    activity) pair of the same user with the activity falling strictly
    inside the ``window_minutes`` after the purchase — the streaming twin
    of operators/temporal.range_agg_join, at pair granularity.

    Both sides carry a watermark and the join condition bounds event time
    in BOTH directions, so the state store evicts each side's rows once
    the other side's watermark passes the interval — bounded state on an
    unbounded stream, the requirement for running this at 100 TB/day.
    Inner join in append mode: pairs emit as soon as both rows arrive."""
    p = purchases.withWatermark("ts", WATERMARK).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    a = activity.withWatermark("ts", WATERMARK).select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("a_user"),
        F.col("ts").alias("c_ts"),
    )
    cond = (
        (F.col("user_id") == F.col("a_user"))
        & (F.col("c_ts") > F.col("p_ts"))
        & (F.col("c_ts") <= F.col("p_ts") + F.expr(f"INTERVAL {window_minutes} MINUTES"))
    )
    return p.join(a, cond, "inner").select(
        "purchase_id", "click_id", "user_id", "p_ts", "c_ts"
    )


def streaming_dedup(events: DataFrame) -> DataFrame:
    """Streaming exact dedup on event_id with watermark-bounded state:
    duplicates arriving within the watermark horizon are dropped; state is
    evicted after it — the streaming twin of operators/dedup.dedup_exact."""
    return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def user_profile_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a per-user
    running profile (event count, exact value sum, first/last seen, per-type
    histogram) that no built-in streaming aggregate expresses in one pass —
    the distinct-type histogram and top-type count require arbitrary
    per-group state. Update mode: each micro-batch emits the refreshed
    profile row for every user seen in that batch.

    Scale notes: state is one small row per user (bounded by user
    cardinality, not event volume); the operator shuffles once on
    hash(user_id) — the same partitioning as a batch groupBy — and rows
    reach Python as Arrow batches, not per-row pickling. The value sum is
    accumulated as integer micro-units (HALF_UP at 6 decimals), matching a
    ``CAST(value AS DECIMAL(18,6))`` sum bit-for-bit while keeping state a
    single long.
    """
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
            T.StructField("first_ts", T.TimestampType()),
            T.StructField("last_ts", T.TimestampType()),
            T.StructField("n_types", T.LongType()),
            T.StructField("top_type_count", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n_events", T.LongType()),
            T.StructField("value_micros", T.LongType()),
            T.StructField("first_us", T.LongType()),
            T.StructField("last_us", T.LongType()),
            T.StructField("type_names", T.ArrayType(T.StringType())),
            T.StructField("type_counts", T.ArrayType(T.LongType())),
        ]
    )

    def update_profile(key, pdfs, state):  # pragma: no cover - runs on workers
        import numpy as np
        import pandas as pd

        if state.exists:
            n, vmic, first_us, last_us, names, counts = state.get
            tcounts = dict(zip(names, counts))
        else:
            n, vmic, first_us, last_us, tcounts = 0, 0, None, None, {}
        for pdf in pdfs:
            if pdf.empty:
                continue
            n += len(pdf)
            v = pdf["value"].to_numpy(dtype="float64")
            v = v[~np.isnan(v)]
            # HALF_UP to 6 decimals == Spark/DuckDB CAST(.. AS DECIMAL(18,6))
            vmic += int((np.sign(v) * np.floor(np.abs(v) * 1e6 + 0.5)).sum())
            us = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
            lo, hi = int(us.min()), int(us.max())
            first_us = lo if first_us is None else min(first_us, lo)
            last_us = hi if last_us is None else max(last_us, hi)
            for etype, c in pdf["event_type"].value_counts().items():
                tcounts[etype] = tcounts.get(etype, 0) + int(c)
        names = list(tcounts)
        state.update((n, vmic, first_us, last_us, names, [tcounts[k] for k in names]))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [vmic / 1e6],
                "first_ts": [pd.Timestamp(first_us, unit="us")],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
                "n_types": [len(tcounts)],
                "top_type_count": [max(tcounts.values()) if tcounts else 0],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update_profile, out_schema, state_schema, "update", "NoTimeout"
    )


def stateful_session_stream(events: DataFrame, gap_minutes: int = 10) -> DataFrame:
    """Custom gap-based sessionizer via ``applyInPandasWithState`` with an
    **event-time timeout**: a user's session stays open in state while events
    keep arriving within ``gap_minutes``; when the watermark passes
    last-event-time + gap the state times out and the closed session is
    emitted exactly once (append mode). This is ``session_window`` rebuilt
    from raw state primitives — the shape any custom stateful operator
    (fraud windows, CDC collapse, trajectory stitching) follows at 100 TB:
    watermark-bounded state, one shuffle on the group key, Arrow-batched
    Python.
    """
    gap_us = gap_minutes * 60_000_000
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("session_start", T.TimestampType()),
            T.StructField("session_end", T.TimestampType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("first_us", T.LongType()),
            T.StructField("last_us", T.LongType()),
            T.StructField("n", T.LongType()),
        ]
    )

    def track_session(key, pdfs, state):  # pragma: no cover - runs on workers
        import pandas as pd

        if state.hasTimedOut:
            first_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [pd.Timestamp(first_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us + gap_us, unit="us")],
                    "n_events": [n],
                }
            )
            return
        first_us = last_us = None
        n = 0
        if state.exists:
            first_us, last_us, n = state.get
        for pdf in pdfs:
            if pdf.empty:
                continue
            us = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
            lo, hi = int(us.min()), int(us.max())
            first_us = lo if first_us is None else min(first_us, lo)
            last_us = hi if last_us is None else max(last_us, hi)
            n += len(us)
        state.update((first_us, last_us, n))
        state.setTimeoutTimestamp(last_us // 1000 + gap_minutes * 60_000)
        yield from ()

    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            track_session, out_schema, state_schema, "append", "EventTimeTimeout"
        )
    )


LAST_BATCH_PROP = "streaming.last-committed-batch-id"


def marker_value(batch_id: int) -> str:
    """Run-scoped replay-marker value: ``<batch_id>:<epoch_ms>``. The
    timestamp lets ``expire_snapshots`` GC markers of runs that stopped
    committing before the retention cutoff — without it the property map
    grew one key per distinct checkpoint forever. HONEST CONTRACT
    (review finding): the committed rows outlive the marker (expiry
    removes snapshots, not data), so a checkpoint resumed after sitting
    idle PAST the retention window degrades to at-least-once for its one
    boundary batch — the same bounded degradation the DataSource sink
    documents for a restart without a forwarded checkpoint. The active
    run (the unscoped marker's writer) is always exempt, whatever its
    age."""
    from demo_iceberg_permanent_delete_spark.lake.metadata import now_ms

    return f"{batch_id}:{now_ms()}"


def marker_batch(value: str) -> int:
    """Batch id from a run-scoped marker value (legacy bare ints parse
    too — pre-timestamp markers are read, never rewritten)."""
    return int(str(value).split(":", 1)[0])


def stream_into_lake(
    stream_df: DataFrame,
    table,
    *,
    mode: str = "append",
    merge_keys: list[str] | None = None,
    order_col: str | None = None,
    timeout_s: int = 300,
    checkpoint: str | None = None,
    compact_every_batches: int | None = None,
    branch: str | None = None,
) -> None:
    """Sink a streaming DataFrame into a lake table via ``foreachBatch`` —
    the streaming-ingest integration Iceberg gives Spark users
    (``writeStream.format('iceberg')``), re-expressed over the native
    snapshot lake. Bounded ``availableNow`` run; pass the same
    ``checkpoint`` across calls to resume.

    Exactly-once per micro-batch: a ``run_id:batch_id`` marker is written
    into the table properties *inside the same metadata commit* as the
    batch's snapshot (properties ride the version file), so a batch
    replayed after a crash or restart is detected and skipped — the
    standard idempotent-foreachBatch pattern, made atomic by the
    single-file commit. The marker is scoped to the checkpoint (run id =
    hash of the checkpoint path, mirroring Iceberg's queryId-scoped commit
    dedup): batch ids restart at 0 under a NEW checkpoint, and a stale
    marker from a previous run must not silently swallow them — a new
    checkpoint reprocesses the source (standard Spark semantics), it
    never drops data.

    ``mode='append'`` → one append snapshot per batch;
    ``mode='upsert'`` → MERGE on ``merge_keys``, for streams carrying
    updates (CDC feeds, profile upserts). The micro-batch is deduplicated
    per key first — by greatest ``order_col`` when given (latest wins),
    else an arbitrary-but-single row per key — because MERGE rejects
    multi-row key matches (cardinality violation) and would otherwise
    poison-pill the checkpoint replay.

    ``mode='upsert-eq'`` → :meth:`LakeTable.upsert`: per batch ONE commit
    carrying an equality-delete file on ``merge_keys`` plus the batch's
    data files (Iceberg's Flink-writer upsert pattern). Same final table
    state as ``'upsert'`` but O(batch) write cost — no table-side read,
    join, or copy-on-write rewrite per micro-batch, which is the
    difference between a stream that keeps up at 100 TB and one whose
    per-batch cost grows with table size. The trade: reads pay an
    anti-join until ``compact()``/``rewrite_data_files`` folds the
    accumulated eq-deletes. Batch dedup rule is identical to
    ``'upsert'``.

    ``branch`` (all three modes) targets a named branch
    instead of main — the write-audit-publish shape for a STREAM:
    micro-batches accumulate on the branch invisible to main readers
    until ``fast_forward('main', branch-head)`` publishes them
    (Iceberg's ``spark.wap.branch`` applied to streaming ingest). The
    exactly-once marker rides each branch commit the same way — it
    lives in table PROPERTIES (the shared metadata document), so a
    replay after a crash is skipped whether or not the branch has been
    published yet. ``mode='upsert'`` (MERGE) plans its read-modify-write
    against the BRANCH head; upsert-eq remains the O(batch) WAP upsert
    shape (Flink's eq-delete writer under ``spark.wap.branch``).
    ``compact_every_batches`` composed with ``branch`` compacts the
    BRANCH head (branch-scoped ``compact(branch=…)``) so eq-delete and
    small-file accumulation stays bounded on the ingest branch itself —
    main is untouched and the replace commits keep the chain
    ``fast_forward``-publishable.

    ``compact_every_batches=N`` runs :meth:`LakeTable.compact` inline
    after every N COMMITTED batches (replays don't count) — the
    maintenance cadence Iceberg users schedule beside a Flink upsert job,
    built into the sink so eq-delete/small-file accumulation stays
    bounded without an external scheduler. Compaction commits ``replace``
    snapshots, which the changelog/CDC surfaces skip; a compaction
    failure fails the stream (the checkpoint resumes past the already-
    committed batch, and the marker guard skips it on replay).
    """
    if compact_every_batches is not None and compact_every_batches < 1:
        raise ValueError("compact_every_batches must be >= 1")
    if mode not in ("append", "upsert", "upsert-eq"):
        raise ValueError(
            f"mode must be 'append', 'upsert' or 'upsert-eq', got {mode!r}"
        )

    if branch == "main":
        branch = None  # the implicit main branch IS the table
    if branch is not None:
        # validate BEFORE the query starts — a typo'd branch should fail
        # at the call site, not as a wrapped foreachBatch error at the
        # first commit. Refresh first: the branch may have been created
        # through another handle/process since this one loaded.
        table.refresh()
        ref = table.metadata.refs.get(branch)
        if ref is None or ref["type"] != "branch":
            raise KeyError(f"unknown branch {branch!r}")
    if mode in ("upsert", "upsert-eq") and not merge_keys:
        # the table's declared row identity (SET IDENTIFIER FIELDS) is
        # the default merge key — Flink's upsert writer reads it the
        # same way
        merge_keys = list(table.metadata.identifier_fields)
        if not merge_keys:
            raise ValueError(
                f"{mode} mode needs merge_keys (or SET IDENTIFIER FIELDS "
                "on the table)"
            )

    own_checkpoint = checkpoint is None
    checkpoint = checkpoint or os.path.join(tempfile.mkdtemp(prefix="ckpt_"), "cp")
    import hashlib

    run_id = hashlib.md5(os.path.abspath(checkpoint).encode()).hexdigest()[:12]
    # The replay guard reads a RUN-SCOPED property key, so two concurrent
    # writers (two checkpoints into one table) cannot clobber each
    # other's markers — writer A's crash replay must still see ITS last
    # batch after B committed in between (review finding). The legacy
    # combined marker is still written for observability. Marker values
    # carry a commit timestamp so expire_snapshots GCs the keys of runs
    # that stopped committing before the retention cutoff (or UNSET
    # TBLPROPERTIES cleans them manually).
    run_key = f"{LAST_BATCH_PROP}.{run_id}"

    committed = {"n": 0}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        t = table.refresh()
        last_batch = t.properties.get(run_key)
        if last_batch is not None and batch_id <= marker_batch(last_batch):
            return  # replay of a batch this run already committed
        marker = f"{run_id}:{batch_id}"
        if mode == "append":
            # the marker rides the same commit as the snapshot and is
            # re-applied on every CAS-conflict rebase inside insert()
            t.insert(
                batch_df,
                branch=branch,
                extra_properties={
                    LAST_BATCH_PROP: marker,
                    run_key: marker_value(batch_id),
                },
            )
        else:
            from pyspark.sql import Window

            if order_col is not None:
                w = Window.partitionBy(*merge_keys).orderBy(F.desc(order_col))
                batch_df = (
                    batch_df.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") == 1)
                    .drop("__rn")
                )
            else:
                batch_df = batch_df.dropDuplicates(list(merge_keys))
            if mode == "upsert-eq":
                # add-only commit (eq-delete file + data files); the
                # marker rides the same commit and survives CAS rebase
                t.upsert(
                    batch_df,
                    on=list(merge_keys),
                    branch=branch,
                    extra_properties={
                        LAST_BATCH_PROP: marker,
                        run_key: marker_value(batch_id),
                    },
                )
            else:
                # merge is read-modify-write: a conflicting concurrent
                # commit surfaces CommitConflictError and fails the stream
                # (rerun resumes from the checkpoint; the guard above
                # skips committed batches)
                t.metadata.properties[LAST_BATCH_PROP] = marker
                t.metadata.properties[run_key] = marker_value(batch_id)
                t.merge(batch_df, on=list(merge_keys), branch=branch)
        committed["n"] += 1
        if (
            compact_every_batches
            and committed["n"] % compact_every_batches == 0
        ):
            t.refresh()
            # a branch ingest compacts the BRANCH head (round-9 advisor
            # finding: compacting main would never bound the branch's
            # accumulation, and its replace commit advancing main makes
            # the later fast_forward publish raise 'not a descendant')
            t.compact(branch=branch)

    q = (
        stream_df.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(timeout_s):
            raise TimeoutError(f"lake ingest did not finish in {timeout_s}s")
    finally:
        if q.isActive:
            q.stop()
        # a caller-provided checkpoint is the exactly-once resume token
        # across runs — never delete it; the self-generated one is
        # single-use by construction
        if own_checkpoint:
            shutil.rmtree(os.path.dirname(checkpoint), ignore_errors=True)


def run_available_now(
    stream_df: DataFrame,
    *,
    output_mode: str = "append",
    timeout_s: int = 300,
    state_partitions: int | None = None,
) -> DataFrame:
    """Run a bounded (availableNow) pass of the stream into a memory sink
    and return the sink contents as a batch DataFrame.

    ``state_partitions`` sizes the stateful-operator partitioning
    (``spark.sql.shuffle.partitions`` captured at query start — Spark pins
    it into the checkpoint, so it must be chosen *before* the first batch).
    Every state partition pays a per-batch state-store commit (delta file +
    fsync), a fixed cost that dwarfs the work on a small bounded input:
    size it from the rows the run will read, as the registered streaming
    queries do (``operators.streaming_queries.state_partitions_for``), and
    on an unbounded stream from the state volume. An explicit value is
    used as given; ``None`` keeps the session's setting."""
    return run_available_now_many(
        [stream_df],
        output_modes=[output_mode],
        timeout_s=timeout_s,
        state_partitions=state_partitions,
    )[0]


# Spark pins spark.sql.shuffle.partitions into a streaming checkpoint at
# first-batch planning: overlapping run_available_now* calls on one
# session share the override, and a conflicting value is refused rather
# than silently pinning the wrong state partitioning.
_shuffle_partitions = SessionConfOverride("spark.sql.shuffle.partitions")
# Held "false" by calls whose trailing no-data batch could emit nothing,
# and Spark's default "true" by every other call, so that an overlapping
# call never switches off the batch that closes another's windows.
_no_data_batches = SessionConfOverride("spark.sql.streaming.noDataMicroBatches.enabled")

# Analyzed-plan nodes that keep no state across micro-batches.
_STATELESS_NODES = frozenset(
    {
        "EventTimeWatermark",
        "Filter",
        "Project",
        "StreamingRelation",
        "StreamingRelationV2",
        "SubqueryAlias",
        "Union",
    }
)
# Stateful nodes that emit a row in the batch its input arrives in: their
# state only suppresses later duplicates or finds later partners.
_EMIT_ON_ARRIVAL_NODES = frozenset({"Deduplicate", "DeduplicateWithinWatermark"})


def _emits_on_arrival(stream_df: DataFrame) -> bool:
    """Whether an append-mode run of ``stream_df`` emits every row in the
    batch its input arrives in, so that the no-data batch Spark appends
    after the last input batch only evicts state and emits nothing.

    True when each node of the analyzed plan is stateless, a dedup, or an
    inner join (a stream-stream inner join emits a pair as soon as both
    rows have arrived). Aggregations (windows, session windows), outer
    joins, ``*WithState`` operators (timeouts fire in a no-data batch) and
    any node not named here answer False."""
    try:
        nodes = json.loads(stream_df._jdf.queryExecution().analyzed().toJSON())
    except (Py4JError, ValueError):  # a plan Spark cannot serialize
        return False
    for node in nodes:
        cls = node["class"].rsplit(".", 1)[-1]
        if cls == "Join":
            join_type = (node.get("joinType") or {}).get("object", "")
            if join_type.rsplit(".", 1)[-1] != "Inner$":
                return False
        elif cls not in _STATELESS_NODES and cls not in _EMIT_ON_ARRIVAL_NODES:
            return False
    return True


def _hold_no_data_batches(spark: SparkSession, needed: bool) -> None:
    """Enter ``_no_data_batches`` for one call's queries: at Spark's
    default when the trailing no-data batch may emit rows, waiting out an
    overlapping call that switched it off; at "false" when it cannot,
    unless an overlapping call holds the default, which this call then
    shares."""
    try:
        _no_data_batches.enter(spark, "true" if needed else "false", wait=needed)
    except RuntimeError:
        _no_data_batches.enter(spark, "true", wait=True)


def run_available_now_many(
    stream_dfs: list[DataFrame],
    *,
    output_modes: list[str] | str = "append",
    timeout_s: int = 300,
    state_partitions: int | None = None,
) -> list[DataFrame]:
    """Bounded (availableNow) passes of several INDEPENDENT streams run
    CONCURRENTLY into memory sinks; returns the sink contents in input
    order.

    Each streaming query runs its micro-batches in its own scheduler
    thread, so starting all queries before awaiting any overlaps their
    fixed costs (source listing, state-store commits, sink writes) and
    lets one query's task tail back-fill executors the other has freed —
    the guide-§2.6 shape. Results are identical to running them one at a
    time: the queries share nothing but the session.

    An append-mode run ends with a no-data batch that advances the
    watermark, closing windows and firing timeouts. When every stream is
    in append mode and emits on arrival (:func:`_emits_on_arrival`), that
    batch can only evict state, so the call runs without it: one batch
    and one state-store commit per partition fewer per query, identical
    rows. Any other call keeps it.

    Both conf overrides (shuffle partitions, no-data batches) are applied
    ONCE around starting all queries and restored after the LAST one
    terminates (Spark reads them at first-batch planning): per-query
    set/restore would race when the queries overlap. Each memory-sink view
    is dropped once its frame is resolved; the frame keeps the rows."""
    if isinstance(output_modes, str):
        output_modes = [output_modes] * len(stream_dfs)
    if len(output_modes) != len(stream_dfs):
        raise ValueError("one output_mode per stream (or a single string)")
    if not stream_dfs:
        return []
    spark = stream_dfs[0].sparkSession
    trailing_needed = not (
        all(mode == "append" for mode in output_modes)
        and all(_emits_on_arrival(df) for df in stream_dfs)
    )
    names = [f"sink_{uuid.uuid4().hex[:12]}" for _ in stream_dfs]
    ckpt_roots = [tempfile.mkdtemp(prefix="ckpt_") for _ in stream_dfs]
    queries = []
    try:
        with contextlib.ExitStack() as overrides:
            if state_partitions is not None:
                overrides.enter_context(_shuffle_partitions(spark, str(state_partitions)))
            _hold_no_data_batches(spark, trailing_needed)
            overrides.callback(_no_data_batches.leave, spark)
            for df, mode, name, root in zip(
                stream_dfs, output_modes, names, ckpt_roots
            ):
                queries.append(
                    df.writeStream.format("memory")
                    .queryName(name)
                    .outputMode(mode)
                    .option("checkpointLocation", os.path.join(root, "cp"))
                    .trigger(availableNow=True)
                    .start()
                )
            try:
                for name, q in zip(names, queries):
                    if not q.awaitTermination(timeout_s):
                        raise TimeoutError(
                            f"stream {name} did not finish in {timeout_s}s"
                        )
            finally:
                for q in queries:
                    if q.isActive:
                        q.stop()
        return [spark.table(name) for name in names]
    finally:
        # the single-use checkpoints are dead weight (8 MB of state-store
        # deltas per run that accumulate across repeated bench/test
        # invocations), and each sink view would hold its run's rows for
        # the life of the session
        for root in ckpt_roots:
            shutil.rmtree(root, ignore_errors=True)
        for name in names:
            spark.catalog.dropTempView(name)
