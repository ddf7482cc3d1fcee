"""Managed parquet file writer: DataFrame → named data files + manifest
entries with footer-derived stats.

Spark writes directories of part files; the lake layer needs *named,
individually tracked* files (the reference's model — every file is a row of
the ``.files`` metadata table, notebooks/iceberg_pii_deletion_demo.py:
204-216). So: write to a scratch dir, move the parts into the table's data
dir under UUID names, and harvest per-file record counts + min/max column
stats from the parquet footers (pyarrow, driver-side, metadata-only reads —
no data scan).

Stats feed file-level pruning (SURVEY.md §4) exactly like Iceberg's
manifest-held column bounds.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid
from math import ceil
from typing import Any

import pyarrow.parquet as pq
from pyspark.sql import DataFrame

from demo_iceberg_permanent_delete_spark.lake.metadata import (
    CONTENT_DATA,
    CONTENT_POSITION_DELETES,
    ManifestEntry,
)
from demo_iceberg_permanent_delete_spark.session import SessionConfOverride

TARGET_FILE_SIZE_BYTES = 134_217_728  # 128 MiB — the reference's compaction
# target (notebooks/iceberg_pii_deletion_demo.py:428,443)

# The lake layer's one driver-collect policy. A Spark frame of at most
# DRIVER_MAX_ROWS rows may be collected to the driver as one Arrow batch
# and written or folded there with pyarrow, skipping a Spark write job
# (~0.25 s of commit-protocol fixed cost at any size, measured); past it
# the executor path runs, which is the only one that keeps driver memory
# bounded on large inputs. Sites that already hold a metadata row count
# (manifest record counts) compare it against the same budget with
# fits_driver(); every driver-or-executor choice on a Spark frame goes
# through collect_if_small().
DRIVER_MAX_ROWS = 100_000
# Without a row bound, a plan made only of _ROW_PRESERVING shapes has at
# most the rows of its inputs, so the optimizer's size estimate (file
# sizes: metadata only, no job) bounds what a bare collect brings back.
# Up to this estimate such a plan is collected bare (no CollectLimit
# stage); past it the frame is large and no collect starts, so a big
# ingest never pays a discarded probe before its executor write.
DRIVER_MAX_PLAN_BYTES = 32 * 1024 * 1024

# Optimized-plan nodes whose output has at most the rows of their input,
# and leaves. Everything else (joins, generators, Python map operators,
# aggregates, windows, unions) gets the bounded limit(N+1) probe.
# Aggregate is left out: its estimate is that of its input, so a large
# estimate says nothing about how many groups come back. A leaf without
# size statistics (LogicalRDD: a pandas- or RDD-backed frame) estimates
# as Long.MaxValue, so a row-preserving plan over it is never collected.
_ROW_PRESERVING = frozenset(
    {
        "Project",
        "Filter",
        "Sort",
        "Repartition",
        "RepartitionByExpression",
        "RebalancePartitions",
        "GlobalLimit",
        "LocalLimit",
        "LogicalRelation",
        "LogicalRDD",
        "LocalRelation",
        "Range",
        "DataSourceV2Relation",
        "DataSourceV2ScanRelation",
        "InMemoryRelation",
    }
)

# Position-delete manifest entries record the DISTINCT data-file paths the
# delete file references when at most this many (Iceberg v3's
# referenced_data_file role, generalized to a small set) — the exact basis
# for delete-file scoping in partition-scoped scans. Beyond the cap the
# list stays empty (unknown): the entry is then always planned, sound. The
# harvest reads ONE string column of the file just written, and only when
# its row count fits the driver budget (plain tombstone layouts can run
# to millions of rows; DV files — one row per target file — never come
# close).
_MAX_REFERENCED_FILES = 64

# Physical column-name harvest cap: above this many top-level columns the
# manifest entry records None (unknown) and initial-default resolution
# falls back to the sequence-watermark rule.
_COLUMNS_HARVEST_MAX = 64


# String bounds are truncated Iceberg-style (write.metadata.metrics default
# truncate(16)): a raw text column's min/max can be kilobytes per file, and
# at 100 TB ≈ 800k files that alone bloats every manifest read. The lower
# bound truncates to a prefix (≤ every value), the upper bound truncates
# and increments its last code point (≥ every value) — pruning stays sound.
_STRING_BOUND_CHARS = 16

# Spark's default parquet timestamp is INT96 (Hive-era compat), which
# carries NO usable footer statistics — every timestamp column was
# invisible to min/max pruning, manifest bounds and aggregate pushdown.
# Engine writes hold TIMESTAMP_MICROS (INT64, Iceberg's own physical
# type) instead; readers handle both, so tables with pre-switch INT96
# files just keep their statless entries.
_parquet_timestamp_type = SessionConfOverride(
    "spark.sql.parquet.outputTimestampType"
)


def _micros_timestamps(spark):
    return _parquet_timestamp_type(spark, "TIMESTAMP_MICROS")


def fits_driver(rows: int) -> bool:
    """Whether ``rows`` rows are within the driver-collect budget."""
    return rows <= DRIVER_MAX_ROWS


def _row_preserving(plan) -> bool:
    stack = [plan]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() not in _ROW_PRESERVING:
            return False
        it = node.children().iterator()
        while it.hasNext():
            stack.append(it.next())
    return True


def collect_if_small(df: DataFrame, row_bound: int | None = None):
    """``df`` as one pyarrow Table when it has at most DRIVER_MAX_ROWS
    rows, else None: the caller then takes its executor path.

    ``row_bound`` is a trusted metadata upper bound on the frame's rows
    (e.g. the candidate files' manifest record counts). Over the budget,
    no collect starts at all; within it, the frame is collected bare.
    Without one, a plan of row-preserving shapes is collected bare when
    its size estimate is within DRIVER_MAX_PLAN_BYTES and not collected
    past it; any other plan gets a ``limit(N+1)`` probe, which brings at
    most DRIVER_MAX_ROWS + 1 rows to the driver. The collected batch
    is the result: on overflow it is discarded whole, so a
    non-deterministic source cannot split its rows across the two
    paths. Any Spark or Arrow error also returns None."""
    try:
        if row_bound is not None:
            if not fits_driver(row_bound):
                return None
            table = df.toArrow()
        else:
            plan = df._jdf.queryExecution().optimizedPlan()
            if not _row_preserving(plan):
                table = df.limit(DRIVER_MAX_ROWS + 1).toArrow()
            elif int(str(plan.stats().sizeInBytes())) <= DRIVER_MAX_PLAN_BYTES:
                table = df.toArrow()
            else:
                return None
    except Exception:
        return None
    return table if fits_driver(table.num_rows) else None


def _truncate_lower(s: str) -> str:
    return s[:_STRING_BOUND_CHARS]


def _truncate_upper(s: str) -> str:
    if len(s) <= _STRING_BOUND_CHARS:
        return s
    p = s[:_STRING_BOUND_CHARS]
    for i in range(len(p) - 1, -1, -1):
        c = ord(p[i])
        if c < 0x10FFFF:
            nxt = c + 1
            if 0xD800 <= nxt <= 0xDFFF:  # never emit lone surrogates
                nxt = 0xE000
            return p[:i] + chr(nxt)
    return s  # every char is U+10FFFF — cannot round up, keep exact


def _raw_decimal_bounds(stats):
    """Decode INT32/INT64-backed DECIMAL column statistics from the raw
    unscaled values: ``Decimal(raw).scaleb(-scale)``. FLBA decimals don't
    land here (pyarrow decodes those natively); returns None for anything
    that isn't an int-backed decimal."""
    import json as _json
    from decimal import Decimal

    try:
        lt = stats.logical_type
        if lt is None or lt.type != "DECIMAL":
            return None
        scale = int(_json.loads(lt.to_json())["scale"])
        lo_raw, hi_raw = stats.min_raw, stats.max_raw
        if not isinstance(lo_raw, int) or not isinstance(hi_raw, int):
            return None
        return Decimal(lo_raw).scaleb(-scale), Decimal(hi_raw).scaleb(-scale)
    except Exception:
        return None


def _footer_stats(
    path: str,
) -> tuple[int, dict[str, Any], dict[str, Any], dict[str, int]]:
    """Record count, column min/max, and per-column null counts from the
    parquet footer (no data read). A column whose null count is missing in
    ANY row group is omitted from the null-count map (pruning must stay
    conservative on partial stats). String bounds are truncated (sound:
    lower prefix / upper rounded up — see _truncate_upper)."""
    f = pq.ParquetFile(path)
    meta = f.metadata
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    nulls: dict[str, int] = {}
    null_gaps: set[str] = set()
    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            stats = col.statistics
            if stats is None:
                null_gaps.add(name)
                continue
            if stats.null_count is None:
                null_gaps.add(name)
            else:
                nulls[name] = nulls.get(name, 0) + stats.null_count
            if not stats.has_min_max:
                continue
            try:
                lo, hi = stats.min, stats.max
            except Exception:
                # pyarrow can't decode INT32/INT64-backed DECIMAL
                # statistics (ArrowNotImplementedError) though the raw
                # unscaled ints are right there — decode them; anything
                # else undecodable is statless rather than failing the
                # whole write
                bounds = _raw_decimal_bounds(stats)
                if bounds is None:
                    continue
                lo, hi = bounds
            if isinstance(lo, bytes) or isinstance(hi, bytes):
                continue  # undecoded byte stats are not comparable
            if name not in mins or lo < mins[name]:
                mins[name] = lo
            if name not in maxs or hi > maxs[name]:
                maxs[name] = hi
    for name in null_gaps:
        nulls.pop(name, None)
    # materialized row-lineage columns are metadata, never predicate
    # targets — keeping their bounds out of the manifest stops them
    # crowding the delta_bounds 32-column summary cap
    for name in ("_row_id", "_last_updated_sequence_number"):
        mins.pop(name, None)
        maxs.pop(name, None)
        nulls.pop(name, None)
    for name, v in list(mins.items()):
        if isinstance(v, str):
            mins[name] = _truncate_lower(v)
    for name, v in list(maxs.items()):
        if isinstance(v, str):
            maxs[name] = _truncate_upper(v)
    return meta.num_rows, mins, maxs, nulls


def write_data_files(
    df: DataFrame,
    target_dir: str,
    *,
    content: int = CONTENT_DATA,
    target_file_size_bytes: int | None = None,
    prefix: str = "data",
    write_options: dict[str, str] | None = None,
    record_count_from: str | None = None,
) -> list[ManifestEntry]:
    """Write ``df`` as managed parquet files under ``target_dir``.

    If ``target_file_size_bytes`` is given, repartition so output files land
    near that size (estimated from the first write — good enough for the
    compaction contract; Iceberg's own binpacking is similarly estimate-based).
    ``write_options`` are parquet writer options (e.g. per-column bloom
    filters: ``parquet.bloom.filter.enabled#<col>``). Returns one
    ManifestEntry per file.

    ``record_count_from`` names a bigint column whose per-file SUM becomes
    the manifest ``record_count`` instead of the parquet row count — the
    deletion-vector layout uses it so a DV file's record_count is the
    number of deleted positions it encodes (Iceberg v3 semantics: a DV's
    cardinality, not its physical row count). The sum is read back from
    the written file's single column — DV files are O(affected data
    files) rows, so this is a tiny metadata-sized read.
    """
    os.makedirs(target_dir, exist_ok=True)
    scratch = os.path.join(target_dir, f"_tmp-{uuid.uuid4().hex}")

    with _micros_timestamps(df.sparkSession):
        w = df.write.mode("overwrite")
        for k, v in (write_options or {}).items():
            w = w.option(k, v)
        w.parquet(scratch)
    parts = sorted(glob.glob(os.path.join(scratch, "part-*.parquet")))

    if target_file_size_bytes and parts:
        total = sum(os.path.getsize(p) for p in parts)
        want = max(1, ceil(total / target_file_size_bytes))
        if want != len(parts):
            # Resize by repacking the files just WRITTEN — never by
            # re-running the input plan: ``df`` may be an arbitrary DAG
            # (a delete-merged scan, a join) whose recomputation doubles
            # the dominant cost of a rewrite. Reading back local columnar
            # parquet is a fraction of that, and at cluster scale the
            # first write's task outputs already sit near the target
            # (maxPartitionBytes-sized scan splits), so this pass rarely
            # fires at all.
            repack = os.path.join(target_dir, f"_tmp-{uuid.uuid4().hex}")
            w = (
                # explicit schema: skips the footer-inference job a bare
                # read.parquet would run per resize (one per small commit)
                df.sparkSession.read.schema(df.schema)
                .parquet(scratch)
                .repartition(want)
                .write.mode("overwrite")
            )
            for k, v in (write_options or {}).items():
                w = w.option(k, v)
            with _micros_timestamps(df.sparkSession):
                w.parquet(repack)
            shutil.rmtree(scratch, ignore_errors=True)
            scratch = repack
            parts = sorted(glob.glob(os.path.join(scratch, "part-*.parquet")))

    entries: list[ManifestEntry] = []
    for part in parts:
        final = os.path.join(target_dir, f"{prefix}-{uuid.uuid4().hex}.parquet")
        shutil.move(part, final)
        entry = _manifest_entry(final, content, record_count_from)
        if entry is not None:
            entries.append(entry)
    shutil.rmtree(scratch, ignore_errors=True)
    return entries


def write_arrow_file(
    table,
    target_dir: str,
    *,
    content: int = CONTENT_DATA,
    prefix: str = "data",
    record_count_from: str | None = None,
) -> list[ManifestEntry]:
    """Write one pyarrow Table as ONE managed parquet file, driver-side —
    no Spark job. For frames collect_if_small() brought to the driver and
    for metadata-sized sidecar files (the streaming upsert's
    equality-delete key file: O(batch-keys) rows) where a Spark write
    costs a job launch per micro-batch. The manifest entry is built
    exactly like write_data_files' (``record_count_from`` included).
    Returns [] for empty input (parity with the zero-row file drop
    there)."""
    if table.num_rows == 0:
        return []
    os.makedirs(target_dir, exist_ok=True)
    final = os.path.join(target_dir, f"{prefix}-{uuid.uuid4().hex}.parquet")
    pq.write_table(table, final)
    entry = _manifest_entry(final, content, record_count_from)
    return [entry] if entry is not None else []


def _manifest_entry(
    path: str, content: int, record_count_from: str | None
) -> ManifestEntry | None:
    """The manifest entry of the parquet file just written at ``path``,
    from its footer; a zero-row file is removed and yields None."""
    n_rows, mins, maxs, nulls = _footer_stats(path)
    if n_rows == 0:
        os.remove(path)
        return None
    # referenced-path harvest (content=1 only): the DV record count is
    # SEMANTIC and read unprotected (a failure must fail the write),
    # while the harvest is advisory and degrades to [] on any error
    # (review catch: one shared try made a harvest-only failure abort
    # a DV write that used to succeed). Skipped for row-heavy plain
    # tombstone files — reading a multi-million-row string column back
    # on the write path costs real time; DV files (one row per TARGET
    # file) are the layout that matters, and a skipped harvest just
    # leaves the entry always planned (sound).
    referenced: list[str] = []
    want_refs = content == CONTENT_POSITION_DELETES and fits_driver(n_rows)
    if record_count_from is not None:
        col = pq.read_table(path, columns=[record_count_from])
        n_rows = sum(v.as_py() or 0 for v in col.column(0))
    if want_refs:
        try:
            import pyarrow.compute as pc

            uniq = pc.unique(pq.read_table(path, columns=["file_path"]).column(0))
            if len(uniq) <= _MAX_REFERENCED_FILES:
                referenced = sorted(v for v in uniq.to_pylist() if v is not None)
        except Exception:
            referenced = []  # unknown → the entry is always planned
    # physical column-name harvest (initial-default resolution uses
    # presence, like Iceberg's field ids): footer-only, capped so a
    # very wide schema doesn't bloat every manifest row — None falls
    # back to the sequence-watermark rule
    try:
        names = [f.name for f in pq.read_schema(path)]
        phys_cols = names if len(names) <= _COLUMNS_HARVEST_MAX else None
    except Exception:
        phys_cols = None
    return ManifestEntry(
        file_path=path,
        content=content,
        record_count=n_rows,
        file_size_in_bytes=os.path.getsize(path),
        min_values={k: _jsonable(v) for k, v in mins.items()},
        max_values={k: _jsonable(v) for k, v in maxs.items()},
        null_counts=dict(nulls),
        referenced_files=referenced,
        columns=phys_cols,
    )


def _jsonable(v: Any) -> Any:
    """Stats values must round-trip through JSON (datetime → isoformat).

    Decimals are TAGGED (``{"dec": "9.75"}``), never bare strings: the
    schema-blind pruner compares str-vs-str bounds lexicographically
    (correct for string columns, whose bounds it truncates char-wise),
    and a bare "9.75" would make a quoted decimal predicate mis-prune
    ("10.50" < "9.75" lexicographically — review finding). Every
    bounds consumer treats an uncomparable dict as unknown (pruning
    keeps the file, delta folds skip the column); the type-aware
    aggregate fast path decodes the tag exactly."""
    try:
        import datetime as dt

        if isinstance(v, (dt.datetime, dt.date)):
            return v.isoformat()
        import decimal

        if isinstance(v, decimal.Decimal):
            return {"dec": str(v)}
    except Exception:
        pass
    if isinstance(v, (int, float, str, bool)) or v is None:
        return v
    return str(v)
