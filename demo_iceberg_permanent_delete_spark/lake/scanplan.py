"""The scan plan: which rows of which data files a lake read returns.

``plan_scan(meta, snap, predicate)`` decides, once per statement and in
plain Python over the manifest (no Spark plan, no JVM call), everything
merge-on-read visibility depends on (SURVEY.md §1–§4):

- the candidate data files: the manifest-level skip
  (metadata.scoped_manifest), then per-file min/max pruning
  (pruning.candidate_files);
- the snapshot's delete files that may mask a candidate
  (pruning.scope_delete_files), with {planned, skipped} counts;
- per candidate file: the position-delete and deletion-vector files that
  may name it, the equality deletes committed after it (Iceberg's
  sequence rule), and the initial column defaults it predates;
- the columns of the predicate when pruning.row_filter translates it for
  the declared column types (the driver reads then mask in pyarrow).

Every reader consumes the plan rather than deriving any of it: the table's
Spark anti-join read and its driver read (LakeTable._read_data_entries,
_driver_read_arrow), the MOR erase, the driver purge, and the DataSource's
batch, append-stream and CDC planners, whose executor tasks get each
file's plain path tuples.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

from demo_iceberg_permanent_delete_spark.lake.metadata import (
    CONTENT_DATA,
    CONTENT_EQUALITY_DELETES,
    CONTENT_POSITION_DELETES,
    ManifestEntry,
    entry_sequence,
    path_spellings,
)


@dataclass(frozen=True)
class FileScan:
    """One candidate data file and what its read applies."""

    entry: ManifestEntry
    # row-layout position-delete files that may name this file
    pos_deletes: tuple[str, ...]
    # deletion-vector files that may name this file
    dv_deletes: tuple[str, ...]
    # ((delete file path,), (equality key columns…)) per equality delete
    # committed after this file
    eq_deletes: tuple[tuple[tuple[str, ...], tuple[str, ...]], ...]
    # (column, value) per initial default (v3 ADD COLUMN … DEFAULT) the
    # file predates
    defaults: tuple[tuple[str, Any], ...]

    @property
    def file_path(self) -> str:
        return self.entry.file_path


@dataclass(frozen=True)
class ScanPlan:
    files: tuple[FileScan, ...]
    # the delete files some candidate sees: the anti-join's delete set
    deletes: tuple[ManifestEntry, ...]
    # {"planned": delete files kept, "skipped": delete files scoped away}
    delete_scope: dict[str, int]
    # the columns the predicate reads when row_filter translates it for
    # ``schema``'s types, else None
    pushed: frozenset[str] | None
    # the declared schema (a pyspark StructType) the plan was made for;
    # None when the caller has none (a DataSource planner)
    schema: Any
    # snapshot id -> commit order, for entry_sequence
    order: dict[int, int]

    @property
    def entries(self) -> list[ManifestEntry]:
        return [f.entry for f in self.files]

    @property
    def record_count(self) -> int:
        """The candidates' manifest record count: an upper bound on the
        rows the read returns."""
        return sum(f.entry.record_count for f in self.files)

    @property
    def reads(self) -> list[ManifestEntry]:
        """Every file a per-file read opens, once per time it opens it:
        each candidate, then each delete file it sees (what a driver read
        of the plan costs, datafiles.fits_driver_reads)."""
        by_path = {d.file_path: d for d in self.deletes}
        out = []
        for f in self.files:
            out.append(f.entry)
            out += [by_path[p] for p in (*f.pos_deletes, *f.dv_deletes)]
            out += [by_path[p] for paths, _ in f.eq_deletes for p in paths]
        return out

    def sequence(self, entry: ManifestEntry) -> int:
        """``entry``'s data sequence number (metadata.entry_sequence)."""
        return entry_sequence(entry, self.order)


def plan_scan(
    meta,
    snap,
    predicate: str | None = None,
    *,
    data: list[ManifestEntry] | None = None,
    schema=None,
) -> ScanPlan:
    """The plan of a read of ``snap`` scoped by ``predicate``.

    ``data`` names the data files to read instead of the snapshot's
    (the purge's file groups, a commit's added or removed files); the
    predicate still prunes them. ``snap`` None reads them as written:
    no delete applies. ``schema`` (the declared StructType) is needed
    for ``pushed`` only.

    The partition spec parse is lenient: an unknown legacy transform must
    not fail a read that the unpruned read serves, it just doesn't
    prune."""
    from demo_iceberg_permanent_delete_spark.lake import pruning
    from demo_iceberg_permanent_delete_spark.lake.transforms import (
        parse_partition_by,
    )

    pushed = (
        _pushed_columns(predicate, schema)
        if predicate is not None and schema is not None
        else None
    )
    part_fields = (
        parse_partition_by(meta.partition_by, lenient=True) if predicate else None
    )
    deletes: list[ManifestEntry] = []
    if data is None and snap is not None:
        scoped = meta.scoped_manifest(
            snap, predicate, part_fields, aliases=meta.renames
        )
        data = [e for e in scoped if e.content == CONTENT_DATA]
        deletes = [e for e in scoped if e.content != CONTENT_DATA]
    elif snap is not None:
        deletes = [e for e in snap.manifest if e.content != CONTENT_DATA]
    data = data or []
    if predicate is not None and data:
        data = pruning.candidate_files(
            data, predicate, part_fields, aliases=meta.renames
        )
    order = {s.snapshot_id: i for i, s in enumerate(meta.snapshots)}
    if not data:
        deletes = []
    kept = pruning.scope_delete_files(deletes, data, order) if deletes else []
    pos_for, dv_for, eq_for = _delete_index(kept, order)
    files = tuple(
        FileScan(e, pos_for(e), dv_for(e), eq_for(e), _initial_defaults(meta, e))
        for e in data
    )
    return ScanPlan(
        files=files,
        deletes=tuple(kept),
        delete_scope={"planned": len(kept), "skipped": len(deletes) - len(kept)},
        pushed=pushed,
        schema=schema,
        order=order,
    )


def _delete_index(deletes: list[ManifestEntry], order: dict[int, int]):
    """Per-data-file resolvers over ``deletes``: (pos_for(entry),
    dv_for(entry), eq_for(entry)). A position-delete or DV file applies
    to a data file when its ``referenced_files`` set (recorded at write
    time, under every spelling of metadata.path_spellings) names it, or
    to every data file when the set is unknown (too many targets,
    pre-upgrade manifest): each read opens the delete files that
    reference ITS file, not every one. Indexed once by target path, so
    each lookup is O(result). ``eq_for`` applies the Iceberg sequence
    rule: an equality delete masks only data files committed strictly
    before it."""

    def index(dv_flag: bool):
        always: list[str] = []
        by_target: dict[str, list[str]] = {}
        for e in deletes:
            if e.content != CONTENT_POSITION_DELETES or bool(e.dv) != dv_flag:
                continue
            refs = getattr(e, "referenced_files", None) or ()
            if refs:
                for target in {q for r in refs for q in path_spellings(r)}:
                    by_target.setdefault(target, []).append(e.file_path)
            else:
                always.append(e.file_path)
        return lambda entry: tuple(always + by_target.get(entry.file_path, []))

    eq = [
        (entry_sequence(d, order), ((d.file_path,), tuple(d.equality_columns)))
        for d in deletes
        if d.content == CONTENT_EQUALITY_DELETES
    ]

    def eq_for(entry):
        seq = entry_sequence(entry, order)
        return tuple(spec for dseq, spec in eq if dseq > seq)

    return index(False), index(True), eq_for


def _initial_defaults(meta, entry: ManifestEntry) -> tuple[tuple[str, Any], ...]:
    """The initial defaults (v3 ADD COLUMN … DEFAULT) ``entry``'s rows
    read: physical presence first when the write-time column harvest is
    known (exact, Iceberg's field-id rule: covers a writer racing the ADD
    COLUMN, whose file commits with a later sequence yet lacks the
    column, and a file written before a rename under the old name), else
    the sequence watermark (a None sequence is pre-upgrade: it predates
    every default)."""
    out = []
    for c, d in meta.column_defaults.items():
        if entry.columns is not None:
            if not ({c, *meta.renames.get(c, [])} & set(entry.columns)):
                out.append((c, d["value"]))
        elif entry.sequence_number is None or entry.sequence_number <= d["added_seq"]:
            out.append((c, d["value"]))
    return tuple(out)


def _pushed_columns(predicate: str, schema) -> frozenset[str] | None:
    """The columns ``predicate`` reads when pruning.row_filter translates
    it for ``schema``'s declared types, checked on an empty table of
    those types before anything is read; else None. Collated, char and
    varchar strings decline: Spark does not compare them as plain
    bytes."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    from demo_iceberg_permanent_delete_spark.lake.pruning import (
        row_filter,
        row_filter_columns,
    )

    cols = row_filter_columns(predicate)
    if cols is None:
        return None
    fields = [f for f in schema.fields if f.name in cols]
    if any(
        isinstance(f.dataType, (T.StringType, T.CharType, T.VarcharType))
        and f.dataType != T.StringType()
        for f in fields
    ):
        return None
    try:
        typed = to_arrow_schema(T.StructType(fields)).empty_table()
    except (pa.ArrowException, TypeError, ValueError):
        return None
    return None if row_filter(predicate, typed) is None else cols
