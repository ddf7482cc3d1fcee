"""Spark Python DataSource for the lake format (round 2, X29).

Registers a ``lakehouse`` format so the table layer is reachable through
Spark's own source API — the way the reference reaches Iceberg through
``spark.read.format(...)`` / ``spark.readStream`` (its catalog stack wires
the Iceberg Spark runtime; iceberg_pii_deletion_demo.py:261 reads with
``spark.read.option("snapshot-id", …)``):

    spark.dataSource.register(LakeDataSource)
    df  = spark.read.format("lakehouse").option("location", loc).load()
    st  = spark.readStream.format("lakehouse").option("location", loc).load()
    df.write.format("lakehouse").option("location", loc).mode("append").save()

Built on PySpark 4's Python DataSource API (pyspark.sql.datasource — public
API, shipped in this container). All heavy work happens on EXECUTORS:

- **Batch read**: one InputPartition per data file; each task reads its
  parquet with pyarrow, applies the snapshot's position deletes (row-index
  anti-filter) and equality deletes (anti-join gated on the Iceberg
  sequence rule — a delete only masks data files committed before it),
  then conforms to the declared schema (null-fill added columns, drop
  removed — the schema-evolution read contract). The driver ships only
  manifest metadata. Time travel via Iceberg's read options:
  ``snapshot-id``, ``as-of-timestamp`` (epoch ms), ``branch``, ``tag``
  (mutually exclusive).
- **Filter pushdown**: simple comparison/null filters are translated to a
  predicate string for the manifest min/max pruner (lake/pruning.py), so
  non-matching files are never scheduled; every filter is also returned as
  "unsupported" so Spark re-applies it exactly (pruning is sound skipping,
  not evaluation).
- **Streaming read**: offsets are snapshot ids on the main ancestry; each
  micro-batch emits the data files *appended* between offsets (per-commit
  change sets, metadata.change_set) — Iceberg's incremental append scan as
  a Structured Streaming source. Removed files and delete files are
  ignored (append-stream semantics, like Iceberg's default).
- **CDC streaming read** (``option("mode", "cdc")``): the changelog as a
  stream — each micro-batch emits exactly what ``LakeTable.changes()``
  yields for its snapshot range (INSERT/DELETE rows with the Iceberg
  changelog column triple), one executor task per touched file per
  commit; differentially tested against the batch changelog. With
  ``option("lineage", "true")`` each row additionally carries
  ``_row_id``/``_last_updated_sequence_number`` resolved by the v3
  inheritance rule (executor-side twin of ``changes(lineage=True)``):
  file-global positions ride the delete merge so an UPDATE's DELETE and
  INSERT rows pair by row identity straight off the stream.
- **Batch write**: each task streams its Arrow batches into one parquet
  file and reports footer stats in its commit message; the driver commit
  registers all files in ONE snapshot (append, or overwrite for
  mode("overwrite")) with the same CAS retry the table API uses. Aborts
  delete the written files.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass, field
from typing import Any, Collection, Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType


# Parent directory of the installed package, captured at driver import
# time: worker processes that received the module BY VALUE (see
# register()) re-import the rest of the package from here when the
# harness's Python path doesn't carry it.
_PKG_PARENT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def _ensure_importable() -> None:
    import importlib
    import sys as _sys

    try:
        importlib.import_module("demo_iceberg_permanent_delete_spark")
    except ModuleNotFoundError:
        _sys.path.insert(0, _PKG_PARENT)


# --------------------------------------------------------------- helpers
def _truthy(v) -> bool:
    return str(v).lower() in ("true", "1", "yes")


def _ddl_fields(ddl: str) -> list[tuple[str, str]]:
    """(name, type-string) pairs from a schema DDL, split on TOP-LEVEL
    commas only (decimal(10,2) / array<struct<…>> stay whole) — a
    session-free parse for contexts where StructType.fromDDL can't run
    (the DataSource planning worker has no SparkSession)."""
    out, depth, cur = [], 0, []
    for ch in ddl:
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    fields = []
    for part in out:
        name, _, type_str = part.strip().partition(" ")
        fields.append((name, type_str.strip()))
    return fields


def _arrow_type_for_ddl(type_str: str):
    """Arrow type for a SCALAR Spark DDL type string; None when the type
    is not a supported default-bearing scalar (the caller then leaves the
    column to the read path's declared-schema null-fill)."""
    import re as _re

    import pyarrow as pa

    t = type_str.strip().lower()
    m = _re.match(r"decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)$", t)
    if m:
        return pa.decimal128(int(m.group(1)), int(m.group(2)))
    return {
        "boolean": pa.bool_(),
        "tinyint": pa.int8(),
        "byte": pa.int8(),
        "smallint": pa.int16(),
        "short": pa.int16(),
        "int": pa.int32(),
        "integer": pa.int32(),
        "bigint": pa.int64(),
        "long": pa.int64(),
        "float": pa.float32(),
        "real": pa.float32(),
        "double": pa.float64(),
        "string": pa.string(),
        "varchar": pa.string(),
        "date": pa.date32(),
        "timestamp": pa.timestamp("us"),
        "timestamp_ntz": pa.timestamp("us"),
        "binary": pa.binary(),
    }.get(t)


def _load_meta(options):
    """Resolve the table's TableMetadata from reader/writer options:
    ``location`` (table root) or ``warehouse`` + ``table`` (catalog
    registry lookup). Driver-side only."""
    import json

    from demo_iceberg_permanent_delete_spark.lake.metadata import TableMetadata

    location = options.get("location")
    if not location:
        warehouse, table = options.get("warehouse"), options.get("table")
        if not warehouse or not table:
            raise ValueError(
                "lakehouse source needs option 'location' or options "
                "'warehouse' + 'table'"
            )
        with open(os.path.join(warehouse, "catalog.json")) as fh:
            reg = json.load(fh)
        if table not in reg["tables"]:
            raise ValueError(f"table {table!r} not found in catalog")
        location = reg["tables"][table]["location"]
    return TableMetadata.load(location)


def _conform(table, arrow_schema, renames=None):
    """Project/cast/null-fill an arrow table to the declared schema —
    the by-name resolution contract of lake/table.py:_data_reader.
    ``renames`` (current → historical names) resolves columns of files
    written before a RENAME COLUMN through their old physical name."""
    import pyarrow as pa

    cols = []
    for fld in arrow_schema:
        name = _physical_name(table.column_names, fld.name, renames)
        if name is not None:
            col = table.column(name)
            if col.type != fld.type:
                col = _cast_widening(col, fld.type)
            cols.append(col)
        else:
            cols.append(pa.nulls(table.num_rows, type=fld.type))
    return pa.Table.from_arrays(cols, schema=arrow_schema)


def _cast_widening(col, target):
    """Arrow cast that also handles nested ADD COLUMN: ``Array.cast``
    refuses struct casts that change the field count, so structs are
    rebuilt field-by-field — declared subfields missing from the file
    null-fill (by name, recursively; the contract the JVM parquet reader
    gives Spark for free). Top-level struct nulls are preserved via the
    validity mask. Non-struct mismatches keep Arrow's plain cast and its
    errors."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if not (pa.types.is_struct(target) and pa.types.is_struct(col.type)):
        return col.cast(target)
    arr = (
        col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    )
    have = {col.type.field(i).name for i in range(col.type.num_fields)}
    children = []
    for i in range(target.num_fields):
        f = target.field(i)
        if f.name in have:
            child = arr.field(f.name)
            if child.type != f.type:
                child = _cast_widening(child, f.type)
        else:
            child = pa.nulls(len(arr), type=f.type)
        children.append(child)
    return pa.StructArray.from_arrays(
        children,
        fields=[target.field(i) for i in range(target.num_fields)],
        mask=pc.is_null(arr),
    )


def _read_data_file(
    path: str,
    arrow_schema,
    pos_delete_paths: Sequence[str] = (),
    eq_deletes: Sequence[tuple[tuple[str, ...], tuple[str, ...]]] = (),
    renames=None,
    dv_paths: Sequence[str] = (),
    row_groups: tuple[int, int] | None = None,
    row_offset: int = 0,
    defaults: Sequence[tuple[str, object]] = (),
):
    """Executor-side MOR read of one data file → iterator of RecordBatch.
    ``defaults``: (column, value) pairs for initial defaults (v3 ADD
    COLUMN … DEFAULT) this file PREDATES — driver-decided; injected into
    the raw table BEFORE the equality-delete merge (deletes keyed on the
    defaulted column must see the read value) and overwritten after
    conformance for uniformity."""
    tbl, _ = _conformed_file(
        path,
        arrow_schema,
        pos_delete_paths,
        eq_deletes,
        renames,
        dv_paths,
        defaults,
        row_groups=row_groups,
        row_offset=row_offset,
    )
    yield from tbl.to_batches()


def _conformed_file(
    path: str,
    arrow_schema,
    pos_delete_paths: Sequence[str],
    eq_deletes: Sequence[tuple[tuple[str, ...], tuple[str, ...]]],
    renames,
    dv_paths: Sequence[str],
    defaults: Sequence[tuple[str, object]],
    *,
    row_groups: tuple[int, int] | None = None,
    row_offset: int = 0,
    with_positions: bool = False,
    columns: Collection[str] | None = None,
):
    """(conformed visible table, raw visible table) of one data file: the
    per-file MOR read every reader shares — deletes applied, then
    renames, widening, null-fill and initial defaults resolved against
    ``arrow_schema``. The raw table keeps ``__gpos`` and any
    materialized lineage columns for callers that need them.

    ``columns`` projects the read: the conformed table holds only those
    columns of ``arrow_schema``, and the file is read for them plus the
    equality-delete key columns, each under its current and historical
    (renamed) physical names; defaults are injected for the same set."""
    physical = None
    if columns is not None:
        need = {*columns, *(c for _, keys in eq_deletes for c in keys)}
        physical = {
            n for c in need for n in (c, *((renames or {}).get(c, ())))
        }
        defaults = tuple((c, v) for c, v in defaults if c in need)
    raw = _visible_table(
        path,
        pos_delete_paths,
        eq_deletes,
        dv_paths,
        renames,
        row_groups=row_groups,
        row_offset=row_offset,
        defaults_typed=_typed_defaults(arrow_schema, defaults),
        with_positions=with_positions,
        columns=physical,
    )
    if columns is not None:
        import pyarrow as pa

        arrow_schema = pa.schema([f for f in arrow_schema if f.name in columns])
    return _apply_defaults(_conform(raw, arrow_schema, renames), defaults), raw


def read_entries_arrow(
    meta,
    files,
    arrow_schema,
    *,
    positions: bool = False,
    lineage: bool = False,
    columns: Collection[str] | None = None,
):
    """Driver-side MOR read of a scan plan's files (lake/scanplan.py
    FileScan: a data file with the deletes and defaults it reads) into
    ONE pyarrow Table conformed to ``arrow_schema``: the batch reader's
    per-file read (_conformed_file), run in-process over each file.

    ``lineage`` appends ``_row_id`` and ``_last_updated_sequence_number``
    resolved per row by _resolve_lineage (the table read's
    _attach_lineage rule). ``positions`` then appends ``__fp`` (the
    manifest path) and ``__pos`` (the row's file-global position), the
    keys position deletes are written against.

    ``columns`` keeps only those columns of ``arrow_schema`` (before the
    lineage and position columns), and each file is read for just them
    and what its deletes need (_conformed_file)."""
    import pyarrow as pa

    if columns is not None and lineage:
        columns = {*columns, "_row_id", "_last_updated_sequence_number"}
    parts = []
    for f in files:
        tbl, raw = _conformed_file(
            f.file_path,
            arrow_schema,
            f.pos_deletes,
            f.eq_deletes,
            meta.renames,
            f.dv_deletes,
            f.defaults,
            with_positions=positions or lineage,
            columns=columns,
        )
        if lineage:
            rid, seq = _resolve_lineage(
                raw, f.entry.first_row_id, f.entry.sequence_number
            )
            tbl = tbl.append_column("_row_id", rid)
            tbl = tbl.append_column("_last_updated_sequence_number", seq)
        if positions:
            tbl = tbl.append_column(
                "__fp", pa.repeat(pa.scalar(f.file_path, pa.string()), tbl.num_rows)
            )
            tbl = tbl.append_column("__pos", raw.column("__gpos"))
        parts.append(tbl)
    return pa.concat_tables(parts)


def _typed_defaults(arrow_schema, defaults):
    """(col, value) pairs -> (col, value, arrow type) for the columns the
    conformed schema declares (others can't be projected anyway)."""
    typed = []
    for c, v in defaults:
        i = arrow_schema.get_field_index(c)
        if i >= 0:
            typed.append((c, v, arrow_schema.field(i).type))
    return tuple(typed)


def _apply_defaults(tbl, defaults: Sequence[tuple[str, object]]):
    """Overwrite each default-bearing column with its constant — the file
    predates the column (driver decided by manifest sequence), so the
    conformed table holds only the reader's null-fill there."""
    if not defaults:
        return tbl
    import pyarrow as pa

    for c, v in defaults:
        i = tbl.schema.get_field_index(c)
        if i < 0:
            continue
        fld = tbl.schema.field(i)
        try:
            arr = pa.array([v] * tbl.num_rows, type=fld.type)
        except (pa.ArrowInvalid, pa.ArrowTypeError, pa.ArrowNotImplementedError):
            arr = pa.array([v] * tbl.num_rows).cast(fld.type)
        tbl = tbl.set_column(i, fld, arr)
    return tbl


def _resolve_lineage(tbl, first_row_id, file_sequence):
    """(_row_id, _last_updated_sequence_number) int64 arrays for a raw
    (pre-conform) table carrying ``__gpos`` file-global positions, by
    the rule lake/table.py _attach_lineage applies in Spark: the file's
    MATERIALIZED lineage column value wins per row (rewrites carry ids
    forward that way), a NULL inherits first_row_id + position / the
    file's data sequence number, and a pre-upgrade file (both None)
    resolves to honest NULL. The reserved column names are never
    renamed, so no rename-chain lookup applies."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = tbl.num_rows
    gpos = tbl.column("__gpos")

    def _mat(name):
        if name in tbl.column_names:
            return pc.cast(tbl.column(name), pa.int64())
        return pa.nulls(n, pa.int64())

    if first_row_id is None:
        inherit_rid = pa.nulls(n, pa.int64())
    else:
        inherit_rid = pc.add(gpos, pa.scalar(first_row_id, pa.int64()))
    rid = pc.coalesce(_mat("_row_id"), inherit_rid)
    seq = pc.coalesce(
        _mat("_last_updated_sequence_number"),
        pa.scalar(file_sequence, pa.int64()),
    )
    return rid, seq


def _tombstone_positions(
    path: str,
    pos_delete_paths: Sequence[str],
    dv_paths: Sequence[str],
    row_range: tuple[int, int] | None = None,
):
    """Positions tombstoned for ``path`` across row-layout position-delete
    files and deletion-vector files → sorted unique int64 numpy array
    (file-global positions).

    ``row_range=(lo, hi)`` scopes the row-layout read to positions in
    [lo, hi) — split partitions of one oversized file each call this
    (round-5 review finding), and the pushed parquet filter prunes
    delete-file row groups instead of every split re-reading every
    delete file in full. The filter is also EXACT (dataset-API
    evaluation), so no post-filter is needed. DV entries are one row per
    target file; their positions array is clamped by the caller."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from demo_iceberg_permanent_delete_spark.lake.metadata import (
        path_spellings,
        plain_path,
    )

    # a path that needs URL encoding may also be named by its encoded
    # spelling (metadata.path_spellings), which no pushed equality
    # filter can see: such rows are selected after the read
    plain = plain_path(path)
    by_path = [("file_path", "==", path)] if plain else []

    def addressed(tbl):
        if plain:
            return tbl
        vals = tbl.column("file_path")
        hits = [
            v
            for v in pc.unique(vals).to_pylist()
            if v is not None and path in path_spellings(v)
        ]
        return tbl.filter(pc.is_in(vals, pa.array(hits, pa.string())))

    drops: list = []
    if pos_delete_paths:
        filters: list[tuple] = list(by_path)
        if row_range is not None:
            filters += [("pos", ">=", row_range[0]), ("pos", "<", row_range[1])]
        mine = addressed(
            pa.concat_tables(
                pq.read_table(
                    p, columns=["file_path", "pos"], filters=filters or None
                )
                for p in pos_delete_paths
            )
        )
        if mine.num_rows:
            drops.append(np.asarray(mine.column("pos")).astype("int64"))
    if dv_paths:
        # deletion-vector layout: one row per target data file with the
        # sorted positions array — filter to this file, concatenate arrays
        mine = addressed(
            pa.concat_tables(
                pq.read_table(
                    p, columns=["file_path", "positions"], filters=by_path or None
                )
                for p in dv_paths
            )
        )
        for arr in mine.column("positions").to_pylist():
            if arr:
                drops.append(np.asarray(arr, dtype="int64"))
    if not drops:
        return np.empty(0, dtype="int64")
    return np.unique(np.concatenate(drops))


def _physical_name(column_names, name: str, renames) -> str | None:
    """Resolve a current logical column to the file's physical column via
    the rename chain (same contract as _conform); None when the file
    predates the column entirely."""
    if name in column_names:
        return name
    if renames:
        for old in renames.get(name, ()):
            if old in column_names:
                return old
    return None


def _take_positions(path: str, idx, pf=None):
    """Rows of ``path`` at file-global positions ``idx``, reading ONLY
    the row groups that contain them (None when idx is empty). The
    footer's per-group row counts map global positions to (group, local
    index); selected groups concatenate in order, so local indices are
    rebased onto the concatenated table. ``pf`` reuses a caller's open
    ParquetFile (one footer parse per task, not two)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not idx.size:
        return None
    pf = pf or pq.ParquetFile(path)
    md = pf.metadata
    rg_rows = np.array(
        [md.row_group(i).num_rows for i in range(md.num_row_groups)],
        dtype=np.int64,
    )
    starts = np.concatenate([np.zeros(1, dtype=np.int64), np.cumsum(rg_rows)])
    idx = idx[idx < starts[-1]]
    if not idx.size:
        return None
    owner = np.searchsorted(starts, idx, side="right") - 1
    gsel = np.unique(owner)
    tbl = pf.read_row_groups(gsel.tolist())
    new_starts = np.concatenate(
        [np.zeros(1, dtype=np.int64), np.cumsum(rg_rows[gsel])]
    )
    gpos = np.searchsorted(gsel, owner)
    local = idx - starts[owner] + new_starts[gpos]
    return tbl.take(pa.array(local, type=pa.int64()))


def _binary_key_set(keys_schema, key_cols) -> frozenset:
    """Key columns whose DELETE-file type is binary-like — the delete
    side always carries its keys, so it dictates the canonical join type
    for both sides (a data file that predates the column contributes a
    null-typed column and can't self-classify)."""
    import pyarrow as pa

    return frozenset(
        c
        for c in key_cols
        if pa.types.is_binary(keys_schema.field(c).type)
        or pa.types.is_large_binary(keys_schema.field(c).type)
        or pa.types.is_fixed_size_binary(keys_schema.field(c).type)
    )


def _null_safe_key(tbl, key_cols, renames, binary_keys=frozenset()):
    """(join-column names, augmented table) implementing eqNullSafe
    equality on ``key_cols``: each key joins as its canonical STRING
    representation plus an is_null flag, so NULL==NULL matches (Arrow
    joins otherwise never match nulls, while the table read path and
    the batch changelog use eqNullSafe — lake/table.py) and both join
    sides always share one type regardless of the file's physical type
    (an int32-era file joins an int64 key; a file that predates the
    column entirely contributes all-null keys). Arrow's value→string
    casts are injective per value; NaNs collapse to one key, which IS
    Spark's eqNullSafe semantics (NaN == NaN). Binary keys (round-5
    brief item 5) canonicalize to ``large_binary`` instead — a lossless
    cast from binary/large_binary/fixed_size_binary, exact byte
    equality like the batch ``changes()`` Spark join, with ``b''``
    null-fill disambiguated by the same is_null flag. Rename-aware on
    the data side via the physical-name chain."""
    import pyarrow as pa
    import pyarrow.compute as pc

    join_cols: list[str] = []
    for i, c in enumerate(key_cols):
        phys = _physical_name(tbl.column_names, c, renames)
        col = tbl.column(phys) if phys is not None else pa.nulls(tbl.num_rows)
        if (
            pa.types.is_binary(col.type)
            or pa.types.is_large_binary(col.type)
            or pa.types.is_fixed_size_binary(col.type)
            # a file that predates a BINARY key contributes a null-typed
            # column — `binary_keys` (derived from the delete-file side,
            # which always carries its key columns) keeps both join
            # sides on one canonical type
            or (c in binary_keys and pa.types.is_null(col.type))
        ):
            canon = pc.cast(col, pa.large_binary())
            fill: str | bytes = b""
        else:
            canon = pc.cast(col, pa.string())
            fill = ""
        v, n = f"__k{i}_v", f"__k{i}_n"
        tbl = tbl.append_column(v, pc.fill_null(canon, fill))
        tbl = tbl.append_column(n, pc.is_null(col))
        join_cols += [v, n]
    return join_cols, tbl


def _visible_table(
    path: str,
    pos_delete_paths: Sequence[str] = (),
    eq_deletes: Sequence[tuple[tuple[str, ...], tuple[str, ...]]] = (),
    dv_paths: Sequence[str] = (),
    renames=None,
    row_groups: tuple[int, int] | None = None,
    row_offset: int = 0,
    defaults_typed: Sequence[tuple[str, object, object]] = (),
    with_positions: bool = False,
    columns: Collection[str] | None = None,
):
    """Executor-side MOR read of one data file → visible pyarrow Table
    (position/DV/equality deletes applied, NOT yet schema-conformed).

    ``row_groups=(a, b)`` reads only parquet row groups [a, b) — a split
    of an oversized file (round-5 brief item 6) — with ``row_offset``
    the file-global position of the split's first row, so tombstone
    positions (which are file-global, Iceberg position-delete
    semantics) land on the right local rows.

    ``defaults_typed`` [(col, value, arrow type)]: initial defaults this
    file predates, injected BEFORE the equality-delete merge — a delete
    keyed on the defaulted column must mask rows whose READ value is the
    default, exactly like the table-side path (review finding: applying
    them only after the merge let pre-add rows dodge the delete).

    ``with_positions``: append a ``__gpos`` int64 column holding each
    row's FILE-GLOBAL position before any delete filtering — the
    surviving rows then carry the positions row-lineage inheritance
    needs (_row_id = first_row_id + position, _resolve_lineage).

    ``columns``: read only the file's columns of this set of physical
    names (all of them when None)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    if row_groups is None and columns is None:
        tbl = pq.read_table(path)
    else:
        pf = pq.ParquetFile(path)
        read = None
        if columns is not None:
            read = [c for c in pf.schema_arrow.names if c in columns]
        if row_groups is None:
            tbl = pf.read(columns=read)
        else:
            tbl = pf.read_row_groups(
                list(range(row_groups[0], row_groups[1])), columns=read
            )
    if with_positions:
        tbl = tbl.append_column(
            "__gpos",
            pa.array(
                np.arange(row_offset, row_offset + tbl.num_rows), pa.int64()
            ),
        )
    for c, v, typ in defaults_typed:
        if c not in tbl.column_names:
            try:
                arr = pa.array([v] * tbl.num_rows, type=typ)
            except (
                pa.ArrowInvalid,
                pa.ArrowTypeError,
                pa.ArrowNotImplementedError,
            ):
                arr = pa.array([v] * tbl.num_rows).cast(typ)
            tbl = tbl.append_column(pa.field(c, typ), arr)
    drop = _tombstone_positions(
        path,
        pos_delete_paths,
        dv_paths,
        row_range=(row_offset, row_offset + tbl.num_rows)
        if row_groups is not None
        else None,
    )
    if drop.size:
        local = (
            drop[(drop >= row_offset) & (drop < row_offset + tbl.num_rows)]
            - row_offset
        )
        if local.size:
            keep = np.ones(tbl.num_rows, dtype=bool)
            keep[local] = False
            tbl = tbl.filter(pa.array(keep))
    for paths, key_cols in eq_deletes:
        keys = pa.concat_tables(
            pq.read_table(p, columns=list(key_cols)) for p in paths
        )
        if keys.num_rows:
            # both sides derive the same synthetic (__k{i}_v, __k{i}_n)
            # column names, so the join keys line up directly
            binary_keys = _binary_key_set(keys.schema, key_cols)
            jcols, tbl_aug = _null_safe_key(
                tbl, key_cols, renames, binary_keys
            )
            kcols, keys_aug = _null_safe_key(keys, key_cols, None, binary_keys)
            tbl_aug = tbl_aug.append_column(
                "__row", pa.array(range(tbl.num_rows), pa.int64())
            )
            kept = tbl_aug.select(["__row", *jcols]).join(
                keys_aug.select(kcols).group_by(kcols).aggregate([]),
                keys=jcols,
                join_type="left anti",
            )
            idx = pa.array(
                sorted(kept.column("__row").to_pylist()), type=pa.int64()
            )
            tbl = tbl.take(idx)
    return tbl


@dataclass
class LakeFilePartition(InputPartition):
    # one file of a scan plan (lake/scanplan.py FileScan) as plain paths:
    # the module ships to workers by value, the plan's classes do not
    file_path: str | None
    pos_delete_paths: tuple[str, ...] = ()
    # ((delete file paths…), (equality key columns…))
    eq_deletes: tuple[tuple[tuple[str, ...], tuple[str, ...]], ...] = ()
    # deletion-vector-layout position-delete files (content=1, dv=True)
    dv_paths: tuple[str, ...] = ()
    # split of an oversized file: parquet row groups [a, b) plus the
    # file-global position of the split's first row (None = whole file)
    row_groups: tuple[int, int] | None = None
    row_offset: int = 0
    # initial defaults (v3 ADD COLUMN … DEFAULT) this file predates:
    # (column, value) pairs
    defaults: tuple[tuple[str, object], ...] = ()


# Files above this size are split into one input partition per ~this many
# row-group bytes (Spark's spark.sql.files.maxPartitionBytes default).
# Files WE write target ~128 MiB, so this only bites add_files-migrated
# foreign parquet — which would otherwise pin a single task per huge file.
DEFAULT_SPLIT_BYTES = 128 * 1024 * 1024


def _file_splits(entry, split_bytes: int) -> list:
    """Shared split policy for every reader (batch, append stream, CDC):
    a file at or under the threshold is one whole-file unit [(None, 0)];
    an oversized one (add_files-migrated foreign parquet — own writes
    target the threshold) fans out to one ((rg_start, rg_end),
    row_offset) unit per ~split_bytes of row groups."""
    if entry.file_size_in_bytes <= split_bytes:
        return [(None, 0)]
    return [
        ((a, b), off)
        for a, b, off in _plan_row_group_splits(
            entry.file_path, split_bytes, entry.file_size_in_bytes
        )
    ]


# plain-dict memo, NOT functools.lru_cache: lru_cache wrappers pickle BY
# REFERENCE (qualified-name reduce), which breaks the by-value module
# shipping that the foreign-cwd streaming runner depends on (register()
# uses cloudpickle.register_pickle_by_value — see that docstring)
_SPLIT_MEMO: dict[tuple, tuple] = {}


def _plan_row_group_splits(
    path: str, target_bytes: int, file_size: int | None = None
) -> tuple[tuple[int, int, int], ...]:
    """Greedy packing of a file's row groups into splits of ~target
    bytes → [(rg_start, rg_end, row_offset), …]. One footer read on the
    driver, only for files already known (from the manifest) to be
    oversized. A single giant row group can't be subdivided — the row
    group is this reader's atomic unit — so such a file degrades to one
    partition per row group. Memoized: data files are immutable (uuid
    paths, never rewritten in place), and the CDC planner may consult
    the same oversized file once per commit per kind."""
    import pyarrow.parquet as pq

    # identity = manifest size + the file's (inode, mtime_ns): a foreign
    # path recreated or rewritten in place within one process (even at
    # the same byte size) can't serve stale split boundaries — same
    # scheme as the facade's metadata cache. One stat per call; the
    # saved work is the footer open+parse.
    try:
        st = os.stat(path)
        ident = (st.st_ino, st.st_mtime_ns)
    except OSError:
        ident = None
    key = (path, target_bytes, file_size, ident)
    cached = _SPLIT_MEMO.get(key)
    if cached is not None:
        return cached
    md = pq.ParquetFile(path).metadata
    splits: list[tuple[int, int, int]] = []
    start, start_offset, offset, acc = 0, 0, 0, 0
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        if acc and acc + rg.total_byte_size > target_bytes:
            splits.append((start, i, start_offset))
            start, start_offset, acc = i, offset, 0
        acc += rg.total_byte_size
        offset += rg.num_rows
    splits.append((start, md.num_row_groups, start_offset))
    while len(_SPLIT_MEMO) >= 256:
        _SPLIT_MEMO.pop(next(iter(_SPLIT_MEMO)))
    _SPLIT_MEMO[key] = tuple(splits)
    return _SPLIT_MEMO[key]


# ------------------------------------------------------------ batch read
class LakeBatchReader(DataSourceReader):
    def __init__(self, schema: StructType, options) -> None:
        from pyspark.sql.pandas.types import to_arrow_schema

        self._arrow_schema = to_arrow_schema(schema)
        self._options = options
        self._meta = _load_meta(options)
        self._renames = self._meta.renames  # all read() needs of _meta
        # the version this reader PLANS against, pinned at construction:
        # an unpickled copy must reload exactly it, not whatever committed
        # meanwhile (round-6 review finding — a later version would plan a
        # snapshot the query never selected, with renames out of sync
        # with the _renames captured above)
        self._pinned = (self._meta.location, self._meta.version)
        self._predicate: str | None = None

    def __getstate__(self):
        """Executors only call read(); partitions() fills _meta's
        delta/manifest caches with O(table files) of resolved entries,
        which must not ship inside every task's pickled reader (round-6
        review finding — same fix as the stream reader)."""
        state = dict(self.__dict__)
        state["_meta"] = None
        return state

    def _resolve_read_snapshot(self, meta):
        """Iceberg's time-travel read options, mutually exclusive:
        ``snapshot-id`` (exact), ``as-of-timestamp`` (epoch ms, latest
        commit at or before), ``branch`` / ``tag`` (named ref). None set
        → the current snapshot. Mirrors LakeTable.read's selector rule."""
        opts = {
            k: self._options.get(k)
            for k in ("snapshot-id", "as-of-timestamp", "branch", "tag")
        }
        given = [k for k, v in opts.items() if v]
        if len(given) > 1:
            raise ValueError(
                f"set at most one of snapshot-id / as-of-timestamp / "
                f"branch / tag, got {given}"
            )
        if opts["snapshot-id"]:
            return meta.snapshot_by_id(int(opts["snapshot-id"]))
        if opts["as-of-timestamp"]:
            cutoff = int(opts["as-of-timestamp"])
            eligible = [
                s for s in meta.snapshots if s.committed_at_ms <= cutoff
            ]
            if not eligible:
                raise ValueError(
                    f"no snapshot committed at or before {cutoff}"
                )
            return max(eligible, key=lambda s: s.committed_at_ms)
        for kind in ("branch", "tag"):
            if opts[kind]:
                if kind == "branch" and opts[kind] == "main":
                    # resolve_ref's rule: 'main' IS the current snapshot
                    return meta.current_snapshot()
                ref = meta.refs.get(opts[kind])
                if ref is None or ref["type"] != kind:
                    raise ValueError(f"unknown {kind} {opts[kind]!r}")
                return meta.snapshot_by_id(int(ref["snapshot_id"]))
        return meta.current_snapshot()

    def _meta_or_load(self):
        """Planning normally runs in the worker that constructed the
        reader, but a copy unpickled elsewhere (a protocol that splits
        pushdown from planning, or a test round-trip) has _meta stripped
        by __getstate__ — reload the PINNED version instead of crashing
        on None (and never the head: see __init__)."""
        if self._meta is None:
            from demo_iceberg_permanent_delete_spark.lake.metadata import (
                TableMetadata,
            )

            self._meta = TableMetadata.load(*self._pinned)
        return self._meta

    def pushFilters(self, filters):
        """Translate simple filters into a pruning predicate; report ALL
        filters unsupported so Spark re-applies them (file skipping via
        manifest min/max stats is sound regardless)."""
        conjuncts = []
        for f in filters:
            sql = _filter_to_sql(f)
            if sql is not None:
                conjuncts.append(sql)
        if conjuncts:
            self._predicate = " AND ".join(conjuncts)
        return filters  # none handled exactly — Spark keeps them all

    def partitions(self) -> Sequence[InputPartition]:
        from demo_iceberg_permanent_delete_spark.lake.scanplan import plan_scan

        meta = self._meta_or_load()
        snap = self._resolve_read_snapshot(meta)
        plan = plan_scan(meta, snap, self._predicate)
        split_bytes = int(
            self._options.get("split-size", DEFAULT_SPLIT_BYTES)
        )
        parts = [
            LakeFilePartition(
                f.file_path,
                f.pos_deletes,
                f.eq_deletes,
                f.dv_deletes,
                row_groups=rg,
                row_offset=offset,
                defaults=f.defaults,
            )
            for f in plan.files
            for rg, offset in _file_splits(f.entry, split_bytes)
        ]
        return parts or [LakeFilePartition(None)]

    def read(self, partition: LakeFilePartition) -> Iterator:
        if partition.file_path is None:
            return iter(())
        return _read_data_file(
            partition.file_path,
            self._arrow_schema,
            partition.pos_delete_paths,
            partition.eq_deletes,
            renames=self._renames,
            dv_paths=partition.dv_paths,
            row_groups=partition.row_groups,
            row_offset=partition.row_offset,
            defaults=partition.defaults,
        )


def _filter_to_sql(f) -> str | None:
    """Best-effort translation of a pushed Filter to the pruner's SQL
    dialect; None = not translatable (no pruning contribution)."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        IsNotNull,
        IsNull,
        LessThan,
        LessThanOrEqual,
    )

    def col(f):
        path = f.attribute
        return path[0] if len(path) == 1 else None

    def lit(v) -> str | None:
        if isinstance(v, bool) or v is None:
            return None
        if isinstance(v, (int, float)):
            return repr(v)
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return None

    ops = {
        EqualTo: "=",
        GreaterThan: ">",
        GreaterThanOrEqual: ">=",
        LessThan: "<",
        LessThanOrEqual: "<=",
    }
    for cls, op in ops.items():
        if isinstance(f, cls):
            c, v = col(f), lit(f.value)
            return f"{c} {op} {v}" if c and v is not None else None
    if isinstance(f, IsNull):
        c = col(f)
        return f"{c} IS NULL" if c else None
    if isinstance(f, IsNotNull):
        c = col(f)
        return f"{c} IS NOT NULL" if c else None
    return None


# -------------------------------------------------------- streaming read
def _ancestry_chain(meta, start_id: int, end_id: int):
    """Snapshots strictly after ``start_id`` up to ``end_id``, oldest
    first; raises when the start offset left the ancestry (expired or
    rolled back)."""
    chain = []
    cur = meta.snapshot_by_id(end_id)
    while cur is not None and cur.snapshot_id != start_id:
        chain.append(cur)
        if cur.parent_id is None:
            if start_id != -1:
                raise RuntimeError(
                    f"streaming offset {start_id} is no longer in the "
                    "table's ancestry (expired or rolled back); restart "
                    "the stream with a fresh checkpoint"
                )
            break
        cur = meta._maybe_snapshot(cur.parent_id)
        if cur is None and start_id != -1:
            raise RuntimeError(
                f"streaming offset {start_id} unreachable: an ancestor "
                "snapshot was expired; restart with a fresh checkpoint"
            )
    chain.reverse()
    return chain


class LakeStreamReader(DataSourceStreamReader):
    """Incremental append scan as a streaming source.

    Offset = {"snapshot_id": S} (all main-ancestry commits through S
    consumed; -1 = none) or — under admission control — {"snapshot_id": S,
    "pos": p}: commits through S's parent consumed plus the first ``p``
    added data FILES of S, in manifest order. ``pos`` counts whole files —
    never row-group splits — so a checkpointed offset means the same rows
    under any ``split-size``; oversized files fan out to splits within the
    batch that admits them. Iceberg's SparkMicroBatchStream uses the same
    (snapshotId, position) offset shape for its
    ``streaming-max-files-per-micro-batch`` /
    ``streaming-max-rows-per-micro-batch`` read limits; this mirrors those
    option names. Without the options, offsets stay the bare legacy form so
    existing checkpoints keep working.

    Admission control lives in ``latestOffset`` (an offset range, once
    logged, must be planned exactly — capping inside ``partitions`` would
    silently drop the remainder): it advances the bounded end from the
    reader's tracked position. The Python DataSource API has no
    SupportsAdmissionControl (the JVM API hands ``latestOffset`` the start
    offset; the Python one does not), so the tracker is instance state,
    seeded by whichever of ``initialOffset``/``partitions``/``commit`` the
    engine calls first.

    Unseeded ``latestOffset`` (the tracker holds nothing yet): happens
    exactly twice in MicroBatchExecution's protocol — (a) the first
    micro-batch of a fresh query (traced: latestOffset precedes
    initialOffset) and (b) the first micro-batch after a restart whose
    last batch committed. With an explicit starting pin
    (``starting-offset`` id/earliest, or ``starting-timestamp`` —
    Iceberg's start-snapshot-id / stream-from-timestamp) the pin is the
    fresh query's known start, so batch 0 is admission-capped from it;
    if a RESTARTED query kept the pin after its checkpoint moved past it,
    the guessed end regresses the logged range and ``partitions`` fails
    loudly naming the pin (the checkpoint wins; remove the option on
    restart) instead of silently re-emitting. Without a pin the only end
    safe against every possible checkpoint is the HEAD (one unbounded
    batch) — any bounded guess could sit behind the checkpoint and
    regress the offset log into silent duplication, strictly worse.
    Every subsequent batch is capped. The default ``starting-offset`` is
    "latest" (empty batch 0), so a continuous stream over live commits —
    the steady state the caps protect — is bounded throughout.
    ``Trigger.AvailableNow`` captures a single ``latestOffset`` per run,
    so each availableNow run advances at most one capped chunk; use a
    continuous trigger (or repeated runs) to drain a backlog under
    caps."""

    _divisible = True  # admission may stop mid-snapshot (CDC overrides)

    def __init__(self, schema: StructType, options) -> None:
        from pyspark.sql.pandas.types import to_arrow_schema

        self._arrow_schema = to_arrow_schema(schema)
        self._options = options
        self._pos: dict | None = None  # last end offset this reader saw
        self._meta = None
        self._meta_ident = None
        meta = self._meta_fresh()  # one load for renames + offset resolution
        self._renames = meta.renames
        start_ts = options.get("starting-timestamp")
        starting = (options.get("starting-offset") or "latest").lower()
        # an explicit pin also bounds a capped stream's batch 0 (see
        # latestOffset); "latest" is the default, not a pin
        self._pinned = start_ts is not None or starting != "latest"
        if start_ts is not None:
            # Iceberg's stream-from-timestamp: include every commit at or
            # after the timestamp (epoch ms) ⇒ initial offset = the last
            # main-ancestry snapshot committed strictly BEFORE it
            from demo_iceberg_permanent_delete_spark.lake.metadata import (
                now_ms,
            )

            if int(start_ts) > now_ms():
                # Iceberg refuses future stream-from-timestamp pins the
                # same way: a silent empty stream would look like a hang
                raise ValueError(
                    f"starting-timestamp {start_ts} is in the future"
                )
            self._initial = -1
            cur = meta.current_snapshot()
            chain = []
            while cur is not None:
                chain.append(cur)
                cur = (
                    meta._maybe_snapshot(cur.parent_id)
                    if cur.parent_id is not None
                    else None
                )
            for snap in reversed(chain):  # oldest → newest
                if snap.committed_at_ms < int(start_ts):
                    self._initial = snap.snapshot_id
                else:
                    break
        elif starting == "earliest":
            self._initial = -1
        elif starting == "latest":
            self._initial = (
                meta.current_snapshot_id if meta.current_snapshot_id is not None else -1
            )
        else:
            # Iceberg's start-snapshot-id: fail loudly on an unknown pin
            # now, not with a confusing ancestry error mid-stream. The
            # enriched message covers the restart-after-expiry case: a
            # restarted query re-constructs the reader with its original
            # options, so an expired pin fails HERE even though the
            # checkpoint never needs it (the Python DataSource API gives
            # latestOffset no start offset to prefer) — tell the operator
            # the fix instead of a bare not-found.
            self._initial = int(starting)
            if self._initial != -1:
                from demo_iceberg_permanent_delete_spark.lake.errors import (
                    SnapshotNotFoundError,
                )

                try:
                    meta.snapshot_by_id(self._initial)
                except SnapshotNotFoundError as err:
                    raise SnapshotNotFoundError(
                        f"{err} — starting-offset pins apply to FRESH "
                        "queries only; if this is a restart whose "
                        "checkpoint already passed the pin (or the pinned "
                        "snapshot has been expired), remove the "
                        "starting-offset/starting-timestamp option: the "
                        "checkpoint wins"
                    ) from None

    def __getstate__(self):
        """Executors only ever call read(); the driver-side metadata
        cache (snapshot list + resolved manifests, O(table files) after
        CDC planning) must not ship with every task's pickled reader
        (round-6 review finding)."""
        state = dict(self.__dict__)
        state["_meta"] = None
        state["_meta_ident"] = None
        return state

    def _meta_fresh(self):
        """Table metadata, reloaded only when the committed version moved.
        ``latestOffset`` runs once per trigger; a full header parse per
        poll — with delta-file re-reads into a fresh instance's empty
        caches — is O(table metadata) work for a usually-unchanged answer
        (round-6 review finding). Staleness probe = the O(1) version-hint
        head read; identity guard = catalog_service.doc_identity (the
        ACTIVE backend's document identity — filesystem (inode, mtime_ns)
        or the in-memory backend's per-claim token) against DROP PURGE +
        CREATE reaching the same version number, the facade cache's
        scheme. A backend without doc_identity returns None and the
        reader reloads every poll — correct, just uncached."""
        from demo_iceberg_permanent_delete_spark.lake.catalog_service import (
            doc_identity,
        )
        from demo_iceberg_permanent_delete_spark.lake.metadata import (
            TableMetadata,
        )

        meta = self._meta
        if meta is not None and self._meta_ident is not None:
            try:
                latest = TableMetadata.latest_version(meta.location)
            except OSError:
                latest = None
            if latest == meta.version and (
                doc_identity(meta.location, meta.version) == self._meta_ident
            ):
                return meta
        meta = _load_meta(self._options)
        self._meta = meta
        self._meta_ident = doc_identity(meta.location, meta.version)
        return meta

    @staticmethod
    def _off(snapshot_id: int, pos: int | None = None) -> dict:
        """Normalized offset dict — the engine compares offsets as JSON
        strings, so fully-consumed snapshots must always serialize to the
        bare legacy form (never a null/0 "pos" variant)."""
        if pos is None:
            return {"snapshot_id": snapshot_id}
        return {"snapshot_id": snapshot_id, "pos": pos}

    def _opt_pos_int(self, name: str) -> int | None:
        v = self._options.get(name)
        if v is None:
            return None
        n = int(v)
        if n <= 0:
            raise ValueError(f"option {name} must be a positive integer, got {v!r}")
        return n

    def _append_units(self, meta, snap) -> list:
        """One snapshot's append work units — one per added data FILE, in
        manifest order: [(entry, n_rows), …]. Offsets' ``pos`` indexes
        into this list, so admission planning and batch planning MUST
        share it. Units are whole files, never row-group splits, for two
        reasons (round-6 review finding): a checkpointed ``pos`` must
        mean the same rows under ANY ``split-size`` — a split index would
        silently mis-replay a logged range after a restart that changed
        the option — and admission planning must not pay footer reads.
        ``partitions`` fans each admitted oversized file out to its
        row-group splits WITHIN the batch (Iceberg's read limits use the
        same file-position offsets for the same reason)."""
        # replace snapshots (compaction, rewrites) rewrite EXISTING
        # rows into new files — emitting their change set would
        # re-stream the whole table as fresh appends after every
        # rewrite_data_files (round-5 review finding; Iceberg's
        # incremental scan skips replace commits the same way, and
        # the CDC twin does too)
        if snap.operation == "replace":
            return []
        added_data = [
            e
            for e in meta.change_set(snap.snapshot_id).added
            if e.content == 0
        ]
        if snap.operation in ("delete", "overwrite") and added_data:
            # COW delete / overwrite: the commit's added files hold
            # REWRITTEN SURVIVOR rows, not appends — emitting them
            # would near-duplicate the sink. Iceberg's streaming
            # source throws on exactly these, with opt-in skip knobs
            # of the same names. (A MOR delete adds only delete
            # files, so it passes through with nothing to emit.)
            skip = (
                str(
                    self._options.get(
                        f"streaming-skip-{snap.operation}-snapshots", "false"
                    )
                ).lower()
                == "true"
            )
            if skip:
                return []
            raise ValueError(
                f"append stream cannot read a {snap.operation} "
                f"snapshot ({snap.snapshot_id}): its data files hold "
                "rewritten rows, not appends; set option "
                f"streaming-skip-{snap.operation}-snapshots=true to "
                "skip it"
            )
        return [(e, e.record_count) for e in added_data]

    def _admission_units(self, meta, snap) -> list[int]:
        """Per-unit row counts for admission accounting; index-aligned
        with ``_append_units`` so a mid-snapshot stop position is valid
        for ``partitions``."""
        return [n for _e, n in self._append_units(meta, snap)]

    def initialOffset(self) -> dict:
        self._pos = self._off(self._initial)
        return self._off(self._initial)

    def latestOffset(self) -> dict:
        meta = self._meta_fresh()  # sees concurrent commits, cached by version
        cur = meta.current_snapshot_id
        head = cur if cur is not None else -1
        max_files = self._opt_pos_int("streaming-max-files-per-micro-batch")
        max_rows = self._opt_pos_int("streaming-max-rows-per-micro-batch")
        if (max_files is None and max_rows is None) or head == -1:
            self._pos = self._off(head)
            return self._off(head)
        if self._pos is None:
            # Unseeded tracker (fresh query's first latestOffset, or a
            # restart whose last batch committed): the engine never hands a
            # Python stream reader the start position. With an explicit
            # starting pin (starting-offset id/earliest or
            # starting-timestamp) the pin IS the fresh query's start, so
            # batch 0 is bounded from it the Iceberg way (round-7 verdict
            # item 4). On a restart whose checkpoint moved PAST the pin
            # this guess regresses the range — partitions() detects that
            # and fails loudly naming the pin (the checkpoint always
            # starts AT the pin, so equality means no progress yet and
            # the guess is exact). Without a pin the only end safe
            # against every possible checkpoint is the head — a bounded
            # guess landing BEHIND the checkpoint would silently re-emit.
            # One unbounded batch; initialOffset/partitions seed the
            # tracker during it, so every subsequent batch is capped.
            if self._pinned:
                self._pos = self._off(self._initial)
                # fall through to the capped advance below
            else:
                import warnings

                # surface the documented blind spot instead of silently
                # planning a possibly-huge batch 0 (ADVICE r6): the user
                # asked for caps, and this one range cannot honor them
                warnings.warn(
                    "lakehouse stream: streaming-max-*-per-micro-batch "
                    "caps cannot bound the FIRST micro-batch of an "
                    "unpinned query (the Python DataSource API hides the "
                    "checkpointed start); set starting-offset or "
                    "starting-timestamp to bound batch 0",
                    stacklevel=2,
                )
                self._pos = self._off(head)
                return self._off(head)
        start_id = self._pos["snapshot_id"]
        start_pos = self._pos.get("pos")
        if start_id == head and start_pos is None:
            return dict(self._pos)
        work = []
        if start_pos is not None:
            work.append((meta.snapshot_by_id(start_id), start_pos))
        work.extend((s, 0) for s in _ancestry_chain(meta, start_id, head))
        budget_files = max_files if max_files is not None else float("inf")
        budget_rows = max_rows if max_rows is not None else float("inf")
        admitted = 0  # ≥1 unit per batch even when one unit exceeds a cap
        end = dict(self._pos)
        for snap, skip_n in work:
            if not self._divisible:
                # snapshot-atomic (CDC): a commit's change set is admitted
                # whole or not at all; a non-divisible reader must define
                # _admission_cost(meta, snap) -> (files, rows)
                cost_files, cost_rows = self._admission_cost(meta, snap)
                if admitted and (
                    budget_files < cost_files or budget_rows < cost_rows
                ):
                    break
                budget_files -= cost_files
                budget_rows -= cost_rows
                admitted += cost_files
                end = self._off(snap.snapshot_id)
                continue
            if admitted and budget_files < 1:
                break  # batch full: don't even resolve the next delta
            try:
                units = self._admission_units(meta, snap)
            except ValueError:
                # an unskipped COW delete/overwrite just past a full batch
                # boundary must not withhold the completed batch (round-6
                # review finding): return what was admitted; the NEXT poll
                # reaches this snapshot with admitted == 0 and re-raises —
                # the same point the uncapped stream errors at
                if admitted:
                    break
                raise
            take, stopped = skip_n, False
            for n_rows in units[skip_n:]:
                if admitted and (budget_files < 1 or budget_rows < n_rows):
                    stopped = True
                    break
                budget_files -= 1
                budget_rows -= n_rows
                admitted += 1
                take += 1
            if take >= len(units):
                end = self._off(snap.snapshot_id)
            elif take > skip_n or skip_n > 0:
                end = self._off(snap.snapshot_id, take)
            if stopped:
                break
        self._pos = dict(end)
        return end

    def _check_not_regressed(self, meta, start: dict, end: dict) -> None:
        """Fail loudly when ``end`` sits BEHIND ``start`` in the ancestry.
        Two causes, distinguished by ``self._pinned`` (review catches):
        a restarted query kept an explicit starting pin its checkpoint
        has already moved past (latestOffset's pin-seeded batch-0 guess),
        or — unpinned — the table at this location was dropped/recreated
        or rolled back under the checkpoint. Both would otherwise lead to
        silent re-emission (planning the regressed range directly, or an
        empty batch that RESETS the committed offset so the recreated
        table later streams from scratch as fresh appends)."""
        start_id, end_id = start["snapshot_id"], end["snapshot_id"]
        behind = False
        if start_id == end_id:
            sp, ep = start.get("pos"), end.get("pos")
            behind = ep is not None and (sp is None or ep < sp)
        elif end_id == -1:
            behind = start_id != -1
        else:
            # Forward probe first: in the normal case end sits a few
            # commits AHEAD of start, so walking end→parents hits start
            # after O(batch distance) steps — the expensive start→root
            # walk (O(snapshot history) when end is NOT an ancestor, i.e.
            # every healthy batch) only runs when the forward probe
            # failed, which is the about-to-raise path or an expired-
            # start edge (review finding).
            forward = False
            cur = meta._maybe_snapshot(end_id)
            while cur is not None:
                if cur.snapshot_id == start_id:
                    forward = True
                    break
                cur = (
                    meta._maybe_snapshot(cur.parent_id)
                    if cur.parent_id is not None
                    else None
                )
            if not forward:
                cur = meta._maybe_snapshot(start_id)
                while cur is not None and cur.parent_id is not None:
                    if cur.parent_id == end_id:
                        behind = True
                        break
                    cur = meta._maybe_snapshot(cur.parent_id)
        if behind:
            if self._pinned:
                raise ValueError(
                    f"offset range end {end} is behind the checkpointed "
                    f"start {start}: this query restarted with a "
                    "starting-offset/starting-timestamp pin its checkpoint "
                    "has already passed — remove the option on restart "
                    "(the checkpoint wins)"
                )
            raise ValueError(
                f"offset range end {end} is behind the checkpointed start "
                f"{start}: the table at this location was dropped/"
                "recreated or rolled back under this stream — restart "
                "with a fresh checkpoint"
            )

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        start_id, end_id = start["snapshot_id"], end["snapshot_id"]
        start_pos, end_pos = start.get("pos"), end.get("pos")
        if end_id == -1 and start_id != -1:
            self._check_not_regressed(self._meta_fresh(), start, end)
        # engine-driven position (checkpoint replay after a crash mid-batch
        # lands here without a prior latestOffset) — track it so admission
        # control resumes from the truth
        self._pos = dict(end)
        if end_id == -1 or (start_id == end_id and start_pos == end_pos):
            return [LakeFilePartition(None)]
        meta = self._meta_fresh()
        self._check_not_regressed(meta, start, end)
        work = []
        if start_pos is not None:
            work.append((meta.snapshot_by_id(start_id), start_pos))
        if start_id != end_id:
            work.extend((s, 0) for s in _ancestry_chain(meta, start_id, end_id))
        from demo_iceberg_permanent_delete_spark.lake.scanplan import plan_scan

        split_bytes = int(self._options.get("split-size", DEFAULT_SPLIT_BYTES))
        parts: list[LakeFilePartition] = []
        for snap, skip_n in work:
            units = self._append_units(meta, snap)
            if snap.snapshot_id == end_id and end_pos is not None:
                units = units[:end_pos]
            # appended rows as written: no delete applies to an append scan
            plan = plan_scan(meta, None, data=[e for e, _n in units[skip_n:]])
            for f in plan.files:
                # offsets admit whole files; oversized files fan out to
                # row-group splits here, WITHIN the batch
                for rg, offset in _file_splits(f.entry, split_bytes):
                    parts.append(
                        LakeFilePartition(
                            f.file_path,
                            row_groups=rg,
                            row_offset=offset,
                            defaults=f.defaults,
                        )
                    )
        return parts or [LakeFilePartition(None)]

    def read(self, partition: LakeFilePartition) -> Iterator:
        if partition.file_path is None:
            return iter(())
        return _read_data_file(
            partition.file_path,
            self._arrow_schema,
            renames=self._renames,
            row_groups=partition.row_groups,
            row_offset=partition.row_offset,
            defaults=partition.defaults,
        )

    def commit(self, end: dict) -> None:
        # offsets are durable in the table's own metadata; tracking the
        # committed end keeps admission control aligned with the engine
        self._pos = dict(end)


# ------------------------------------------------------------ CDC stream
_CDC_COLS_DDL = (
    ", _change_type string, _change_ordinal int, _commit_snapshot_id bigint"
)


@dataclass
class CdcPartition(InputPartition):
    """One CDC work unit: a data file read under one of four emit modes.

    kind = "insert" (rows of a file the commit added), "delete" (the
    parent-VISIBLE rows of a file the commit removed), "masked" (rows a
    commit's new position-delete/DV files tombstone), "eq" (parent-
    visible rows matching a commit's new equality-delete keys)."""

    kind: str = "noop"
    file_path: str | None = None
    # parent-visibility deletes (kinds "delete"/"eq")
    pos_delete_paths: tuple = ()
    eq_deletes: tuple = ()
    dv_paths: tuple = ()
    # the commit's freshly-added tombstone files (kind "masked")
    mask_pos_paths: tuple = ()
    mask_dv_paths: tuple = ()
    # equality keys to MATCH, ((paths…), (key cols…)) (kind "eq")
    eq_match: tuple = ()
    change_type: str = "INSERT"
    ordinal: int = 0
    commit_id: int = 0
    # split of an oversized file (same policy as the batch reader):
    # row groups [a, b) + the file-global position of the first row
    row_groups: tuple | None = None
    row_offset: int = 0
    # initial defaults this file predates (see LakeFilePartition)
    defaults: tuple = ()
    # row lineage (option lineage=true): emit _row_id /
    # _last_updated_sequence_number resolved by the Iceberg v3
    # inheritance rule — the file's materialized column value when
    # present, else first_row_id + position / the file's data sequence
    # (both None for pre-upgrade manifests → honest NULL)
    lineage: bool = False
    first_row_id: int | None = None
    file_sequence: int | None = None


class LakeCdcStreamReader(LakeStreamReader):
    """Changelog (CDC) streaming source — ``mode => cdc``: each
    micro-batch emits exactly the rows ``LakeTable.changes(start, end)``
    would for its snapshot range, with the same Iceberg changelog column
    triple (``_change_type`` INSERT/DELETE, ``_change_ordinal`` = commit
    order within the batch's range, ``_commit_snapshot_id``) — Iceberg's
    CDC read re-expressed as a Python DataSource stream (reference scope:
    its catalog stack ships the Spark changelog procedure; the repo's
    batch twin is ``create_changelog_view`` / ``LakeTable.changes``,
    lake/table.py:643). Semantics mirror changes() per commit: replace
    snapshots are skipped; added data files emit INSERTs (raw rows);
    removed files emit their parent-visible rows as DELETEs; added
    position-delete/DV files emit exactly the masked rows; added
    equality-delete files emit the parent-visible matching rows with
    eqNullSafe key semantics (NULL keys match NULL values, same as the
    batch changelog). ``net_changes`` is a batch-only option.

    Scale shape: one executor task per touched file per commit (several
    for an oversized add_files-migrated file — row-group splits, same
    policy as the batch reader) — work is bounded by each commit's delta
    exactly like the batch changelog. Driver planning reads tombstone
    -file path columns (metadata-proportional) to schedule "masked"
    partitions, plus one memoized footer per oversized file for split
    boundaries. Known trade-off: each split of a file under an
    eq-delete commit re-reads the (typically small) equality-key files
    for its own anti-/semi-join; position-delete reads are range-pruned
    per split instead.
    """

    # a commit's change set is one atomic CDC unit: admission control
    # (streaming-max-files/rows-per-micro-batch) stops only at snapshot
    # boundaries, so CDC offsets never carry a mid-snapshot "pos"
    _divisible = False

    def _admission_cost(self, meta, snap) -> tuple[int, int]:
        """Approximate per-commit CDC admission cost: changed manifest
        entries (added + removed files) weighted by record count, read
        from the commit's HEADER summary — no manifest or delta-file
        resolution on the per-poll admission path (round-6 review
        finding: the first cut folded the parent's full manifest per
        commit per poll to weight an explicitly approximate bound).
        Pre-round-6 commits without the record fields fall back to the
        delta's own change set (added records only). The masked/eq kinds
        can fan out to more parent files than this counts — the caps are
        a planning bound for batch sizing, not an exact row budget
        (Iceberg's read limits are soft the same way)."""
        if snap.operation == "replace":
            return 0, 0
        s = snap.summary or {}
        if "added-records" in s and "removed-records" in s:
            return (
                int(s.get("added-entries", 0))
                + int(s.get("removed-entries", 0)),
                int(s["added-records"]) + int(s["removed-records"]),
            )
        delta = meta.change_set(snap.snapshot_id)
        return (
            len(delta.added) + len(delta.removed),
            sum(e.record_count for e in delta.added),
        )

    def __init__(self, schema: StructType, options) -> None:
        from pyspark.sql.pandas.types import to_arrow_schema

        super().__init__(schema, options)
        self._lineage = _truthy(options.get("lineage"))
        expect = ["_change_type", "_change_ordinal", "_commit_snapshot_id"]
        if self._lineage:
            expect = [
                "_row_id",
                "_last_updated_sequence_number",
            ] + expect
        n = len(expect)
        tail = [f.name for f in schema.fields[-n:]]
        if tail != expect:
            # a user-supplied .schema(...) bypasses DataSource.schema();
            # without this check fields[:-n] would chop real data columns
            raise ValueError(
                "cdc stream schema must end with the "
                f"{'lineage + ' if self._lineage else ''}changelog "
                f"columns {expect} — omit .schema() and let the source "
                "derive it"
            )
        self._data_arrow_schema = to_arrow_schema(
            StructType(schema.fields[:-n])
        )

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        import pyarrow.parquet as pq

        from demo_iceberg_permanent_delete_spark.lake.metadata import (
            CONTENT_DATA,
            CONTENT_EQUALITY_DELETES,
            CONTENT_POSITION_DELETES,
            ManifestEntry,
            path_spellings,
        )
        from demo_iceberg_permanent_delete_spark.lake.scanplan import plan_scan

        start_id, end_id = start["snapshot_id"], end["snapshot_id"]
        if end_id == -1 and start_id != -1:
            self._check_not_regressed(self._meta_fresh(), start, end)
        self._pos = dict(end)  # keep admission control replay-aligned
        if end_id == -1 or start_id == end_id:
            return [CdcPartition()]
        meta = self._meta_fresh()
        self._check_not_regressed(meta, start, end)
        split_bytes = int(
            self._options.get("split-size", DEFAULT_SPLIT_BYTES)
        )

        parts: list[CdcPartition] = []

        def emit(kind, f, common, **extra):
            """One partition per split of the plan's file ``f``; parent-
            visibility kinds pass the plan's deletes in ``extra``."""
            for rg, off in _file_splits(f.entry, split_bytes):
                parts.append(
                    CdcPartition(
                        kind=kind,
                        file_path=f.file_path,
                        change_type="INSERT" if kind == "insert" else "DELETE",
                        row_groups=rg,
                        row_offset=off,
                        defaults=f.defaults,
                        first_row_id=f.entry.first_row_id,
                        file_sequence=f.entry.sequence_number,
                        **extra,
                        **common,
                    )
                )

        def visible(f):
            return {
                "pos_delete_paths": f.pos_deletes,
                "dv_paths": f.dv_deletes,
                "eq_deletes": f.eq_deletes,
            }

        ordinal = 0
        for snap in _ancestry_chain(meta, start_id, end_id):
            if snap.operation == "replace":
                continue
            delta = meta.change_set(snap.snapshot_id)
            parent = (
                meta._maybe_snapshot(snap.parent_id)
                if snap.parent_id is not None
                else None
            )
            common = {
                "ordinal": ordinal,
                "commit_id": snap.snapshot_id,
                "lineage": self._lineage,
            }
            # added rows as written: no delete applies to an INSERT
            added = [e for e in delta.added if e.content == CONTENT_DATA]
            for f in plan_scan(meta, None, data=added).files:
                emit("insert", f, common)
            emitted = bool(added)
            if parent is not None:
                parent_by_path = {e.file_path: e for e in parent.manifest}
                removed = [
                    parent_by_path[p]
                    for p in delta.removed
                    if p in parent_by_path
                    and parent_by_path[p].content == CONTENT_DATA
                ]
                eq_added = [
                    e
                    for e in delta.added
                    if e.content == CONTENT_EQUALITY_DELETES
                ]
                # the parent-visible rows of the files read below
                visible_plan = plan_scan(
                    meta, parent, data=parent.data_files() if eq_added else removed
                )
                by_path = {f.file_path: f for f in visible_plan.files}
                for e in removed:
                    f = by_path[e.file_path]
                    emit("delete", f, common, **visible(f))
                emitted = emitted or bool(removed)
                mask_entries = [
                    e
                    for e in delta.added
                    if e.content == CONTENT_POSITION_DELETES
                ]
                mask_pos = tuple(
                    e.file_path for e in mask_entries if not e.dv
                )
                mask_dv = tuple(e.file_path for e in mask_entries if e.dv)
                if mask_pos or mask_dv:
                    # referenced targets straight from the manifest when
                    # every tombstone entry recorded its set at write
                    # time (referenced_files); only pre-upgrade / over-
                    # cap entries fall back to re-reading the file's
                    # path column (metadata-proportional for DVs)
                    refs: set[str] = set()
                    for e in mask_entries:
                        known = getattr(e, "referenced_files", None)
                        if known:
                            refs.update(
                                q for r in known for q in path_spellings(r)
                            )
                        else:
                            refs.update(
                                pq.read_table(
                                    e.file_path, columns=["file_path"]
                                )
                                .column("file_path")
                                .to_pylist()
                            )
                    # a path missing from the parent (cannot normally
                    # happen) reads as a bare sequence-less entry: NULL
                    # lineage, pre-add defaults era
                    targets = [
                        parent_by_path.get(rp)
                        or ManifestEntry(
                            file_path=rp,
                            content=CONTENT_DATA,
                            record_count=0,
                            file_size_in_bytes=0,
                        )
                        for rp in sorted(refs)
                    ]
                    for f in plan_scan(meta, None, data=targets).files:
                        emit(
                            "masked",
                            f,
                            common,
                            mask_pos_paths=mask_pos,
                            mask_dv_paths=mask_dv,
                        )
                    emitted = emitted or bool(refs)
                if eq_added:
                    eq_match = tuple(
                        ((e.file_path,), tuple(e.equality_columns))
                        for e in eq_added
                    )
                    for f in visible_plan.files:
                        emit("eq", f, common, eq_match=eq_match, **visible(f))
                    emitted = True
            if emitted:
                ordinal += 1
        return parts or [CdcPartition()]

    def read(self, partition) -> Iterator:
        if not isinstance(partition, CdcPartition) or partition.file_path is None:
            return iter(())
        return self._read_cdc(partition)

    def _read_cdc(self, p: CdcPartition) -> Iterator:
        import pyarrow as pa
        import pyarrow.parquet as pq

        if p.kind in ("insert", "delete"):
            tbl = _visible_table(
                p.file_path,
                p.pos_delete_paths,
                p.eq_deletes,
                p.dv_paths,
                self._renames,
                row_groups=p.row_groups,
                row_offset=p.row_offset,
                defaults_typed=_typed_defaults(
                    self._data_arrow_schema, p.defaults
                ),
                with_positions=p.lineage,
            )
        elif p.kind == "masked":
            # tombstoned rows are usually a sliver of the file — read the
            # positions first, then ONLY the row groups containing them
            # (a whole-file read of an add_files-migrated multi-GiB file
            # would materialize one giant Arrow table for a few rows).
            # Split partitions additionally clamp to their own row range:
            # a tombstone-HEAVY commit over an oversized file then bounds
            # each task at ~split-size of touched groups.
            rng = None
            pf = pq.ParquetFile(p.file_path)
            if p.row_groups is not None:
                md = pf.metadata
                n = sum(
                    md.row_group(i).num_rows
                    for i in range(p.row_groups[0], p.row_groups[1])
                )
                rng = (p.row_offset, p.row_offset + n)
            idx = _tombstone_positions(
                p.file_path, p.mask_pos_paths, p.mask_dv_paths, row_range=rng
            )
            if rng is not None:
                # the row_range filter only scopes the row-layout read;
                # DV position arrays arrive unclamped — drop out-of-range
                # positions or splits would emit each other's rows
                idx = idx[(idx >= rng[0]) & (idx < rng[1])]
            # clamp to the file's true length FIRST so the emitted rows
            # stay 1:1 with idx (the lineage __gpos pairing needs that;
            # _take_positions clamps internally with the same rule)
            idx = idx[idx < pf.metadata.num_rows]
            tbl = _take_positions(p.file_path, idx, pf=pf)
            if tbl is None:
                return
            if p.lineage:
                tbl = tbl.append_column(
                    "__gpos", pa.array(idx, type=pa.int64())
                )
        elif p.kind == "eq":
            # defaults injected BEFORE the eq_match semi-join below: the
            # emitted DELETE rows for a delete keyed on the defaulted
            # column must include pre-add rows whose read value matches
            tbl = _visible_table(
                p.file_path,
                p.pos_delete_paths,
                p.eq_deletes,
                p.dv_paths,
                self._renames,
                row_groups=p.row_groups,
                row_offset=p.row_offset,
                defaults_typed=_typed_defaults(
                    self._data_arrow_schema, p.defaults
                ),
                with_positions=p.lineage,
            )
            matched: set[int] = set()
            for paths, key_cols in p.eq_match:
                keys = pa.concat_tables(
                    pq.read_table(f, columns=list(key_cols)) for f in paths
                )
                if not keys.num_rows:
                    continue
                # null-safe, rename-aware semi-join — same key machinery
                # as the anti-join in _visible_table, selection inverted
                binary_keys = _binary_key_set(keys.schema, key_cols)
                jcols, tbl_aug = _null_safe_key(
                    tbl, key_cols, self._renames, binary_keys
                )
                kcols, keys_aug = _null_safe_key(
                    keys, key_cols, None, binary_keys
                )
                tbl_aug = tbl_aug.append_column(
                    "__row", pa.array(range(tbl.num_rows), pa.int64())
                )
                j = tbl_aug.select(["__row", *jcols]).join(
                    keys_aug.select(kcols).group_by(kcols).aggregate([]),
                    keys=jcols,
                    join_type="inner",
                )
                matched.update(j.column("__row").to_pylist())
            if not matched:
                return
            tbl = tbl.take(pa.array(sorted(matched), type=pa.int64()))
        else:
            return

        out = _apply_defaults(
            _conform(tbl, self._data_arrow_schema, self._renames), p.defaults
        )
        n = out.num_rows
        if not n:
            return
        if p.lineage:
            rid, seq = _resolve_lineage(
                tbl, p.first_row_id, p.file_sequence
            )
            out = out.append_column("_row_id", rid)
            out = out.append_column("_last_updated_sequence_number", seq)
        out = out.append_column(
            "_change_type", pa.array([p.change_type] * n, pa.string())
        )
        out = out.append_column(
            "_change_ordinal", pa.array([p.ordinal] * n, pa.int32())
        )
        out = out.append_column(
            "_commit_snapshot_id", pa.array([p.commit_id] * n, pa.int64())
        )
        yield from out.to_batches()


# ------------------------------------------------------------ batch write
@dataclass
class LakeWriteMessage(WriterCommitMessage):
    file_path: str | None = None
    record_count: int = 0
    file_size_in_bytes: int = 0
    min_values: dict = field(default_factory=dict)
    max_values: dict = field(default_factory=dict)
    null_counts: dict = field(default_factory=dict)
    # physical column-name harvest (same cap/None rule as
    # datafiles.write_data_files) — initial-default resolution uses it
    columns: list | None = None
    # upsert-eq stream mode only: the task's equality-delete file (the
    # task's distinct key tuples — Flink's writer emits them beside the
    # data file, executor-local, no driver data movement)
    delete_file_path: str | None = None
    delete_record_count: int = 0
    delete_file_size: int = 0


class LakeAppendWriter(DataSourceArrowWriter):
    def __init__(self, schema: StructType, options, overwrite: bool) -> None:
        meta = _load_meta(options)  # validates the target exists
        self._meta = meta  # planning-time snapshot; commit reloads fresh
        self._options = options
        self._overwrite = overwrite
        self._data_dir = os.path.join(meta.location, "data")
        # Write defaults (X57), same rule as LakeTable._apply_write_defaults
        # so df.write.format("lakehouse") and t.insert(df) write identical
        # files (review finding): declared columns the incoming frame
        # OMITS get the write-default materialized; initially-defaulted
        # columns with no write default get explicit NULL so the read
        # path's presence rule can't resurrect the initial default.
        # Planned here (metadata-proportional), applied per batch on
        # executors. Types resolve through the session-free DDL→arrow map
        # (this runs in the DataSource planning worker — no SparkSession,
        # so StructType.fromDDL is unavailable); defaults are scalar-only
        # by construction, so the scalar map covers every valid entry.
        declared = _ddl_fields(meta.schema_ddl)
        present = set(schema.fieldNames())
        fill = []
        for name, type_str in declared:
            if name in present:
                continue
            typ = _arrow_type_for_ddl(type_str)
            if typ is None:
                continue  # non-scalar column: read-side null-fill covers it
            if name in meta.write_defaults:
                fill.append((name, meta.write_defaults[name], typ))
            elif name in meta.column_defaults:
                fill.append((name, None, typ))
        self._fill = tuple(fill)

    def write(self, iterator) -> LakeWriteMessage:
        """One parquet file per non-empty task (executor-side)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from demo_iceberg_permanent_delete_spark.lake.datafiles import (
            _footer_stats,
            _jsonable,
        )

        path = os.path.join(self._data_dir, f"ds-{uuid.uuid4().hex}.parquet")
        writer = None
        rows = 0
        key_batches = []  # upsert-eq stream mode harvests keys per batch
        for batch in iterator:
            if batch.num_rows == 0:
                continue
            if getattr(self, "_upsert_keys", None):
                key_batches.append(batch.select(list(self._upsert_keys)))
            if self._fill:
                arrays = batch.columns
                fields = list(batch.schema)
                for c, v, typ in self._fill:
                    try:
                        arr = pa.array([v] * batch.num_rows, type=typ)
                    except (
                        pa.ArrowInvalid,
                        pa.ArrowTypeError,
                        pa.ArrowNotImplementedError,
                    ):
                        arr = pa.array([v] * batch.num_rows).cast(typ)
                    arrays = arrays + [arr]
                    fields.append(pa.field(c, typ))
                batch = pa.RecordBatch.from_arrays(
                    arrays, schema=pa.schema(fields)
                )
            if writer is None:
                writer = pq.ParquetWriter(path, batch.schema)
            writer.write_batch(batch)
            rows += batch.num_rows
        if writer is None:
            return LakeWriteMessage()
        writer.close()
        delete_file, delete_rows, delete_size = None, 0, 0
        if key_batches:
            keys = (
                pa.Table.from_batches(key_batches)
                .group_by(list(self._upsert_keys))
                .aggregate([])
            )
            delete_file = os.path.join(
                self._data_dir, f"eqdelete-ds-{uuid.uuid4().hex}.parquet"
            )
            pq.write_table(keys, delete_file)
            delete_rows = keys.num_rows
            delete_size = os.path.getsize(delete_file)
        from demo_iceberg_permanent_delete_spark.lake.datafiles import (
            _COLUMNS_HARVEST_MAX,
        )

        n_rows, mins, maxs, nulls = _footer_stats(path)
        try:
            names = [f.name for f in pq.read_schema(path)]
            phys_cols = names if len(names) <= _COLUMNS_HARVEST_MAX else None
        except Exception:
            phys_cols = None
        return LakeWriteMessage(
            file_path=path,
            record_count=n_rows,
            file_size_in_bytes=os.path.getsize(path),
            min_values={k: _jsonable(v) for k, v in mins.items()},
            max_values={k: _jsonable(v) for k, v in maxs.items()},
            null_counts=dict(nulls),
            columns=phys_cols,
            delete_file_path=delete_file,
            delete_record_count=delete_rows,
            delete_file_size=delete_size,
        )

    def commit(self, messages) -> None:
        """ONE snapshot for the whole job (driver-side), CAS-retried."""
        from demo_iceberg_permanent_delete_spark.lake.errors import (
            CommitConflictError,
        )
        from demo_iceberg_permanent_delete_spark.lake.metadata import ManifestEntry

        entries = [
            ManifestEntry(
                file_path=m.file_path,
                content=0,
                record_count=m.record_count,
                file_size_in_bytes=m.file_size_in_bytes,
                min_values=m.min_values,
                max_values=m.max_values,
                null_counts=m.null_counts,
                columns=m.columns,
            )
            for m in messages
            if m is not None and m.file_path
        ]
        op = "overwrite" if self._overwrite else "append"
        branch = self._options.get("branch")
        if branch == "main":
            branch = None  # 'main' IS the default target (resolve_ref rule)
        if branch and self._overwrite:
            raise ValueError("mode('overwrite') cannot target a branch")
        last_err = None
        for _ in range(5):
            meta = _load_meta(self._options)
            # branch write (Iceberg's spark.wap.branch / branch write
            # option): parent on the branch head, advance only the ref —
            # main is untouched until fast_forward publishes
            parent_id, base = _resolve_commit_base(meta, branch, self._overwrite)
            snapshot = meta.add_snapshot(
                op,
                base + entries,
                summary={"added-files": len(entries), "writer": "datasource"},
                parent_snapshot_id=parent_id,
                advance=not branch,
            )
            if branch:
                meta.refs[branch]["snapshot_id"] = snapshot.snapshot_id
            for e in entries:
                e.added_snapshot_id = snapshot.snapshot_id
            try:
                meta.commit()
                return
            except CommitConflictError as err:  # stale read — reload, retry
                last_err = err
                # same rebase rule as LakeTable._commit_retry: the failed
                # attempt's sequence/row-id assignments were computed off
                # the pre-conflict counters the winner consumed — clear
                # them so the rebased add_snapshot assigns fresh ones
                # (keeping them would duplicate row ids)
                for e in entries:
                    e.sequence_number = None
                    e.first_row_id = None
        raise last_err

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None and m.file_path and os.path.exists(m.file_path):
                os.remove(m.file_path)


def _resolve_commit_base(meta, branch: str | None, overwrite: bool):
    """(parent_id, base manifest) for a DataSource commit — main head or a
    named branch's head. Shared by the batch and stream writers so the
    branch-ref rules stay in ONE place (review finding: the CAS/rebase
    logic had three copies drifting apart)."""
    if branch:
        ref = meta.refs.get(branch)
        if ref is None or ref["type"] != "branch":
            raise ValueError(f"unknown branch {branch!r}")
        parent_id = int(ref["snapshot_id"])
        return parent_id, list(meta.snapshot_by_id(parent_id).manifest)
    snap_cur = meta.current_snapshot()
    base = [] if overwrite else (list(snap_cur.manifest) if snap_cur else [])
    return -1, base


class LakeStreamWriter(LakeAppendWriter, DataSourceStreamArrowWriter):
    """``df.writeStream.format("lakehouse")`` — the streaming SINK the
    DataSource was missing (Iceberg's ``writeStream.format("iceberg")``):
    one append snapshot per micro-batch, committed with an exactly-once
    marker.

    Executor side reuses :class:`LakeAppendWriter`'s Arrow write path
    (one parquet file per non-empty task, footer stats harvested in
    place). Driver side, ``commit(messages, batchId)`` rides a
    ``run_id:batch_id`` marker in table properties INSIDE the same
    metadata commit as the batch's snapshot — the idempotent-sink
    pattern ``stream_into_lake`` uses, so a batch replayed after a crash
    or restart is detected and skipped. The run id scopes the marker to
    the query's checkpoint (hash of ``checkpointLocation`` when Spark
    forwards it in the writer options, else one id per writer instance —
    same dedup within a run, and a restart without a forwarded
    checkpoint degrades to at-least-once for the single boundary batch,
    stated here rather than hidden). ``branch`` stages micro-batches on
    a branch (streaming WAP), like the batch writer.
    """

    def __init__(self, schema: StructType, options) -> None:
        super().__init__(schema, options, overwrite=False)
        import hashlib

        ckpt = options.get("checkpointlocation") or options.get(
            "checkpointLocation"
        )
        self._run_id = (
            hashlib.md5(os.path.abspath(ckpt).encode()).hexdigest()[:12]
            if ckpt
            else uuid.uuid4().hex[:12]
        )
        # mode=upsert-eq (Flink's eq-delete writer shape): each task
        # writes its distinct key tuples as an equality-delete file
        # BESIDE its data file — executor-local, no driver data movement;
        # the per-batch commit carries both at one sequence number, so
        # the batch's own rows survive their own delete (strict-< rule).
        # Keys default to the table's identifier fields. CAVEAT (same as
        # Flink/LakeTable.upsert): the sink does not dedup WITHIN a
        # batch — duplicate keys in one micro-batch both survive; key
        # the stream upstream (dropDuplicates / repartition by key).
        mode = (options.get("mode") or "append").lower()
        if mode not in ("append", "upsert-eq"):
            raise ValueError(
                f"streaming sink mode must be 'append' or 'upsert-eq', got {mode!r}"
            )
        self._upsert_keys: tuple = ()
        if mode == "upsert-eq":
            meta = self._meta  # planned by LakeAppendWriter.__init__
            raw = options.get("keys")
            keys = (
                [k.strip() for k in raw.split(",") if k.strip()]
                if raw
                else list(meta.identifier_fields)
            )
            if not keys:
                raise ValueError(
                    "mode=upsert-eq needs option('keys', 'a,b') or SET "
                    "IDENTIFIER FIELDS on the table"
                )
            # top-level-comma DDL split (a naive split(',') mangles
            # decimal(10,2) — review finding), AND the incoming STREAM
            # schema: a key the stream omits would die as an opaque
            # pyarrow KeyError in the task instead of here
            declared = {name for name, _ in _ddl_fields(meta.schema_ddl)}
            missing = [k for k in keys if k not in declared]
            if missing:
                raise ValueError(f"upsert keys not in table schema: {missing}")
            absent = [k for k in keys if k not in set(schema.fieldNames())]
            if absent:
                raise ValueError(
                    f"upsert keys not in the incoming stream schema: {absent}"
                )
            self._upsert_keys = tuple(keys)

    def commit(self, messages, batchId: int) -> None:  # noqa: N803
        from demo_iceberg_permanent_delete_spark.lake.errors import (
            CommitConflictError,
        )
        from demo_iceberg_permanent_delete_spark.lake.metadata import ManifestEntry
        from demo_iceberg_permanent_delete_spark.streaming.pipelines import (
            LAST_BATCH_PROP,
            marker_batch,
            marker_value,
        )

        entries = [
            ManifestEntry(
                file_path=m.file_path,
                content=0,
                record_count=m.record_count,
                file_size_in_bytes=m.file_size_in_bytes,
                min_values=m.min_values,
                max_values=m.max_values,
                null_counts=m.null_counts,
                columns=m.columns,
            )
            for m in messages
            if m is not None and m.file_path
        ]
        delete_entries = [
            ManifestEntry(
                file_path=m.delete_file_path,
                content=2,
                record_count=m.delete_record_count,
                file_size_in_bytes=m.delete_file_size,
                equality_columns=list(self._upsert_keys),
            )
            for m in messages
            if m is not None and m.delete_file_path
        ]
        branch = self._options.get("branch")
        if branch == "main":
            branch = None
        marker = f"{self._run_id}:{batchId}"
        # RUN-SCOPED property key: two concurrent writers into one table
        # must not clobber each other's replay markers (review finding —
        # writer A's crash replay has to see ITS last batch even after B
        # committed in between). The value carries a commit timestamp so
        # expire_snapshots GCs keys of runs that stopped committing
        # before the retention cutoff (UNSET TBLPROPERTIES still works).
        run_key = f"{LAST_BATCH_PROP}.{self._run_id}"
        last_err = None
        for _ in range(5):
            meta = _load_meta(self._options)
            last_batch = meta.properties.get(run_key)
            if last_batch is not None and batchId <= marker_batch(last_batch):
                # replay of a batch this run already committed — drop the
                # (re-written) files; the committed batch's are live
                self.abort(messages, batchId)
                return
            parent_id, base = _resolve_commit_base(meta, branch, False)
            # first-batch fast path, decided per attempt like
            # LakeTable.upsert: nothing below to mask on an empty base
            adds = list(entries)
            dropped_deletes = []
            if delete_entries:
                if base:
                    adds = delete_entries + adds
                else:
                    dropped_deletes = delete_entries
            meta.properties[LAST_BATCH_PROP] = marker
            meta.properties[run_key] = marker_value(batchId)
            snapshot = meta.add_snapshot(
                "overwrite" if delete_entries and base else "append",
                base + adds,
                summary={
                    "added-files": len(entries),
                    "added-equality-delete-files": len(adds) - len(entries),
                    "writer": "datasource-stream",
                },
                parent_snapshot_id=parent_id,
                advance=not branch,
            )
            if branch:
                meta.refs[branch]["snapshot_id"] = snapshot.snapshot_id
            for e in adds:
                e.added_snapshot_id = snapshot.snapshot_id
            try:
                meta.commit()
                for d in dropped_deletes:  # never committed anywhere
                    if d.file_path and os.path.exists(d.file_path):
                        os.remove(d.file_path)
                return
            except CommitConflictError as err:
                last_err = err
                for e in adds:
                    e.sequence_number = None
                    e.first_row_id = None
        raise last_err

    def abort(self, messages, batchId: int) -> None:  # noqa: N803
        for m in messages:
            if m is None:
                continue
            for p in (m.file_path, getattr(m, "delete_file_path", None)):
                if p and os.path.exists(p):
                    os.remove(p)


# ----------------------------------------------------------------- source
class LakeDataSource(DataSource):
    """format("lakehouse") — see module docstring for options."""

    @classmethod
    def name(cls) -> str:
        return "lakehouse"

    def _cdc(self) -> bool:
        return (self.options.get("mode") or "").lower() in ("cdc", "changelog")

    def schema(self) -> str:
        _ensure_importable()
        meta = _load_meta(self.options)
        ddl = meta.schema_ddl
        if not self._cdc():
            return ddl
        if _truthy(self.options.get("lineage")):
            declared = {f.split()[0] for f in ddl.split(",")}
            if {"_row_id", "_last_updated_sequence_number"} & declared:
                # same rule as LakeTable._lineage_guard: a user schema
                # claiming the reserved names cannot carry lineage
                raise ValueError(
                    "table declares reserved row-lineage column names; "
                    "rename them to stream CDC with lineage=true"
                )
            ddl += ", _row_id bigint, _last_updated_sequence_number bigint"
        return ddl + _CDC_COLS_DDL

    def reader(self, schema: StructType) -> LakeBatchReader:
        _ensure_importable()
        if self._cdc():
            # without this, the batch reader would null-fill the CDC
            # column triple and silently return current rows as "changes"
            raise ValueError(
                "mode=cdc is a STREAMING option (spark.readStream); for a "
                "batch changelog use LakeTable.changes() or CALL "
                "demo.system.create_changelog_view"
            )
        return LakeBatchReader(schema, self.options)

    def streamReader(self, schema: StructType) -> LakeStreamReader:
        _ensure_importable()
        if self._cdc():
            return LakeCdcStreamReader(schema, self.options)
        return LakeStreamReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool) -> LakeAppendWriter:
        _ensure_importable()
        return LakeAppendWriter(schema, self.options, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool):
        _ensure_importable()
        if overwrite:
            raise ValueError(
                "streaming sink supports append output mode only"
            )
        return LakeStreamWriter(schema, self.options)


def register(spark) -> None:
    # Python-source filter pushdown is opt-in (runtime-settable); the
    # reader's pushFilters hook requires it.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    # The source's classes deserialize inside SEPARATE Python worker
    # processes that do not inherit the driver's sys.path — a driver
    # launched outside the repo root (the external harness) would hit
    # ModuleNotFoundError on the first task. Two measures:
    #
    # 1. Ship the package zip via addPyFile — reaches the batch/stream
    #    DATA workers (their setup_spark_files adds it to sys.path);
    #    this is exactly how a user deploys to a real cluster.
    # 2. Serialize THIS module by value (cloudpickle) and self-heal
    #    sys.path in the DataSource entry methods — the driver-side
    #    python_streaming_source_runner does NOT receive pyFiles in this
    #    Spark build (verified empirically), so by-reference pickling of
    #    the class would fail at read_command before any hook could run.
    sc = spark.sparkContext
    if not getattr(sc, "_lakehouse_pyfile_added", False):
        import shutil as _sh
        import sys as _sys
        import tempfile as _tf

        from pyspark import cloudpickle as _cp

        pkg_root = os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))
        )  # …/demo_iceberg_permanent_delete_spark
        zip_base = os.path.join(
            _tf.mkdtemp(prefix="lakehouse-pyfile-"), "lakehouse_pkg"
        )
        archive = _sh.make_archive(
            zip_base,
            "zip",
            root_dir=os.path.dirname(pkg_root),
            base_dir=os.path.basename(pkg_root),
        )
        sc.addPyFile(archive)
        _cp.register_pickle_by_value(_sys.modules[__name__])
        sc._lakehouse_pyfile_added = True
    spark.dataSource.register(LakeDataSource)
