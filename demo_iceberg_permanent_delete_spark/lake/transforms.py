"""Hidden partitioning transforms — Iceberg's signature table-layout
feature, re-expressed for the Spark-native lake format.

Iceberg lets a table declare ``PARTITIONED BY (days(ts), bucket(16, id),
truncate(4, name))``: writers cluster rows by *derived* values and readers
prune files from predicates on the RAW columns, without the query ever
naming a partition column (the reference's catalog stack ships this
surface; its demo table is unpartitioned, iceberg_pii_deletion_demo.py:
74-85, so this is parity with the format, not the notebook).

How each transform maps onto this engine's pruning model (per-file
min/max stats in the manifest, pruning.py):

- **identity / temporal (year, month, day, hour) / truncate** are
  *monotonic* in the source column. Range-clustering the write by the
  transform value makes the RAW column's footer min/max tight per file,
  so the existing raw-stats pruning already answers predicates on the
  source column — no synthetic metadata needed at all.
- **bucket(n, col)** is not monotonic — raw bounds can't answer
  ``col = x`` on hash-distributed files. Writers therefore materialize
  the bucket value as a synthetic ``__part_…`` column in the data file
  (the Delta generated-column technique; declared-schema reads drop it
  by name), which lands its min/max in the manifest for free, and the
  scan planner projects equality literals into bucket space Python-side
  to prune against those bounds.

The bucket hash is CRC32 over the value's canonical string — chosen
because ``F.crc32(cast(col as string))`` (JVM, codegen) and
``zlib.crc32(str(v).encode())`` (planner) agree exactly for integral and
string types, keeping write-side clustering and read-side literal
projection in lockstep without a Python UDF in the write path. (Iceberg
itself uses murmur3; any hash works as long as both sides share it.)
"""

from __future__ import annotations

import datetime as _dt
import re
import zlib
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SPEC_RE = re.compile(
    r"^\s*(?:(?P<fn>year|years|month|months|day|days|date|hour|hours)\s*\(\s*(?P<tcol>\w+)\s*\)"
    r"|bucket\s*\(\s*(?P<n>\d+)\s*,\s*(?P<bcol>\w+)\s*\)"
    r"|truncate\s*\(\s*(?P<w>\d+)\s*,\s*(?P<wcol>\w+)\s*\)"
    r"|(?P<col>\w+))\s*$",
    re.I,
)

_CANON_UNIT = {
    "years": "year",
    "months": "month",
    "days": "day",
    "date": "day",
    "hours": "hour",
}


@dataclass(frozen=True)
class PartitionField:
    spec: str  # original text, persisted in metadata.partition_by
    source: str  # raw column the transform derives from
    transform: str  # identity | year | month | day | hour | bucket | truncate
    arg: int | None = None  # n for bucket, width for truncate

    @property
    def part_column(self) -> str | None:
        """Synthetic data-file column name; only bucket materializes one."""
        if self.transform == "bucket":
            return f"__part_{self.source}_bucket"
        return None


def parse_partition_by(
    specs: list[str], lenient: bool = False
) -> list[PartitionField]:
    """Parse PARTITIONED BY items. Plain column names (the pre-transform
    format) parse as identity, so existing tables load unchanged.

    ``lenient=True`` skips unparseable specs instead of raising — for
    consumers that only PRUNE or PRIORITIZE on partition fields, where
    dropping an unknown transform is sound (no pruning on it) and one
    bad legacy spec must not disable the valid fields beside it. Scan
    and write paths stay strict: specs are validated at CREATE/ALTER,
    so an unparseable one there is corruption worth failing loudly on."""
    fields: list[PartitionField] = []
    for spec in specs:
        m = _SPEC_RE.match(spec)
        if not m:
            if lenient:
                continue
            raise ValueError(f"unsupported partition transform: {spec!r}")
        if m.group("fn"):
            unit = m.group("fn").lower()
            fields.append(
                PartitionField(spec, m.group("tcol"), _CANON_UNIT.get(unit, unit))
            )
        elif m.group("n") is not None:
            fields.append(
                PartitionField(spec, m.group("bcol"), "bucket", int(m.group("n")))
            )
        elif m.group("w") is not None:
            fields.append(
                PartitionField(spec, m.group("wcol"), "truncate", int(m.group("w")))
            )
        else:
            fields.append(PartitionField(spec, m.group("col"), "identity"))
    return fields


def transform_value(field: PartitionField, value: Any) -> Any | None:
    """Planner-side transform of one STAT value (a manifest min/max) to its
    partition-key representation — the grouping key the sharded
    rewrite_manifests fold uses (metadata._shard_groups: two stats land in
    one shard iff transform(min) == transform(max)). Temporal stats arrive
    as isoformat strings (datafiles._jsonable). None = not transformable
    soundly; the caller treats the entry's key as unknown.

    Only equivalence matters (same partition ⇔ equal key) — the key never
    leaves the planner, so it need not match transform_column's clustering
    encoding byte-for-byte. (maintenance._value_transform is the separate
    prefix-string twin whose encoding IS a predicate bound for scoped
    compaction rewrites — see its docstring before consolidating.)"""
    t = field.transform
    if value is None:
        return None
    if isinstance(value, dict):
        # tagged bounds (decimal {"dec": …}) — no sound transform key
        return None
    if t == "identity":
        return value
    if t in ("year", "month", "day", "hour"):
        if isinstance(value, str):
            try:
                d = _dt.datetime.fromisoformat(value)
            except ValueError:
                return None
        elif isinstance(value, _dt.datetime):
            d = value
        elif isinstance(value, _dt.date):
            d = _dt.datetime(value.year, value.month, value.day)
        else:
            return None
        if d.tzinfo is not None:
            d = d.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        if t == "year":
            return d.year
        if t == "month":
            return f"{d.year:04d}-{d.month:02d}"
        if t == "day":
            return d.strftime("%Y-%m-%d")
        return d.strftime("%Y-%m-%d %H")
    if t == "truncate":
        if isinstance(value, str):
            return value[: field.arg]
        if isinstance(value, int) and not isinstance(value, bool):
            # Python % already matches Iceberg's v - (((v % W) + W) % W)
            # for positive W (sign of the divisor)
            return value - (value % field.arg)
        return None
    if t == "bucket":
        # grouping normally reads the synthetic __part_ column's stats;
        # this raw-value path is the fallback when those are absent, and
        # bucket_of is exact on the canonical string form
        if isinstance(value, (int, str)) and not isinstance(value, bool):
            return bucket_of(value, field.arg)
        return None
    return None


def bucket_of(value: Any, n: int) -> int:
    """Planner-side bucket projection — must equal the Spark expression in
    :func:`transform_column` for every supported literal type."""
    return zlib.crc32(str(value).encode("utf-8")) % n


def transform_column(field: PartitionField, dtype: T.DataType) -> Column:
    """The transform as a pure-projection Column (whole-stage codegen)."""
    col = F.col(field.source)
    t = field.transform
    if t == "identity":
        return col
    if t in ("year", "month", "day", "hour"):
        if not isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)):
            raise ValueError(
                f"{field.spec}: temporal transform needs date/timestamp, "
                f"got {dtype.simpleString()}"
            )
        # any monotonic representation works — these are clustering keys,
        # pruning happens on the raw column's (tight) bounds
        return {
            "year": F.year(col),
            "month": F.date_format(col, "yyyy-MM"),
            "day": F.to_date(col),
            "hour": F.date_format(col, "yyyy-MM-dd HH"),
        }[t]
    if t == "truncate":
        if isinstance(dtype, T.StringType):
            return F.substring(col, 1, field.arg)
        if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            # Iceberg truncate for ints: v - (((v % W) + W) % W)
            return col - F.pmod(col, F.lit(field.arg))
        raise ValueError(
            f"{field.spec}: truncate needs string/integral, got {dtype.simpleString()}"
        )
    if t == "bucket":
        if not isinstance(
            dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.StringType)
        ):
            raise ValueError(
                f"{field.spec}: bucket needs integral/string (canonical "
                f"string form), got {dtype.simpleString()}"
            )
        return F.pmod(F.crc32(col.cast("string")), F.lit(field.arg)).cast("int")
    raise ValueError(f"unknown transform {t!r}")


def cluster_for_write(
    df: DataFrame,
    fields: list[PartitionField],
    *,
    num_partitions: int | None = None,
    mode: str = "range",
) -> DataFrame:
    """Attach synthetic bucket columns and distribute by the transform
    values per Iceberg's ``write.distribution-mode``:

    - ``range`` (default): range-cluster, so every output file covers a
      narrow slice of each partition dimension (tight stats → file
      pruning at plan time — Iceberg's range distribution).
    - ``hash``: hash-repartition on the transform tuple — co-locates
      each partition value into one task's files without a range
      sample pass (cheaper shuffle planning; files cover ONE value per
      dimension but carry no cross-file ordering).
    - ``none``: no shuffle at all — incoming partitioning is kept
      (fastest ingest; files may straddle many partition values, which
      the write-time harvest and the pruner handle, just with looser
      stats).

    The synthetic bucket stat columns attach in every mode — pruning
    correctness never depends on the distribution choice."""
    if not fields:
        return df
    types = {f.name: f.dataType for f in df.schema.fields}
    for fld in fields:
        if fld.source not in types:
            raise ValueError(f"partition source column {fld.source!r} missing")
    exprs: list[Column] = []
    for fld in fields:
        expr = transform_column(fld, types[fld.source])
        part_col = fld.part_column
        if part_col is not None:
            df = df.withColumn(part_col, expr)
            expr = F.col(part_col)
        exprs.append(expr)
    if mode == "none":
        return df
    if mode == "hash":
        return (
            df.repartition(num_partitions, *exprs)
            if num_partitions
            else df.repartition(*exprs)
        )
    if num_partitions:
        return df.repartitionByRange(num_partitions, *exprs)
    return df.repartitionByRange(*exprs)


def bucket_conjuncts(
    fields: list[PartitionField], predicate: str
) -> list[tuple[str, list[int]]]:
    """Project equality/IN literals on bucketed source columns into bucket
    space: ``[(part_column, [allowed bucket values])]``. Only provably-safe
    projections are returned (literal `col = lit` / `col IN (lits)` at the
    top conjunct level of the parsed predicate, pruning._compiled, with
    integer or string literals); anything else contributes nothing. A
    DATE/TIMESTAMP literal never projects: a bucket source is integral or
    string, so Spark compares it through a cast ('2024-6-5' matches DATE
    '2024-06-05')."""
    from demo_iceberg_permanent_delete_spark.lake.pruning import _compiled

    buckets = {f.source: f for f in fields if f.transform == "bucket"}
    if not buckets:
        return []
    out: list[tuple[str, list[int]]] = []
    for leaf in _compiled(predicate).conjuncts():
        fld = buckets.get(leaf.col)
        if (
            fld is None
            or not (leaf.shape == "in" or (leaf.shape == "cmp" and leaf.op == "="))
            or any(k not in ("int", "str") for k, _ in leaf.lits)
        ):
            continue
        vals = {bucket_of(v, fld.arg) for _, v in leaf.lits}
        out.append((fld.part_column, sorted(vals)))
    return out


def _crc32_table():
    """zlib's CRC-32 lookup table (polynomial 0xEDB88320), built once —
    the numpy-vectorized bucket transform below must equal zlib.crc32
    byte for byte (differential-tested in tests/test_hidden_partitioning)."""
    import numpy as np

    table = np.empty(256, dtype=np.uint32)
    for i in range(256):
        c = i
        for _ in range(8):
            c = (c >> 1) ^ 0xEDB88320 if c & 1 else c >> 1
        table[i] = c
    return table


_CRC32_TABLE = None


def _crc32_mod_strings(arr, n: int):
    """Vectorized ``zlib.crc32(s.encode()) % n`` over a pyarrow string
    Array → pyarrow string array of the bucket numbers (the harvest's
    map<string,string> encoding). Works on the UTF-8 buffers directly:
    one numpy pass per byte POSITION (strings are short — int keys are
    ≤ 20 bytes), each pass table-stepping every still-live row's CRC."""
    import numpy as np
    import pyarrow as pa

    global _CRC32_TABLE
    if _CRC32_TABLE is None:
        _CRC32_TABLE = _crc32_table()
    off_dtype = np.int64 if pa.types.is_large_string(arr.type) else np.int32
    offsets = np.frombuffer(arr.buffers()[1], dtype=off_dtype)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)
    buf = arr.buffers()[2]
    data = (
        np.frombuffer(buf, dtype=np.uint8)
        if buf is not None
        else np.empty(0, dtype=np.uint8)
    )
    starts, lens = offsets[:-1], offsets[1:] - offsets[:-1]
    crc = np.full(len(arr), 0xFFFFFFFF, dtype=np.uint32)
    for k in range(int(lens.max()) if len(lens) else 0):
        live = lens > k
        b = data[starts[live] + k].astype(np.uint32)
        c = crc[live]
        crc[live] = (c >> 8) ^ _CRC32_TABLE[(c ^ b) & 0xFF]
    crc ^= np.uint32(0xFFFFFFFF)
    out = pa.array((crc % np.uint32(n)).astype(np.int64)).cast(pa.string())
    if arr.null_count:
        import pyarrow.compute as pc

        return pc.if_else(pc.is_valid(arr), out, pa.scalar(None, pa.string()))
    return out


def vectorized_transform_str(field: PartitionField, column):
    """pyarrow/numpy-vectorized twin of ``python_transform_str(field)``
    mapped over a column: returns a pyarrow STRING array byte-identical
    to the per-value Python encoder (differential-tested), or None when
    no exact vectorized path exists — callers then keep the per-distinct-
    value Python path. This is what lets the write-time partition-count
    harvest group by TRANSFORMED values, collapsing a near-unique source
    column (e.g. timestamps under ``days(...)``) to the handful of actual
    partition tuples before any Python-level loop (guide §4.2)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = column.combine_chunks() if isinstance(column, pa.ChunkedArray) else column
    typ = arr.type
    t = field.transform

    def _pad(ints, width):
        return pc.utf8_lpad(pc.cast(ints, pa.string()), width, "0")

    if t in ("year", "month", "day", "hour"):
        if pa.types.is_timestamp(typ):
            # tz-aware non-UTC would need the astimezone(utc) the Python
            # twin applies — only naive and UTC are exact here
            if typ.tz not in (None, "UTC"):
                return None
        elif pa.types.is_date(typ):
            if t == "hour":  # pc.hour is undefined on dates
                return None
        else:
            return None
        y = pc.cast(pc.year(arr), pa.string())  # str(d.year) — unpadded
        if t == "year":
            return y
        ym = pc.binary_join_element_wise(
            pc.utf8_lpad(y, 4, "0"), _pad(pc.month(arr), 2), "-"
        )
        if t == "month":
            return ym
        ymd = pc.binary_join_element_wise(ym, _pad(pc.day(arr), 2), "-")
        if t == "day":
            return ymd
        return pc.binary_join_element_wise(ymd, _pad(pc.hour(arr), 2), " ")

    if t == "identity":
        if pa.types.is_boolean(typ):
            return pc.if_else(arr, pa.scalar("true"), pa.scalar("false"))
        if pa.types.is_integer(typ):
            return pc.cast(arr, pa.string())
        if pa.types.is_string(typ):
            return arr
        if pa.types.is_large_string(typ):
            return pc.cast(arr, pa.string())
        return None  # float/Decimal/temporal identity: Python/Spark twins only

    if t == "truncate":
        if pa.types.is_integer(typ) and arr.null_count == 0:
            import numpy as np

            v = arr.to_numpy(zero_copy_only=False).astype(np.int64)
            # numpy % matches Python's sign-of-divisor rule for w > 0
            return pa.array(v - (v % field.arg)).cast(pa.string())
        return None  # strings (codepoint slicing) and nullable ints: Python path

    if t == "bucket":
        if pa.types.is_boolean(typ):
            return None  # Python twin raises → Spark-job fallback, keep that
        if pa.types.is_integer(typ):
            return _crc32_mod_strings(pc.cast(arr, pa.string()), field.arg)
        if pa.types.is_string(typ) or pa.types.is_large_string(typ):
            return _crc32_mod_strings(pc.cast(arr, pa.string()), field.arg)
        return None

    return None


class NoExactStringTwin(ValueError):
    """Raised by python_transform_str encoders for a value type whose
    Spark string cast has no provably identical Python encoding — the
    caller falls back to the Spark-job harvest. A DEDICATED class because
    pyarrow's ArrowInvalid subclasses ValueError: a bare ``except
    ValueError`` would misroute corrupt-file errors into the Spark
    fallback instead of the per-file degrade (review finding)."""


def _spark_timestamp_str(d: _dt.datetime) -> str:
    """Spark's CAST(timestamp AS STRING) encoding: space separator, no
    fraction when zero, trailing zeros trimmed otherwise. Explicit
    %04d year — strftime does not zero-pad years < 1000 (review finding:
    the 0001-01-01 sentinel encoded as '1-01-01')."""
    if d.tzinfo is not None:
        d = d.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    base = (
        f"{d.year:04d}-{d.month:02d}-{d.day:02d} "
        f"{d.hour:02d}:{d.minute:02d}:{d.second:02d}"
    )
    if d.microsecond:
        return f"{base}.{f'{d.microsecond:06d}'.rstrip('0')}"
    return base


def python_transform_str(field: PartitionField):
    """Python twin of ``transform_column(field, …).cast('string')`` — the
    EXACT per-row encoding the write-time partition-count harvest stores
    in manifests (map<string,string>), so a driver-side pyarrow harvest
    and the Spark-job harvest/scan-fallback produce byte-identical keys
    (the ``.partitions`` view folds and compares them as strings).

    Returns a ``value -> str | None`` callable, or None when the
    transform/value-type combination has no provably identical Python
    encoding (float/Decimal identity — Java's Double.toString disagrees
    with Python's repr) — callers then fall back to the Spark-job
    harvest. Raising ValueError inside the callable signals the same
    fallback lazily (a value type the column claimed not to have)."""
    t = field.transform

    def temporal(value):
        if value is None:
            return None
        if isinstance(value, _dt.datetime):
            d = value
            if d.tzinfo is not None:
                d = d.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        elif isinstance(value, _dt.date):
            d = _dt.datetime(value.year, value.month, value.day)
        else:
            raise NoExactStringTwin(f"not temporal: {value!r}")
        if t == "year":
            return str(d.year)  # Spark casts year()'s INT — unpadded too
        if t == "month":
            return f"{d.year:04d}-{d.month:02d}"
        if t == "day":
            # explicit padding: strftime leaves years < 1000 unpadded
            return f"{d.year:04d}-{d.month:02d}-{d.day:02d}"
        return f"{d.year:04d}-{d.month:02d}-{d.day:02d} {d.hour:02d}"

    if t in ("year", "month", "day", "hour"):
        return temporal

    if t == "identity":

        def identity(value):
            if value is None:
                return None
            if isinstance(value, bool):
                return "true" if value else "false"
            if isinstance(value, str):
                return value
            if isinstance(value, int):
                return str(value)
            if isinstance(value, _dt.datetime):
                return _spark_timestamp_str(value)
            if isinstance(value, _dt.date):
                return value.isoformat()
            # float/Decimal/binary: Spark's string cast (Java notation)
            # has no safe Python twin — force the Spark-job fallback
            raise NoExactStringTwin(
                f"no exact string twin for {type(value).__name__}"
            )

        return identity

    if t == "truncate":
        w = field.arg

        def truncate(value):
            if value is None:
                return None
            if isinstance(value, str):
                return value[:w]
            if isinstance(value, int) and not isinstance(value, bool):
                return str(value - (value % w))
            raise NoExactStringTwin(
                f"truncate needs string/integral, got {value!r}"
            )

        return truncate

    if t == "bucket":
        n = field.arg

        def bucket(value):
            if value is None:
                return None
            if isinstance(value, (int, str)) and not isinstance(value, bool):
                return str(zlib.crc32(str(value).encode("utf-8")) % n)
            raise NoExactStringTwin(
                f"bucket needs string/integral, got {value!r}"
            )

        return bucket

    return None
