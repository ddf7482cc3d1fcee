"""A driver-held read result as a Spark DataFrame that enters the JVM
only when a caller composes it.

A driver read (LakeTable._driver_read) ends with its rows in one pyarrow
Table on the driver. Handing them to the JVM, ``createDataFrame(table,
schema)``, costs ~20 py4j calls (Arrow conf reads, the batches shipped
through a temp file or socket server), and ``collect()`` then plans and
serializes the LocalRelation back, with C1/C2 JIT work on the way: tens
of milliseconds of CPU for a point lookup's ~10 rows.

ArrowFrame is that same DataFrame with its JVM half built lazily. Its
``_jdf`` is today's ``createDataFrame(table, schema)``, made on first
access under a lock, so ``filter``, ``join``, ``union``, temp views,
writes and ``show`` behave exactly as they did. The actions that only
read the rows answer from the table with no py4j call and no Spark job:
``collect()``, ``count()``, ``isLocal()``, ``schema``/``columns`` and
``toArrow()``, and datafiles.collect_if_small takes the table as is.
Column types outside _SERVED (nested and interval types, variants)
decline: those actions then go through the JVM frame, as the row
filter declines predicates it cannot translate exactly.
"""

from __future__ import annotations

import threading

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.classic.dataframe import DataFrame

# Column types whose collect() rows ArrowTableToRowsConversion builds
# exactly as the JVM frame's collect() does, and whose Arrow values
# round-trip the JVM unchanged (tests/test_arrow_frame.py compares both
# for each, with nulls, NaN, ±0.0 and decimal scales, in a non-UTC local
# zone). Left out: TimestampType, whose collect() is a naive local-zone
# datetime that the JVM path marks fold=1 in a DST fall-back hour and
# the Arrow conversion does not (the same wall clock, another instant),
# and BinaryType, which collect() returns as bytes or bytearray by conf.
_SERVED = (
    T.BooleanType,
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
    T.StringType,
    T.DateType,
    T.TimestampNTZType,
)


class ArrowFrame(DataFrame):
    """``createDataFrame(table, schema)`` with the JVM frame made on
    first use; ``table`` must already have ``to_arrow_schema(schema)``'s
    column types (the driver read's conformed table has)."""

    def __new__(cls, *args, **kwargs):
        # the classic DataFrame.__new__ re-invokes __init__(jdf, sql_ctx)
        return object.__new__(cls)

    def __init__(self, spark: SparkSession, table, schema: T.StructType):
        self._session = spark
        self._sc = spark._sc
        self.is_cached = False
        self._support_repr_html = False
        self.arrow_table = table
        self._struct = schema
        # collect() pairs the table's columns with the schema's by position
        self.served = table.column_names == schema.names and all(
            isinstance(f.dataType, _SERVED) for f in schema.fields
        )
        self._built = None
        self._build_lock = threading.Lock()

    @property
    def _jdf(self):
        jdf = self._built
        if jdf is None:
            with self._build_lock:
                if self._built is None:
                    self._built = self._materialize()
                jdf = self._built
        return jdf

    def _materialize(self):
        """The JVM frame: the Arrow table shipped as a LocalRelation."""
        return self._session.createDataFrame(self.arrow_table, self._struct)._jdf

    def held_arrow(self, prefers_large_types: bool = False):
        """The held table when it is exactly what toArrow() returns under
        ``prefers_large_types`` (spark.sql.execution.arrow.useLargeVarTypes),
        else None."""
        from pyspark.sql.pandas.types import to_arrow_schema

        if not self.served:
            return None
        want = to_arrow_schema(
            self._struct,
            error_on_duplicated_field_names_in_struct=True,
            prefers_large_types=prefers_large_types,
        )
        table = self.arrow_table
        return table if table.schema.equals(want, check_metadata=True) else None

    @property
    def schema(self) -> T.StructType:
        return self._struct if self.served else super().schema

    def isLocal(self) -> bool:
        return True

    def count(self) -> int:
        return self.arrow_table.num_rows

    def collect(self):
        if not self.served:
            return super().collect()
        from pyspark.sql.conversion import ArrowTableToRowsConversion

        return ArrowTableToRowsConversion.convert(self.arrow_table, self._struct)

    def toArrow(self):
        large = (
            self.served
            and any(isinstance(f.dataType, T.StringType) for f in self._struct.fields)
            and self._session._jconf.arrowUseLargeVarTypes()
        )
        table = self.held_arrow(large)
        return table if table is not None else super().toArrow()
