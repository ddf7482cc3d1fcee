"""SparkSession factory.

The reference delegates all session wiring to docker-compose
(reference: docker-compose.yml:23-42 — Iceberg catalog, S3A, extensions).
We need none of that: our lake layer (``lake/``) is pure Parquet + JSON
metadata, so the session is a stock Spark session tuned for:

- Arrow-accelerated Python interchange (reference uses ``toPandas`` at
  ~12 call sites, e.g. notebooks/iceberg_pii_deletion_demo.py:114);
- AQE with coalescing + skew-join handling, the 100 TB story: at scale
  the same code runs with runtime re-planning instead of hand-tuning;
- UTC session timezone so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import contextlib
import os
import threading
import weakref

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "demo-iceberg-permanent-delete-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Local mode for tests (``local[N]``); on a real cluster the same
    configuration holds — AQE re-plans shuffle partition counts at
    runtime so ``shuffle_partitions`` is only an upper bound hint.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # ---- correctness-critical for the DuckDB oracle ----
        .config("spark.sql.session.timeZone", "UTC")
        # ---- Python interchange ----
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # ---- adaptive execution: the scale story ----
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # INT96 (Spark's legacy default) carries no parquet min/max stats,
        # which blinds manifest-level timestamp pruning; micros is the
        # modern Iceberg-compatible physical type and keeps footer stats.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # parquet scan parallelism: 128 MiB splits (also the compaction
        # target the reference uses: notebooks/iceberg_pii_deletion_demo.py:428)
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


class SessionConfOverride:
    """Refcounted, per-session override of one runtime conf key.

    The first entrant on a session saves the key's prior value and sets
    the override; the last one to leave restores it, or unsets it when it
    was never set (``conf.get(key, None)`` is None then) so the override
    never leaks into the user's own later writes. Overlapping holders on
    one session share the override: per-call set/restore raced (one
    thread captured another's override as "previous", or stripped it
    mid-write). Depth and saved value are kept per session: a second
    SparkSession entering while the first holds the key still gets the
    conf set on its own session. An overlapping holder that wants a
    DIFFERENT value cannot share one session conf and is refused."""

    def __init__(self, key: str) -> None:
        self.key = key
        self._lock = threading.Lock()
        # session -> [depth, value, prior]; weak keys, so a stopped
        # session's entry is collected
        self._state: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()

    def enter(self, spark: SparkSession, value: str) -> None:
        with self._lock:
            st = self._state.get(spark)
            if st is None:
                prior = spark.conf.get(self.key, None)
                if prior != value:
                    spark.conf.set(self.key, value)
                st = self._state[spark] = [0, value, prior]
            elif st[1] != value:
                raise RuntimeError(
                    f"overlapping overrides of {self.key} on one session "
                    f"requested different values ({st[1]} vs {value}); "
                    "stagger them or use one value"
                )
            st[0] += 1

    def leave(self, spark: SparkSession) -> None:
        with self._lock:
            st = self._state[spark]
            st[0] -= 1
            if st[0] == 0:
                del self._state[spark]
                _depth, value, prior = st
                if prior is None:
                    spark.conf.unset(self.key)
                elif prior != value:
                    spark.conf.set(self.key, prior)

    @contextlib.contextmanager
    def __call__(self, spark: SparkSession, value: str):
        self.enter(spark, value)
        try:
            yield
        finally:
            self.leave(spark)
