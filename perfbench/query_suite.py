"""``query_suite``: registered analytical and streaming queries, one at a time.

The suite is a fixed subset of the engine's registered queries (names not
starting with ``lake_``): the cheapest query of every ``operators`` module
on the 4-core reference host, plus all four streaming queries, less the
``similarity``, ``retrieval`` and ``quality`` modules, whose cheapest
queries took 5-8 s each and do not fit the benchmark's time budget. Each op
builds a query's DataFrame (the ``operators`` layer; streaming queries run
their bounded stream here) and collects its rows. A run times exactly one
pass, every query once in a fixed order, whatever ``--seconds`` says. The
pass is the first run of each suite query in the process, so it includes
compiling its code. Its metrics are CPU seconds: the analytical part, and
the whole pass.

Results are collected as Arrow, which materializes them fully at the driver
and keeps them for the check. After timing, each query's first result must
equal its DuckDB twin from ``registry.all_oracles()`` as a multiset of rows:
same columns, and no row left over on either side of ``EXCEPT ALL``.

Inputs are generated at scale factor ``SF`` = 0.01: every query in the suite
is dominated by fixed per-job costs at this size, and one cold pass at 0.1
(about 55 s) does not fit the benchmark's time budget.
"""

from __future__ import annotations

import os

from run import Failed, pct

# module → query; every `operators` module but lake_queries and the three
# above, and all streaming
SUITE = {
    "relational": "distinct_case_decode",
    "analytics": "shipping_priority_revenue",
    "diff": "diff_summaries",
    "multimodal": "media_metadata_stats",
    "windows": "sessionization",
    "temporal": "temporal_asof_range_join",
    "setops": "semi_anti_customers",
    "sketches": "sketch_exact_summary",
    "dedup": "dedup_exact",
    "text": "text_analysis",
    "pii": "pii_redaction",
    "chunking": "training_data_prep",
}
STREAMING = (
    "streaming_dedup_events",
    "streaming_session_windows",
    "streaming_tumbling_counts",
    "streaming_user_profiles",
)
TAIL = 75
SF = 0.01
# warm-up query, deliberately outside the suite
WARM_QUERY = "pricing_summary"


class Workload:
    def __init__(self, seed: int):
        self.seed = seed

    def generate(self, data_dir: str) -> None:
        import datagen

        self.data_dir = data_dir
        self.rows = datagen.write_tables(data_dir, self.seed, SF)

    def build(self, ctx, warehouse: str) -> None:
        from demo_iceberg_permanent_delete_spark.sources.tables import load_tables

        load_tables(ctx.spark, self.data_dir)

    def warm(self, ctx) -> None:
        """JVM, codegen, Python workers and the streaming engine, on work
        outside the suite."""
        from pyspark.sql import functions as F

        from demo_iceberg_permanent_delete_spark import registry
        from demo_iceberg_permanent_delete_spark.streaming.pipelines import run_available_now

        spark = ctx.spark
        self.queries = registry.all_queries()
        self.queries[WARM_QUERY](spark, self.data_dir).collect()
        spark.range(1000).repartition(4).mapInPandas(lambda it: it, "id long").collect()
        src = os.path.join(ctx.work, "warm_stream")
        spark.range(100).withColumn("ts", F.timestamp_micros(F.col("id") * 1_000_000)).write.parquet(src)
        stream = (
            spark.readStream.schema("id long, ts timestamp")
            .parquet(src)
            .withWatermark("ts", "10 seconds")
            .groupBy("id")
            .count()
        )
        run_available_now(stream, output_mode="complete", state_partitions=2).collect()

    def loop(self, ctx, seconds: float) -> None:
        self.results = {}
        # wall of the pass's analytical and streaming parts
        for name in sorted(SUITE.values()) + list(STREAMING):
            kind = "stream" if name in STREAMING else "query"
            out = ctx.op(kind, lambda name=name: self._run(ctx, name))
            if out is not None:
                self.results[name] = out

    def _run(self, ctx, name: str):
        tracer = ctx.tracer
        if tracer is None:
            return self.queries[name](ctx.spark, self.data_dir).toArrow()
        with tracer.span("operators.build", "operators"):
            df = self.queries[name](ctx.spark, self.data_dir)
        with tracer.span("operators.exec", "operators"):
            return df.toArrow()

    def final_checks(self, ctx) -> None:
        import duckdb

        from demo_iceberg_permanent_delete_spark import registry

        oracles = registry.all_oracles()
        con = duckdb.connect()
        try:
            for table in self.rows:
                path = os.path.join(self.data_dir, f"{table}.parquet")
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
            for name, result in self.results.items():
                ctx.check(name, lambda name=name, result=result: _match(con, oracles[name], result))
        finally:
            con.close()

    def metrics(self, ctx) -> dict[str, float]:
        query = ctx.lat.get("query", [])
        stream = ctx.lat.get("stream", [])
        return {
            "main_cpu_s": sum(ctx.cpu.get("query", [])),
            "cycle_cpu_s": ctx.timed_cpu_s,
            "query_cpu_s": sum(ctx.cpu.get("query", [])),
            "stream_cpu_s": sum(ctx.cpu.get("stream", [])),
            "pass_cpu_s": ctx.timed_cpu_s,
            "ops_per_s": (len(query) + len(stream)) / ctx.timed_s,
            "query_pass_s": sum(query),
            "stream_pass_s": sum(stream),
            "query_p50_s": pct(query, 50),
            "query_tail_s": pct(query, TAIL),
            "stream_p50_s": pct(stream, 50),
            "suite_pass_s": ctx.timed_s,
        }

    def layer_metrics(self, ctx) -> dict[str, float]:
        return {}


def _match(con, sql: str, result) -> None:
    """``result`` (a pyarrow Table) equals the oracle's rows as a multiset."""
    import pyarrow as pa

    # Spark returns session-zone (UTC) timestamps; the oracle's are naive
    cols = []
    for field, col in zip(result.schema, result.columns):
        if pa.types.is_timestamp(field.type) and field.type.tz is not None:
            col = col.cast(pa.timestamp(field.type.unit))
        cols.append(col)
    oracle = con.execute(sql).arrow()
    if sorted(result.column_names) != sorted(oracle.column_names):
        raise Failed(f"columns {sorted(result.column_names)} != oracle {sorted(oracle.column_names)}")
    if result.num_rows != oracle.num_rows:
        raise Failed(f"{result.num_rows} rows != oracle {oracle.num_rows}")
    names = ", ".join(f'"{c}"' for c in sorted(oracle.column_names))
    con.register("spark_rows", pa.table(cols, names=result.column_names))
    con.register("oracle_rows", oracle)
    try:
        (diff,) = con.execute(
            f"SELECT count(*) FROM ((SELECT {names} FROM spark_rows EXCEPT ALL "
            f"SELECT {names} FROM oracle_rows) UNION ALL (SELECT {names} FROM "
            f"oracle_rows EXCEPT ALL SELECT {names} FROM spark_rows))"
        ).fetchone()
    finally:
        con.unregister("spark_rows")
        con.unregister("oracle_rows")
    if diff:
        raise Failed(f"{diff} rows differ from the oracle")
