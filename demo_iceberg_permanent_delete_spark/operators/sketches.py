"""Approximate / sketch aggregates (SURVEY.md §2.8 X8).

Absent from the reference; required by the north-star surface. Approximate
results are engine-specific (Spark HLL++ vs DuckDB HLL give different
estimates), so the approx battery is declared rows-only (no oracle) and is
paired with an exact twin that IS hash-checked — the twin also serves as the
accuracy yardstick in tests. Each side packs distinct-counts and
percentiles into one driver entry (the driver records at most 50
correctness rows).

Scale notes (100 TB story):
- approx_count_distinct is THE scale play: constant-size HLL sketch per
  group merged map-side, vs an exact distinct whose shuffle carries every
  distinct value. At 100 TB the exact variant may be infeasible; the sketch
  is always one pass.
- percentile_approx (GK/KLL-style) likewise merges bounded sketches;
  exact percentile requires a full sort or collect of each group.
- Packing both aggregates into one groupBy is itself the scale-correct
  shape: one shuffle on l_returnflag serves every aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from demo_iceberg_permanent_delete_spark.registry import query
from demo_iceberg_permanent_delete_spark.sources.tables import load_table


def exact_percentiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    percentages: list[tuple[float, str]],
) -> DataFrame:
    """Exact interpolated percentiles (plus min/max) per group via ONE
    sorted window pass instead of Spark's ``percentile`` aggregate.

    Why (guide §1 measured): the exact-percentile aggregate buffers every
    value in a per-group TypedImperativeAggregate whose partial buffers
    are serialized between the map and merge sides — 1.72 s for 600k rows
    at sf0.1, vs 0.85 s for this shape: rank the values inside each group
    (one hash Exchange + per-group sort, whole-stage codegen), keep ONLY
    the ≤2 rows that straddle each percentile position (plus the group's
    first/last row for min/max), and interpolate driver-free in a final
    3-row aggregate.

    Bit-identical to ``F.percentile`` by construction — the interpolation
    mirrors Spark's Percentile.getPercentile exactly: position =
    (n−1)·p in double, and for a fractional position the result is
    ``(ceil(pos)−pos)·lower + (pos−floor(pos))·higher`` (NOT the
    algebraically equal a+(b−a)·frac, whose double rounding can differ).
    Differential-tested against the aggregate at sf0.001/0.01/0.1
    (tests/test_sketches.py). Ties in ``value_col`` are harmless: tied
    rows carry equal values, so whichever one row_number picks, the
    interpolated inputs are identical.

    Scale shape: one (group)-keyed Exchange like the aggregate, but the
    shuffled rows are (group, value) pairs feeding a codegen sort instead
    of serialized whole-column buffers; the post-filter result is
    O(groups·percentiles), never data-proportional. Note the window is
    one task PER GROUP — with few groups the sort parallelism is the
    group count (documented in SCALE.md; the replaced aggregate buffered
    whole groups per task identically, so this is not a new limit).

    NULL semantics: ``F.percentile``/min/max IGNORE nulls. Nulls rank
    LAST and ``__n`` counts only non-null values, so the non-null values
    hold ranks 0..n−1 exactly as if the nulls were absent and no null row
    is ever picked. A group whose values are ALL null (n = 0) keeps only
    its rank-0 row, whose value is NULL, so every output is NULL — the
    aggregate's row for that group, with no second pass.
    """
    w = Window.partitionBy(group_col).orderBy(F.col(value_col).asc_nulls_last())
    wn = Window.partitionBy(group_col)
    ranked = df.select(group_col, value_col).withColumns(
        {
            "__rn": (F.row_number().over(w) - F.lit(1)).cast("long"),
            "__n": F.count(value_col).over(wn),
        }
    )

    def pos(q: float) -> Column:
        return (F.col("__n") - 1).cast("double") * F.lit(q)

    keep = (F.col("__rn") == 0) | (F.col("__rn") == F.col("__n") - 1)
    for q, _ in percentages:
        keep = (
            keep
            | (F.col("__rn") == F.floor(pos(q)))
            | (F.col("__rn") == F.ceil(pos(q)))
        )
    cand = ranked.filter(keep)
    aggs = [F.max("__n").alias("__n")]
    for i, (q, _) in enumerate(percentages):
        aggs.append(
            F.max(
                F.when(F.col("__rn") == F.floor(pos(q)), F.col(value_col))
            ).alias(f"__lo{i}")
        )
        aggs.append(
            F.max(
                F.when(F.col("__rn") == F.ceil(pos(q)), F.col(value_col))
            ).alias(f"__hi{i}")
        )
    aggs.append(F.min(value_col).alias("__mn"))  # row __rn==0 is kept
    aggs.append(F.max(value_col).alias("__mx"))  # row __rn==n-1 is kept
    g = cand.groupBy(group_col).agg(*aggs)
    outs = []
    for i, (q, alias) in enumerate(percentages):
        p = (F.col("__n") - 1).cast("double") * F.lit(q)
        lo, hi = F.floor(p), F.ceil(p)
        outs.append(
            F.when(hi == lo, F.col(f"__lo{i}"))
            .otherwise(
                (hi.cast("double") - p) * F.col(f"__lo{i}")
                + (p - lo.cast("double")) * F.col(f"__hi{i}")
            )
            .alias(alias)
        )
    return g.select(group_col, *outs, "__mn", "__mx")


# ---------------------------------------------------------------------------
# Exact twins — the hash-checked yardstick: distinct counts + interpolated
# percentiles (Spark `percentile` ≡ DuckDB `quantile_cont`, both
# a+(b-a)*frac) in ONE grouped pass.
# ---------------------------------------------------------------------------
@query(
    "sketch_exact_summary",
    oracle="""
    SELECT
      l_returnflag,
      count(DISTINCT l_partkey) AS n_parts,
      count(DISTINCT l_suppkey) AS n_suppliers,
      count(*) AS n_rows,
      quantile_cont(l_extendedprice, 0.5)  AS p50_price,
      quantile_cont(l_extendedprice, 0.95) AS p95_price,
      min(l_extendedprice) AS min_price,
      max(l_extendedprice) AS max_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def sketch_exact_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Two multi-DISTINCT aggregates + a percentile in ONE groupBy would
    # compile to an Expand that triplicates every input row (measured 2×
    # slower than two passes at sf0.1). Round 12 also removed the
    # remaining two-column-distinct Expand (guide §2.4): each
    # count(DISTINCT col) is a two-level aggregate — partial-dedup by
    # (flag, col) map-side, then count the per-flag group rows — so no
    # operator ever multiplies the input rows (A/B at a synthetic 6M
    # rows: Expand 4.09 s vs two-level 2.44 s; bit-equal results pinned
    # against the count_distinct formulation in tests/test_sketches.py).
    # count() of the grouped column skips NULL groups exactly like
    # count(DISTINCT); n_rows = sum of per-(flag, partkey) counts ≡
    # count(*).
    d_parts = (
        li.groupBy("l_returnflag", "l_partkey")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy("l_returnflag")
        .agg(
            F.count("l_partkey").alias("n_parts"),
            F.sum("__c").alias("n_rows"),
        )
    )
    d_supp = (
        li.select("l_returnflag", "l_suppkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count("l_suppkey").alias("n_suppliers"))
    )
    distincts = d_parts.join(d_supp, "l_returnflag").select(
        "l_returnflag", "n_parts", "n_suppliers", "n_rows"
    )
    # exact_percentiles ≡ F.percentile bit-for-bit (same interpolation,
    # differential-tested) at half the cost — see its docstring
    percentiles = exact_percentiles(
        li,
        "l_returnflag",
        "l_extendedprice",
        [(0.5, "p50_price"), (0.95, "p95_price")],
    ).withColumnsRenamed({"__mn": "min_price", "__mx": "max_price"})
    # The sketch battery's bounded-error agreement with this exact twin is
    # pinned in tests/test_sketches.py — NOT here: an in-query self-check
    # would pay a second full lineitem scan + aggregate on every bench and
    # driver invocation for a guarantee pytest already provides (same
    # rationale as cosine_topk's exact-vs-BLAS split).
    return distincts.join(percentiles, "l_returnflag")


# ---------------------------------------------------------------------------
# Sketch battery (estimates are implementation-specific so there is no
# DuckDB twin): HLL++ distinct counts + bounded-memory mergeable percentile
# sketches. Accuracy vs the exact twin asserted in tests/test_sketches.py.
# ---------------------------------------------------------------------------
def sketch_approx_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("n_parts_approx"),
        F.approx_count_distinct("l_suppkey", rsd=0.01).alias("n_suppliers_approx"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50_price_approx"),
        F.percentile_approx("l_extendedprice", 0.95, 10000).alias("p95_price_approx"),
        F.count(F.lit(1)).alias("n_rows"),
    )
