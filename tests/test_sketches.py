"""The approx sketch battery (X8) must agree with its hash-checked exact
twin within bounded error — the accuracy contract that used to run as an
in-query self-check (moved here so the bench/driver entry doesn't pay a
second full scan per invocation; same split as cosine_topk vs BLAS)."""

from __future__ import annotations

from demo_iceberg_permanent_delete_spark.operators.sketches import (
    sketch_approx_summary,
    sketch_exact_summary,
)
from tests.conftest import SF_ORACLE


def test_approx_battery_tracks_exact_twin(spark):
    exact = {
        r["l_returnflag"]: r
        for r in sketch_exact_summary(spark, SF_ORACLE).collect()
    }
    approx = {
        r["l_returnflag"]: r
        for r in sketch_approx_summary(spark, SF_ORACLE).collect()
    }
    assert set(exact) == set(approx) and exact
    for flag, r in exact.items():
        a = approx[flag]
        assert abs(a["n_parts_approx"] - r["n_parts"]) <= 0.05 * r["n_parts"]
        assert (
            abs(a["n_suppliers_approx"] - r["n_suppliers"])
            <= 0.05 * r["n_suppliers"]
        )
        spread = r["max_price"] - r["min_price"]
        assert abs(a["p50_price_approx"] - r["p50_price"]) <= 0.05 * spread
        assert abs(a["p95_price_approx"] - r["p95_price"]) <= 0.05 * spread
        assert a["n_rows"] == r["n_rows"]


def test_exact_percentiles_bit_identical_to_aggregate(spark):
    """The single-sorted-pass exact_percentiles must reproduce Spark's
    percentile aggregate BIT-FOR-BIT (it feeds the hash-checked
    sketch_exact_summary row) — including integral positions (q=0.0/1.0),
    fractional interpolation, and 1-row groups."""
    from pyspark.sql import functions as F

    from demo_iceberg_permanent_delete_spark.operators.sketches import (
        exact_percentiles,
    )
    from demo_iceberg_permanent_delete_spark.sources.tables import load_table

    for sf in ("/root/testdata/sf0.001", SF_ORACLE):
        li = load_table(spark, sf, "lineitem")
        qs = [(0.0, "q0"), (0.25, "q25"), (0.5, "q50"), (0.95, "q95"), (1.0, "q100")]
        got = sorted(
            map(
                tuple,
                exact_percentiles(li, "l_returnflag", "l_extendedprice", qs)
                .withColumnsRenamed({"__mn": "mn", "__mx": "mx"})
                .collect(),
            )
        )
        want = sorted(
            map(
                tuple,
                li.groupBy("l_returnflag")
                .agg(
                    *[
                        F.percentile("l_extendedprice", q).alias(a)
                        for q, a in qs
                    ],
                    F.min("l_extendedprice").alias("mn"),
                    F.max("l_extendedprice").alias("mx"),
                )
                .collect(),
            )
        )
        assert got == want

    # 1-row groups: position is always integral, no interpolation branch
    from tests.conftest import one_part

    tiny = one_part(
        spark,
        [("a", 3.5), ("b", 1.25)],
        "g string, v double",
    )
    got = sorted(
        map(
            tuple,
            exact_percentiles(tiny, "g", "v", [(0.5, "q50")]).collect(),
        )
    )
    assert got == [("a", 3.5, 3.5, 3.5), ("b", 1.25, 1.25, 1.25)]


def test_exact_percentiles_ignores_nulls_like_aggregate(spark):
    """NULL values must be IGNORED exactly like F.percentile/min/max
    (round-11 advisor finding: unfiltered, row_number would rank nulls
    first and shift every percentile position)."""
    from pyspark.sql import functions as F

    from demo_iceberg_permanent_delete_spark.operators.sketches import (
        exact_percentiles,
    )
    from tests.conftest import one_part

    df = one_part(
        spark,
        [("a", None), ("a", 2.0), ("a", 1.0), ("a", None), ("a", 4.0),
         ("b", 10.0), ("b", None)],
        "g string, v double",
    )
    got = sorted(
        map(
            tuple,
            exact_percentiles(
                df, "g", "v", [(0.25, "q25"), (0.5, "q50")]
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            df.groupBy("g")
            .agg(
                F.percentile("v", F.lit(0.25)).alias("q25"),
                F.percentile("v", F.lit(0.5)).alias("q50"),
                F.min("v").alias("mn"),
                F.max("v").alias("mx"),
            )
            .collect(),
        )
    )
    assert got == want


def test_exact_percentiles_keeps_all_null_groups_like_aggregate(spark):
    """A group whose values are all NULL is a row of F.percentile's output
    with NULL percentiles, min and max; exact_percentiles must emit it
    too, next to a mixed-null group and a single-value group."""
    from pyspark.sql import functions as F

    from demo_iceberg_permanent_delete_spark.operators.sketches import (
        exact_percentiles,
    )
    from tests.conftest import one_part

    df = one_part(
        spark,
        [("all_null", None), ("all_null", None), ("mixed", 3.0),
         ("mixed", None), ("mixed", 1.0), ("mixed", None), ("mixed", 7.0),
         ("one", 5.0), ("one_null", None)],
        "g string, v double",
    )
    qs = [(0.0, "q0"), (0.25, "q25"), (0.5, "q50"), (0.9, "q90"), (1.0, "q100")]
    got = sorted(map(tuple, exact_percentiles(df, "g", "v", qs).collect()))
    want = sorted(
        map(
            tuple,
            df.groupBy("g")
            .agg(
                *[F.percentile("v", F.lit(q)).alias(a) for q, a in qs],
                F.min("v").alias("mn"),
                F.max("v").alias("mx"),
            )
            .collect(),
        )
    )
    assert got == want
    assert ("all_null", *[None] * 7) in got


def test_two_level_distincts_match_count_distinct(spark):
    """sketch_exact_summary's Expand-free two-level distinct aggregates
    must equal the count_distinct formulation they replaced (kept
    verbatim here), at every SF the driver checks."""
    from pyspark.sql import functions as F

    from demo_iceberg_permanent_delete_spark.operators.sketches import (
        sketch_exact_summary,
    )
    from demo_iceberg_permanent_delete_spark.sources.tables import load_table

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        sf_dir = f"/root/testdata/{sf}"
        li = load_table(spark, sf_dir, "lineitem")
        old = sorted(
            map(
                tuple,
                li.groupBy("l_returnflag")
                .agg(
                    F.count_distinct("l_partkey").alias("n_parts"),
                    F.count_distinct("l_suppkey").alias("n_suppliers"),
                    F.count(F.lit(1)).alias("n_rows"),
                )
                .collect(),
            )
        )
        new = sorted(
            map(
                tuple,
                sketch_exact_summary(spark, sf_dir)
                .select("l_returnflag", "n_parts", "n_suppliers", "n_rows")
                .collect(),
            )
        )
        assert new == old, (sf, new, old)
