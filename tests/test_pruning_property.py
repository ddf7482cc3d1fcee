"""Property-based soundness proof for manifest file pruning.

Round-1 advice found an unsound-prune bug class (timestamp stats stored
with a 'T' separator compared lexicographically against space-separated
SQL literals silently skipped matching files — retained PII). This test
makes that whole class unrepresentable going forward: for RANDOM data and
RANDOM predicates, any file `candidate_files` drops must provably contain
zero matching rows, where ground truth is DuckDB evaluating the same SQL
predicate over the same parquet bytes.

The path exercised is the real one: rows → pyarrow parquet → footer-stats
harvest (`datafiles._footer_stats`) → JSON-roundtripped ManifestEntry
(`_jsonable`, the isoformat edge) → `pruning.candidate_files`. No Spark
session needed, so hypothesis can afford hundreds of examples.
"""

from __future__ import annotations

import datetime as dt
import os
import tempfile

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import given, settings
from hypothesis import strategies as st

from demo_iceberg_permanent_delete_spark.lake.datafiles import (
    _footer_stats,
    _jsonable,
)
from demo_iceberg_permanent_delete_spark.lake.metadata import ManifestEntry
from demo_iceberg_permanent_delete_spark.lake.pruning import candidate_files

# Small value pools force boundary collisions (min == literal, equal mins
# across files) far more often than uniform randomness would. The >16-char
# strings exercise the truncated-bound path (_truncate_lower/_truncate
# _upper): literals longer than the stored bounds, values sharing a 16-char
# prefix, and a prefix ending at the upper-bound rounding character.
STRS = st.sampled_from(
    [
        "",
        "a",
        "ab",
        "b'c",
        "it's",
        "zz",
        "Z",
        "a" * 20,
        "a" * 16 + "b",
        "a" * 15 + "b" + "c" * 10,
        "b" * 40,
        "zz" + "y" * 30,
    ]
)
INTS = st.integers(-5, 15)
TS = st.sampled_from(
    [
        dt.datetime(2024, 6, d, h, 0, 0)
        for d in (1, 2, 5)
        for h in (0, 12, 23)
    ]
)


def _nullable(vals):
    return st.one_of(st.none(), vals)


ROWS = st.lists(
    st.tuples(_nullable(INTS), _nullable(STRS), _nullable(TS)),
    min_size=1,
    max_size=10,
)
FILES = st.lists(ROWS, min_size=1, max_size=4)


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _sql_ts(t: dt.datetime) -> str:
    # Space separator on purpose: the stats side stores isoformat ('T');
    # comparing the two as raw strings was the round-1 unsoundness.
    return "TIMESTAMP '" + t.strftime("%Y-%m-%d %H:%M:%S") + "'"


OPS = st.sampled_from(["=", "<", "<=", ">", ">="])

ATOM = st.one_of(
    st.builds(lambda o, v: f"i {o} {v}", OPS, INTS),
    st.builds(lambda o, v: f"i {o} {v}.5", OPS, INTS),
    st.builds(lambda o, v: f"s {o} {_sql_str(v)}", OPS, STRS),
    st.builds(lambda o, v: f"t {o} {_sql_ts(v)}", OPS, TS),
    st.builds(
        lambda a, b: f"i BETWEEN {min(a, b)} AND {max(a, b)}", INTS, INTS
    ),
    st.builds(
        lambda a, b: f"t BETWEEN {_sql_ts(min(a, b))} AND {_sql_ts(max(a, b))}",
        TS,
        TS,
    ),
    st.builds(
        lambda vs: "i IN (" + ", ".join(map(str, vs)) + ")",
        st.lists(INTS, min_size=1, max_size=3),
    ),
    st.builds(
        lambda vs: "s IN (" + ", ".join(_sql_str(v) for v in vs) + ")",
        st.lists(STRS, min_size=1, max_size=3),
    ),
    st.sampled_from(
        ["i IS NULL", "i IS NOT NULL", "s IS NULL", "t IS NOT NULL"]
    ),
)
# AND/OR trees: conjunctions, disjunctions, and the two paren shapes that
# exercise SQL precedence (AND tighter than OR) both ways. DuckDB evaluates
# the identical text, so any precedence or paren-stripping bug in
# _expr_can_match shows up as an unsound prune here.
_CONJ = st.lists(ATOM, min_size=1, max_size=3).map(" AND ".join)
_DISJ = st.lists(ATOM, min_size=2, max_size=3).map(" OR ".join)
PREDICATE = st.one_of(
    _CONJ,
    _DISJ,
    st.builds(lambda d, a: f"({d}) AND {a}", _DISJ, ATOM),
    st.builds(lambda a, b, c: f"{a} OR ({b} AND {c})", ATOM, ATOM, ATOM),
    st.builds(lambda a, b, c: f"{a} OR {b} AND {c}", ATOM, ATOM, ATOM),
    st.builds(lambda d1, d2: f"(({d1})) AND ({d2})", _DISJ, _DISJ),
)

SCHEMA = pa.schema(
    [
        pa.field("i", pa.int64()),
        pa.field("s", pa.string()),
        pa.field("t", pa.timestamp("us")),
    ]
)

_CON = duckdb.connect()


@settings(max_examples=150, deadline=None)
@given(files=FILES, pred=PREDICATE)
def test_pruned_files_provably_contain_no_matches(files, pred):
    tmp = tempfile.mkdtemp(prefix="prune_prop_")
    try:
        entries = []
        matches = {}
        for idx, rows in enumerate(files):
            path = os.path.join(tmp, f"f{idx}.parquet")
            table = pa.Table.from_pylist(
                [{"i": i, "s": s, "t": t} for (i, s, t) in rows],
                schema=SCHEMA,
            )
            pq.write_table(table, path)
            n_rows, mins, maxs, nulls = _footer_stats(path)
            entries.append(
                ManifestEntry(
                    file_path=path,
                    content=0,
                    record_count=n_rows,
                    file_size_in_bytes=os.path.getsize(path),
                    min_values={k: _jsonable(v) for k, v in mins.items()},
                    max_values={k: _jsonable(v) for k, v in maxs.items()},
                    null_counts=dict(nulls),
                )
            )
            (matches[path],) = _CON.execute(
                f"SELECT count(*) FROM read_parquet('{path}') WHERE {pred}"
            ).fetchone()

        kept = {e.file_path for e in candidate_files(entries, pred)}
        for e in entries:
            if e.file_path not in kept:
                assert matches[e.file_path] == 0, (
                    f"UNSOUND PRUNE: {e.file_path} dropped for predicate "
                    f"{pred!r} but contains {matches[e.file_path]} matching "
                    f"rows (stats min={e.min_values} max={e.max_values} "
                    f"nulls={e.null_counts})"
                )
        # and pruning must never lose matches overall
        assert sum(matches[p] for p in kept) == sum(matches.values())
    finally:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)


def test_vectorized_candidate_files_equals_scalar_property():
    """The compiled/vectorized candidate_files (round-7 verdict item 5)
    must produce EXACTLY the scalar evaluator's candidate set for random
    entries (numeric/string/temporal/missing/all-null stats) and random
    predicates (cmp/BETWEEN/IN/NULL over AND/OR trees)."""
    from hypothesis import given, settings, strategies as st

    from demo_iceberg_permanent_delete_spark.lake.metadata import ManifestEntry
    from demo_iceberg_permanent_delete_spark.lake.pruning import (
        _compiled,
        candidate_files,
    )

    def entry(i, stats):
        mins, maxs, nulls = stats
        return ManifestEntry(
            file_path=f"f{i}",
            content=0,
            record_count=10,
            file_size_in_bytes=100,
            min_values=mins,
            max_values=maxs,
            null_counts=nulls,
        )

    num_stats = st.tuples(st.integers(-20, 20), st.integers(0, 15)).map(
        lambda t: ({"v": t[0]}, {"v": t[0] + t[1]}, {"v": 0})
    )
    # straddle the float64-exactness boundary (round-8 review catch)
    bigint_stats = st.tuples(
        st.integers(2**53 - 2, 2**53 + 40), st.integers(0, 5)
    ).map(lambda t: ({"v": t[0]}, {"v": t[0] + t[1]}, {"v": 0}))
    float_stats = st.tuples(
        st.floats(-20, 20, allow_nan=False), st.floats(0, 15, allow_nan=False)
    ).map(lambda t: ({"v": t[0]}, {"v": t[0] + t[1]}, {"v": 0}))
    str_stats = st.tuples(st.sampled_from("abcdef"), st.sampled_from("uvwxyz")).map(
        lambda t: ({"v": t[0]}, {"v": t[1]}, {"v": 2})
    )
    date_stats = st.integers(1, 27).map(
        lambda d: (
            {"v": f"2024-06-{d:02d}T08:00:00"},
            {"v": f"2024-06-{min(d + 1, 28):02d}T20:00:00"},
            {"v": 0},
        )
    )
    missing_stats = st.just(({}, {}, {}))
    allnull_stats = st.just(({}, {}, {"v": 10}))
    mixed_bool = st.just(({"v": True}, {"v": True}, {"v": 0}))
    stats_st = st.one_of(
        num_stats, bigint_stats, float_stats, str_stats, date_stats,
        missing_stats, allnull_stats, mixed_bool,
    )

    leaf_st = st.one_of(
        st.tuples(st.sampled_from(["<", "<=", "=", ">", ">="]), st.integers(-25, 25)).map(
            lambda t: f"v {t[0]} {t[1]}"
        ),
        st.tuples(
            st.sampled_from(["<", "<=", "=", ">", ">="]),
            st.integers(2**53 - 2, 2**53 + 40),
        ).map(lambda t: f"v {t[0]} {t[1]}"),
        st.tuples(
            st.sampled_from(["<", "<=", "=", ">", ">="]),
            st.floats(-25, 25, allow_nan=False),
        ).map(lambda t: f"v {t[0]} {t[1]:.3f}"),
        st.sampled_from(
            [
                "v = 'c'",
                "v >= 'w'",
                "v BETWEEN 0 AND 9",
                "v BETWEEN -3 AND 2.5",
                "v BETWEEN DATE '2024-06-05' AND DATE '2024-06-20'",
                "v BETWEEN 'b' AND 'x'",
                "v BETWEEN 3 AND DATE '2024-06-05'",  # mixed kinds: keep
                f"v BETWEEN {2**53 - 1} AND {2**53 + 5}",  # bigint: scalar
                "v IN (1, 2, 3)",
                "v IN (-5, 2.5, 19)",
                f"v IN (3, {2**53 + 1})",  # bigint member: scalar
                "v IN (1, 'x')",  # mixed-kind members: scalar
                "v IS NULL",
                "v IS NOT NULL",
                "v = DATE '2024-06-15'",
                "v < TIMESTAMP '2024-06-10 12:00:00'",
                "other = 5",
                # opaque leaves: kept by both evaluators
                "NOT v = 1",
                "abs(v) = 1",
                "v = 1 + 1",
                "v = 'a\\nb'",
            ]
        ),
    )
    pred_st = st.one_of(
        leaf_st,
        st.tuples(leaf_st, leaf_st).map(lambda t: f"{t[0]} AND {t[1]}"),
        st.tuples(leaf_st, leaf_st).map(lambda t: f"({t[0]}) OR ({t[1]})"),
        st.tuples(leaf_st, leaf_st, leaf_st).map(
            lambda t: f"{t[0]} AND ({t[1]} OR {t[2]})"
        ),
    )

    @settings(max_examples=120, deadline=None)
    @given(stats=st.lists(stats_st, min_size=0, max_size=8), pred=pred_st)
    def run(stats, pred):
        entries = [entry(i, s) for i, s in enumerate(stats)]
        got = {e.file_path for e in candidate_files(entries, pred)}
        parsed = _compiled(pred)
        want = {e.file_path for e in entries if parsed.can_match(e)}
        assert got == want, (pred, got ^ want)

    run()


def test_vectorized_pruning_exact_beyond_float53():
    """Int bounds/literals past 2^53 (epoch-nanos, snowflake ids) must be
    compared exactly, not through the float64 arrays — a strict </> on
    the rounded value wrongly pruned (round-8 review catch)."""
    from demo_iceberg_permanent_delete_spark.lake.metadata import ManifestEntry
    from demo_iceberg_permanent_delete_spark.lake.pruning import candidate_files

    def e(path, lo, hi):
        return ManifestEntry(
            file_path=path,
            content=0,
            record_count=10,
            file_size_in_bytes=1,
            min_values={"v": lo},
            max_values={"v": hi},
            null_counts={"v": 0},
        )

    big = 2**53
    ent = [e("a", big, big), e("b", big + 10, big + 20), e("c", 0, 5)]
    # big literal: 'v < 2^53+1' keeps a (2^53 < 2^53+1), drops b, drops c? no: 0<lit keeps c
    got = {x.file_path for x in candidate_files(ent, f"v < {big + 1}")}
    assert got == {"a", "c"}
    got2 = {x.file_path for x in candidate_files(ent, f"v = {big + 15}")}
    assert got2 == {"b"}
    # small literal against big bounds: exact pruning still applies
    got3 = {x.file_path for x in candidate_files(ent, "v < 5")}
    assert got3 == {"c"}
    nano = 1_700_000_000_000_000_000
    ent2 = [e("t1", nano, nano), e("t2", nano + 1, nano + 5)]
    got4 = {x.file_path for x in candidate_files(ent2, f"v < {nano + 1}")}
    assert got4 == {"t1"}


def test_vectorized_pruning_exact_edges_round8_review():
    """Third review-pass catches: far-date µs precision (float epoch
    seconds collapse past ~2242), NUL-padded string bounds (numpy
    fixed-width unicode strips trailing NULs), huge null counts."""
    from demo_iceberg_permanent_delete_spark.lake.metadata import ManifestEntry
    from demo_iceberg_permanent_delete_spark.lake.pruning import candidate_files

    def e(path, mins, maxs, nulls=None, rc=10):
        return ManifestEntry(
            file_path=path,
            content=0,
            record_count=rc,
            file_size_in_bytes=1,
            min_values=mins,
            max_values=maxs,
            null_counts=nulls or {},
        )

    # far-future timestamps: 1 µs below the literal must KEEP
    far = e("far", {"v": "2300-01-01T00:00:00.000001"},
           {"v": "2300-01-01T00:00:00.000001"})
    got = candidate_files([far], "v < TIMESTAMP '2300-01-01 00:00:00.000002'")
    assert [x.file_path for x in got] == ["far"]
    assert not candidate_files(
        [far], "v < TIMESTAMP '2300-01-01 00:00:00.000001'"
    )
    assert candidate_files(
        [far],
        "v BETWEEN TIMESTAMP '2300-01-01 00:00:00.000001' "
        "AND TIMESTAMP '2300-01-01 00:00:00.000002'",
    )

    # NUL-bearing string bounds: 'a\x00' > 'a' in Python — must KEEP
    nul = e("nul", {"v": "a\x00"}, {"v": "a\x00"})
    assert candidate_files([nul], "v > 'a'")
    assert candidate_files([nul], "v BETWEEN 'a' AND 'b'")
    # NUL in the LITERAL routes the whole leaf to the scalar evaluator
    plain = e("p", {"v": "a"}, {"v": "a"})
    assert not candidate_files([plain], "v > 'a\x00'")

    # null counts past 2^53 compare exactly (IS NOT NULL keeps: nc < rc)
    big = e("big", {}, {}, nulls={"v": 2**53}, rc=2**53 + 1)
    assert candidate_files([big], "v IS NOT NULL")
    sat = e("sat", {}, {}, nulls={"v": 2**53}, rc=2**53)
    assert not candidate_files([sat], "v IS NOT NULL")
