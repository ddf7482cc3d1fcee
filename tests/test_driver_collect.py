"""The lake layer's one driver-collect policy (lake/datafiles.py:
DRIVER_MAX_ROWS, collect_if_small): a row-multiplying plan never brings
more than budget + 1 rows to the driver, and no module under lake/ grows
its own driver/executor gate again."""

from __future__ import annotations

import ast
import os
import re

import pandas as pd

from demo_iceberg_permanent_delete_spark.lake import Catalog, datafiles

LAKE_DIR = os.path.dirname(datafiles.__file__)


def _triple(batches):
    for b in batches:
        yield pd.concat([b, b.assign(id=b.id + 1000), b.assign(id=b.id + 2000)])


def test_row_multiplying_insert_probe_is_bounded(spark, tmp_path, monkeypatch):
    """A mapInPandas insert that triples its rows: with the budget under
    its output, at most budget + 1 rows reach the driver (the old
    substring blacklist missed MapInPandas and collected the whole
    output) and the executor write produces the same table as the
    default budget's driver-side write."""
    src = spark.range(0, 100, numPartitions=2)
    frame = src.mapInPandas(_triple, "id long")
    dataframe_cls = type(frame)
    real_to_arrow = dataframe_cls.toArrow
    collected: list[int] = []

    def spy(self):
        table = real_to_arrow(self)
        collected.append(table.num_rows)
        return table

    monkeypatch.setattr(dataframe_cls, "toArrow", spy)

    def insert(budget):
        monkeypatch.setattr(datafiles, "DRIVER_MAX_ROWS", budget, raising=False)
        cat = Catalog(spark, str(tmp_path / f"wh{budget}"))
        cat.create_namespace("default")
        t = cat.create_table("default.m", "id bigint")
        collected.clear()
        t.insert(src.mapInPandas(_triple, "id long"))
        return t, list(collected)

    budget = 50
    small, small_collects = insert(budget)
    assert small_collects and max(small_collects) <= budget + 1
    default, default_collects = insert(100_000)
    assert default_collects == [300]  # driver path: the whole output

    def rows(t):
        return sorted(r["id"] for r in t.read().collect())

    want = sorted(i + d for i in range(100) for d in (0, 1000, 2000))
    assert rows(small) == rows(default) == want
    assert len(small.metadata.current_snapshot().data_files()) == len(
        default.metadata.current_snapshot().data_files()
    )


# Names a size gate would take; the module-level constants under lake/
# that match and are not driver-collect gates: caps on what a manifest
# records, file and broadcast sizes, and the unlink fan-out.
_GATE_NAME = re.compile(
    r"_?[A-Z0-9_]*(MAX|MIN|THRESHOLD|_BYTES|_ROWS|_ENTRIES)[A-Z0-9_]*"
)
_NON_GATE_CAPS = {
    "_BROADCAST_DELETES_MAX_BYTES",
    "_MAX_REFERENCED_FILES",
    "_COLUMNS_HARVEST_MAX",
    "_DELTA_BOUNDS_MAX_COLS",
    "TARGET_FILE_SIZE_BYTES",
    "DEFAULT_BROADCAST_THRESHOLD",
    "PARALLEL_DELETE_MIN",
}


def _lake_modules():
    for name in sorted(os.listdir(LAKE_DIR)):
        if name.endswith(".py"):
            path = os.path.join(LAKE_DIR, name)
            with open(path, encoding="utf-8") as f:
                yield name, ast.parse(f.read(), filename=path)


def test_lake_has_one_driver_gate():
    """Static guard: under lake/, only datafiles.collect_if_small
    collects a Spark frame with toArrow(), nothing reads the environment,
    and the only size-named constants are the driver budget and the
    listed non-gate caps."""
    problems = []
    for name, tree in _lake_modules():
        owner = {}
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for node in ast.walk(fn):
                    owner.setdefault(node, fn.name)
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "toArrow":
                if (name, owner.get(node)) != ("datafiles.py", "collect_if_small"):
                    problems.append(f"{name}:{node.lineno} toArrow() outside collect_if_small")
            if isinstance(node, ast.Attribute) and node.attr in ("environ", "getenv"):
                problems.append(f"{name}:{node.lineno} reads os.{node.attr}")
        for stmt in tree.body:
            targets = (
                stmt.targets
                if isinstance(stmt, ast.Assign)
                else [stmt.target]
                if isinstance(stmt, ast.AnnAssign)
                else []
            )
            for target in targets:
                if not isinstance(target, ast.Name):
                    continue
                const = target.id
                if not _GATE_NAME.fullmatch(const):
                    continue
                allowed = _NON_GATE_CAPS | (
                    {"DRIVER_MAX_ROWS", "DRIVER_MAX_PLAN_BYTES"}
                    if name == "datafiles.py"
                    else set()
                )
                if const not in allowed:
                    problems.append(
                        f"{name}:{stmt.lineno} new size constant {const}: "
                        "use datafiles.fits_driver / collect_if_small"
                    )
    assert not problems, "\n".join(problems)
