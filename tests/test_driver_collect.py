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


# Where lake/ may name toArrow(): the one driver-collect gate, and the
# driver-read frame's own toArrow(), which falls back to the JVM one.
_TO_ARROW_OWNERS = {
    ("datafiles.py", "collect_if_small"),
    ("arrowframe.py", "toArrow"),
}


def test_lake_has_one_driver_gate():
    """Static guard: under lake/, only datafiles.collect_if_small
    collects a Spark frame with toArrow() (ArrowFrame.toArrow overrides
    it), nothing reads the environment, and the only size-named
    constants are the driver budget and the listed non-gate caps."""
    problems = []
    for name, tree in _lake_modules():
        owner = {}
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for node in ast.walk(fn):
                    owner.setdefault(node, fn.name)
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "toArrow":
                if (name, owner.get(node)) not in _TO_ARROW_OWNERS:
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


# Calls whose result is Arrow data: pyarrow constructors and readers, the
# shared per-file MOR reader and the table's budgeted driver read over it,
# and the driver-collect helpers; and the table a driver-read ArrowFrame
# holds.
_ARROW_MODULES = {"pa", "pq", "pc", "pyarrow"}
_ARROW_FUNCS = {
    "read_entries_arrow",
    "_driver_read_arrow",
    "collect_if_small",
    "_collect_local",
    "toArrow",
}
_ARROW_ATTRS = {"arrow_table"}


def _yields_arrow(node, arrow_names) -> bool:
    if isinstance(node, ast.Name):
        return node.id in arrow_names
    if isinstance(node, ast.Attribute):
        return node.attr in _ARROW_ATTRS
    if not isinstance(node, ast.Call):
        return False
    func = node.func
    if isinstance(func, ast.Name):
        return func.id in _ARROW_FUNCS
    if isinstance(func, ast.Attribute):
        if func.attr in _ARROW_FUNCS:
            return True
        root = func.value
        while isinstance(root, ast.Attribute):
            root = root.value
        return isinstance(root, ast.Name) and root.id in _ARROW_MODULES
    return False


def _arrow_frames(tree):
    """(function name, line) of every createDataFrame call whose data
    argument is Arrow: an Arrow-producing call, or a name such a call (or
    another such name) was assigned in the same function."""
    found = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        arrow_names: set[str] = set()
        for node in ast.walk(fn):
            if isinstance(node, ast.Assign) and _yields_arrow(node.value, arrow_names):
                arrow_names |= {t.id for t in node.targets if isinstance(t, ast.Name)}
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and node.args
                and _yields_arrow(node.args[0], arrow_names)
            ):
                found.append((fn.name, node.lineno))
    return found


def test_arrow_frame_guard_detects_arrow_data():
    src = '''
def ok(spark, rows):
    return spark.createDataFrame(rows, "a long")

def direct(spark):
    return spark.createDataFrame(pa.table({"a": [1]}))

def named(spark, meta):
    t = read_entries_arrow(meta, [], [], None)
    u = t
    return spark.createDataFrame(u, "a long")

def held(self):
    return self._session.createDataFrame(self.arrow_table, self._struct)
'''
    assert [name for name, _ in _arrow_frames(ast.parse(src))] == [
        "direct",
        "named",
        "held",
    ]


def test_lake_builds_arrow_frames_in_one_helper():
    """Static guard: under lake/, a Spark frame is built over Arrow data
    (createDataFrame of a pyarrow Table, a driver-held LocalRelation) only
    by the driver-read frame's lazy materializer, ArrowFrame._materialize:
    a driver read's rows enter the JVM only when a caller composes its
    frame."""
    owners = [
        (name, fn) for name, tree in _lake_modules() for fn, _ in _arrow_frames(tree)
    ]
    assert owners == [("arrowframe.py", "_materialize")]


# The scan plan's decisions (lake/scanplan.py): the manifest-level skip,
# delete-file scoping and the per-data-file delete index.
_PLANNER_CALLS = {"scoped_manifest", "scope_delete_files", "_delete_index"}


def _package_modules():
    pkg_dir = os.path.dirname(LAKE_DIR)
    for root, _, names in sorted(os.walk(pkg_dir)):
        for name in sorted(names):
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path, encoding="utf-8") as f:
                    tree = ast.parse(f.read(), filename=path)
                yield os.path.relpath(path, pkg_dir), tree


def _planner_calls(tree):
    """(function, callee) of every call to one of _PLANNER_CALLS, by bare
    name or as an attribute; the function is the outermost enclosing
    def (None at module level)."""
    owner = {}
    for fn in ast.walk(tree):
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for node in ast.walk(fn):
                owner.setdefault(node, fn.name)
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            func = node.func
            name = func.id if isinstance(func, ast.Name) else getattr(func, "attr", None)
            if name in _PLANNER_CALLS:
                found.append((owner.get(node), name))
    return found


def test_planner_guard_detects_planner_calls():
    src = '''
def plan_scan(meta, snap):
    return meta.scoped_manifest(snap, None), scope_delete_files([], [])

def partitions(meta, snap):
    def inner():
        return _delete_index([], {})
    return pruning.scope_delete_files([], []), inner

scoped = meta.scoped_manifest(None, None)
'''
    assert sorted(_planner_calls(ast.parse(src)), key=str) == sorted(
        [
            ("plan_scan", "scoped_manifest"),
            ("plan_scan", "scope_delete_files"),
            ("partitions", "_delete_index"),
            ("partitions", "scope_delete_files"),
            (None, "scoped_manifest"),
        ],
        key=str,
    )


def test_scan_plan_is_the_one_planner():
    """Static guard: under the package, the manifest-level skip
    (metadata.scoped_manifest), delete-file scoping
    (pruning.scope_delete_files) and the per-file delete index are each
    called once, by scanplan.plan_scan: every reader takes candidate
    files and per-file deletes from the plan, so no second planner grows
    back."""
    calls = sorted(
        (path, fn, name)
        for path, tree in _package_modules()
        for fn, name in _planner_calls(tree)
    )
    assert calls == [
        (os.path.join("lake", "scanplan.py"), "plan_scan", name)
        for name in sorted(_PLANNER_CALLS)
    ]
