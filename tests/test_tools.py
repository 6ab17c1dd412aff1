"""The command-line tools and bench.py stay importable, do no work at
import, and every engine name they import still exists; every public
engine function or class is reached from code outside the tests; each
twinned vector operation is spelled in one place per engine; driver-side
rows become a DataFrame in one place."""

from __future__ import annotations

import ast
import importlib
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SCRIPTS = [REPO / "bench.py", *sorted((REPO / "tools").glob("*.py"))]
LOCAL = {"tempeh_spark", "perfbench", "bench", "__spark_entry__"}
ENGINE = sorted((REPO / "tempeh_spark").glob("*.py"))
NON_TEST = [
    REPO / "__spark_entry__.py",
    *SCRIPTS,
    *sorted((REPO / "perfbench").glob("*.py")),
    *ENGINE,
]
# public engine code that no query, job or tool reaches, kept on purpose
UNREACHED_KEPT = {
    ("clustering", "kmeans_fit"): "Lloyd's loop; the kmeans_update gate checks one of its steps",
    ("pipeline", "partition_metrics"): "the on-demand lineage rollup the pipeline docstring documents",
    ("similarity", "lsh_signature"): "the per-row reference band_buckets_udf is tested against",
}


def test_import_does_no_work():
    # a fresh interpreter: no Spark session may start and nothing may print
    probe = (
        "import importlib.util, sys\n"
        "for path in sys.argv[1:]:\n"
        "    name = path.rsplit('/', 1)[-1][:-3]\n"
        "    spec = importlib.util.spec_from_file_location(name, path)\n"
        "    spec.loader.exec_module(importlib.util.module_from_spec(spec))\n"
        "from pyspark import SparkContext\n"
        "assert SparkContext._active_spark_context is None\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe, *map(str, SCRIPTS)],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout == ""


def test_imported_engine_names_exist():
    # tools import the engine inside main(); a deleted name fails only when
    # the tool runs, so resolve every `from <local module> import name` here
    for path in SCRIPTS:
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.ImportFrom) or node.level:
                continue
            if node.module.split(".")[0] not in LOCAL:
                continue
            module = importlib.import_module(node.module)
            for alias in node.names:
                assert hasattr(module, alias.name), f"{path.name}: {node.module}.{alias.name}"


def test_profile_suite_help():
    out = subprocess.run(
        [sys.executable, "tools/profile_suite.py", "--help"],
        cwd=REPO, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert "--sf-dir" in out.stdout and "--tag" in out.stdout


def _code_refs(node: ast.AST) -> set[str]:
    """Names ``node`` uses as code: names, attributes and imported names
    (docstrings and comments do not count)."""
    refs = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            refs.add(n.id)
        elif isinstance(n, ast.Attribute):
            refs.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            refs.update(a.name for a in n.names)
    return refs


def unreached_engine_code(kept=UNREACHED_KEPT) -> set[tuple[str, str]]:
    """(module, name) of every top-level public function or class in
    ``tempeh_spark``, outside ``kept``, that no other top-level statement of
    a non-test file references; the references of unreached code do not
    count."""
    stmts = []  # (module, name or None, refs) per top-level statement
    for path in NON_TEST:
        module = path.stem if path.parent.name == "tempeh_spark" else None
        for node in ast.parse(path.read_text()).body:
            public_def = (
                module is not None
                and isinstance(node, (ast.FunctionDef, ast.ClassDef))
                and not node.name.startswith("_")
            )
            stmts.append((module, node.name if public_def else None, _code_refs(node)))
    defs = {(m, n) for m, n, _ in stmts if n} - set(kept)
    dead: set[tuple[str, str]] = set()
    while True:
        live = [(m, n, r) for m, n, r in stmts if (m, n) not in dead]
        now = {d for d in defs if not any(d[1] in r for m, n, r in live if (m, n) != d)}
        if now == dead:
            return dead
        dead = now


def test_engine_code_is_reached_outside_tests():
    # engine code that only tests call is a second code path no job runs
    assert unreached_engine_code() == set()
    # the kept ones are still unreached; once code reaches one, drop it above
    assert unreached_engine_code(kept={}) == set(UNREACHED_KEPT)


def unused_engine_imports() -> set[tuple[str, str]]:
    """(module, name) of every module-level import in ``tempeh_spark`` whose
    bound name the module never uses and does not list in ``__all__``."""
    unused = set()
    for path in ENGINE:
        tree = ast.parse(path.read_text())
        bound, exported = set(), set()
        for node in tree.body:
            if isinstance(node, ast.Import):
                bound.update(a.asname or a.name.split(".")[0] for a in node.names)
            elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
                bound.update(a.asname or a.name for a in node.names)
            elif isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
            ):
                exported.update(ast.literal_eval(node.value))
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        unused.update((path.stem, name) for name in bound - used - exported)
    return unused


def test_engine_imports_are_used():
    # no linter runs here, so an import left behind by a deletion stays
    # until something checks: every module-level import must be used
    assert unused_engine_imports() == set()


def source_homes(path: Path, needle: str) -> set[str]:
    """The top-level statements of ``path`` whose source holds ``needle``:
    a function or class by its name, an assignment by its target."""
    text = path.read_text()
    homes = set()
    for node in ast.parse(text).body:
        if needle not in ast.get_source_segment(text, node):
            continue
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            homes.add(node.name)
        elif isinstance(node, ast.Assign) and isinstance(node.targets[0], ast.Name):
            homes.add(node.targets[0].id)
        else:
            homes.add(f"{path.name}:{node.lineno}")
    return homes


# the spelling of each twinned vector operation -> the one helper that holds it
VECTOR_SQL_HOMES = {
    "sqrt(list_dot_product": "_cos_sql",
    "x -> x::DOUBLE": "_emb_cte",
    "AS bucket FROM": "_band_probe_sql",
    "2 * list_dot_product(v": "_nearest_cell_sql",
}
# 2**20 may be spelled out only by the fixed-point mean; the HLL oracle's
# 2**w register units (w = 20) are another constant
GRID_HOMES = {"GRID_BITS", "grid_mean", "_grid_mean_sql", "_oracle_hll_distinct"}


def test_vector_twins_have_one_home():
    # an inline copy of a twinned operation can drift from its helper and
    # from the other engine; every copy must go through the helper
    files = [REPO / "__spark_entry__.py", *ENGINE]

    def homes(needle: str) -> set[str]:
        return set().union(*(source_homes(path, needle) for path in files))

    for needle, helper in VECTOR_SQL_HOMES.items():
        assert homes(needle) == {helper}, needle
    assert homes("1048576") <= GRID_HOMES
    # the hyperplane matrix, and so the sign fold's planes, is built in one place
    vecmath = ast.parse((REPO / "tempeh_spark" / "vecmath.py").read_text())
    callers = {
        getattr(node, "name", node.lineno)
        for node in vecmath.body
        for n in ast.walk(node)
        if isinstance(n, ast.Call) and getattr(n.func, "id", None) == "_hyperplane"
    }
    assert callers == {"_planes"}


def test_local_rows_have_one_home():
    # createDataFrame of a Python list plans as a scan of pickled rows, and
    # the first action over it starts a second Python worker pool; the
    # engine sends driver-side rows through the one Arrow-backed helper
    calls = {
        (path.stem, getattr(node, "name", node.lineno))
        for path in [REPO / "__spark_entry__.py", *ENGINE]
        for node in ast.parse(path.read_text()).body
        for n in ast.walk(node)
        if isinstance(n, ast.Call) and getattr(n.func, "attr", None) == "createDataFrame"
    }
    assert calls == {("session", "local_frame")}
