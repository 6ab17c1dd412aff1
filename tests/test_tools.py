"""The command-line tools and bench.py stay importable, do no work at
import, and every engine name they import still exists."""

from __future__ import annotations

import ast
import importlib
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SCRIPTS = [REPO / "bench.py", *sorted((REPO / "tools").glob("*.py"))]
LOCAL = {"tempeh_spark", "perfbench", "bench", "__spark_entry__"}


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
