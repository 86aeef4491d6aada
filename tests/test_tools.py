"""Tooling guard (no Spark): every script under tools/ compiles, and
every tools/<file> path the docs or the package's docstrings name
exists — deleting a script without updating its references fails here
instead of leaving a dangling pointer. The package's environment knobs
are pinned here too."""

from __future__ import annotations

import ast
import compileall
import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(REPO, "tools")
_TOOL_REF = re.compile(r"\btools/([A-Za-z0-9_]+\.(?:py|sh))\b")


def _referencing_files() -> list[str]:
    files = [os.path.join(REPO, "README.md"), os.path.join(REPO, "COVERAGE.md")]
    files += [os.path.join(REPO, "bench.py"), os.path.join(REPO, "__spark_entry__.py")]
    files += glob.glob(os.path.join(REPO, "rml_utils_processor_ts_spark", "**", "*.py"), recursive=True)
    return files


def test_tools_compile():
    assert compileall.compile_dir(TOOLS, quiet=1, force=True, legacy=False, maxlevels=0)


def test_named_tools_exist():
    named = {}
    for path in _referencing_files():
        with open(path, encoding="utf-8") as f:
            for name in _TOOL_REF.findall(f.read()):
                named.setdefault(name, os.path.relpath(path, REPO))
    assert named  # the scan itself found the documented tools
    missing = {n: where for n, where in named.items() if not os.path.exists(os.path.join(TOOLS, n))}
    assert not missing, f"tools named but absent: {missing}"


def test_explain_dump_strips_session_counters():
    """Dumps carry no session-wide ids, so an earlier query's plan change
    cannot shift a later query's dump."""
    import importlib.util

    spec = importlib.util.spec_from_file_location("explain_dump", os.path.join(TOOLS, "explain_dump.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    a = "Exchange hashpartitioning(s#17, 8), ENSURE_REQUIREMENTS, [plan_id=227]\n+- LocalTableScan [n#83L]"
    b = "Exchange hashpartitioning(s#4, 8), ENSURE_REQUIREMENTS, [plan_id=225]\n+- LocalTableScan [n#9L]"
    assert mod.normalize_plan(a) == mod.normalize_plan(b)
    assert mod.normalize_plan(a) == "Exchange hashpartitioning(s#N, 8), ENSURE_REQUIREMENTS, [plan_id=N]\n+- LocalTableScan [n#NL]"


# Every environment variable the package reads. Each is set by the test
# suite, the benchmark or a test that needs a non-default value; a new
# knob must be added here on purpose.
PACKAGE_ENV_KNOBS = {
    "SPARK_GRAFT_CPUS",
    "RML_SPARK_SHUFFLE_PARTITIONS",
    "RML_SPARK_DRIVER_MEM",
    "RML_SPARK_UI",
    "SPARK_LOCAL_DIRS",
    "RML_BROADCAST_MAX_ROWS",
}


def _is_os_attr(node: ast.AST, attr: str) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == attr
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _env_reads(tree: ast.AST) -> list[ast.AST]:
    """Key expressions of every ``os.environ`` / ``os.getenv`` read:
    ``os.environ.get(k)``, ``os.environ[k]``, ``k in os.environ`` and
    ``os.getenv(k)``."""
    keys: list[ast.AST] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and node.args:
            f = node.func
            if _is_os_attr(f, "getenv") or (
                isinstance(f, ast.Attribute) and f.attr == "get" and _is_os_attr(f.value, "environ")
            ):
                keys.append(node.args[0])
        elif isinstance(node, ast.Subscript) and _is_os_attr(node.value, "environ"):
            keys.append(node.slice)
        elif isinstance(node, ast.Compare) and any(_is_os_attr(c, "environ") for c in node.comparators):
            keys.append(node.left)
    return keys


def test_package_env_knob_inventory():
    pkg = os.path.join(REPO, "rml_utils_processor_ts_spark")
    names: set[str] = set()
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        for key in _env_reads(tree):
            rel = os.path.relpath(path, REPO)
            assert isinstance(key, ast.Constant) and isinstance(key.value, str), (
                f"{rel}:{key.lineno} reads the environment with a computed name"
            )
            names.add(key.value)
    assert names == PACKAGE_ENV_KNOBS
