"""Tooling guard (no Spark): every script under tools/ compiles, and
every tools/<file> path the docs or the package's docstrings name
exists — deleting a script without updating its references fails here
instead of leaving a dangling pointer."""

from __future__ import annotations

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
